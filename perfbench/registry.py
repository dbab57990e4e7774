"""Registry workloads: whole passes over a fixed set of registry queries on
the sf0.1 tables, each query built then executed, its rows checked
against the DuckDB oracle answer."""

from __future__ import annotations

import random
import subprocess
import sys
from pathlib import Path

from oracle import cache_key, digest, load_cache
from spans import scala_iter

SQL_ANALYTICS = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_regional_revenue",
    "q09_product_profit", "q13_customer_order_counts", "q21_waiting_supplier",
    "q_top3_orders_per_customer", "q_user_sessions", "q_asof_purchase_click",
    "q_cohort_retention", "q_session_funnel", "q_join_size_estimates",
]
CURATION_GRAPH = [
    "q_curation_pipeline_v5", "q_dedup_strategy_comparison", "q_minhash_dup_pairs",
    "q_semdedup_pairs", "q_snm_dedup_pairs", "q_star_dup_groups",
    "q_rolling_fingerprints", "q_bpe_vocab_stats", "q_pagerank_bipartite",
    "q_personalized_pagerank", "q_triangle_count", "q_kcore_suppliers",
]
WARMUP_QUERY = "q01_pricing_summary"
# One pass per this many requested seconds (at least one): the pass count,
# and so the sample count, never depends on speed. A pass takes 25-35 s on
# a 4-core host, so a gated run has one. A traced run pairs every op with an
# untraced twin, so it plans half the passes (at least one).
NOMINAL_PASS_S = 20


class Registry:
    setup_reps = 2

    def __init__(self, run, names: list[str]):
        self.run = run
        self.names = names
        self.data = str(run.data_dir)

    def prepare(self) -> None:
        """Oracle answers, computed in a child process on a cache miss."""
        import __spark_entry__

        sqls = __spark_entry__.oracle_sql()
        cache_path = self.run.work / "oracle_cache.json"
        sig = self.run.signatures["sf0.1"]
        keys = {n: cache_key(n, sqls[n], sig) for n in self.names}
        if any(k not in load_cache(cache_path) for k in keys.values()):
            subprocess.run(
                [sys.executable, str(Path(__file__).with_name("oracle.py")), self.data, sig,
                 str(cache_path), str(self.run.work), *self.names],
                check=True, timeout=900,
            )
        cache = load_cache(cache_path)
        self.expected = {n: cache[k] for n, k in keys.items()}

    def setup(self, spark) -> dict:
        """The sf0.1 tables, then one warm-up query."""
        from radient_spark.catalog import load_tables
        from radient_spark.queries import QUERIES

        load_tables(spark, self.data)
        QUERIES[WARMUP_QUERY][0](spark, self.data).collect()
        return {}

    def schedule(self) -> list[str]:
        rng = random.Random(self.run.seed)
        passes = max(1, self.run.seconds // NOMINAL_PASS_S // (2 if self.run.trace else 1))
        out = []
        for _ in range(passes):
            order = list(self.names)
            rng.shuffle(order)
            out += order
        return out

    def op(self, name: str, opid: str, tr):
        """(body, check, after) of one query. The body is the same code
        traced or not: `tr` is the run's Tracer or the null one. `after`,
        called for traced ops only, reads the status stores."""
        from radient_spark.catalog import load_tables
        from radient_spark.queries import QUERIES

        spark, fn, probe = self.run.spark, QUERIES[name][0], self.run.probe
        expected = self.expected[name]
        st = {"since": probe.executions()}

        def check(out) -> bool:
            cols, rows = out
            return digest(cols, [tuple(r) for r in rows]) == expected

        def body():
            with tr.span("op", opid, kind=name):
                with tr.span("catalog", opid) as st["catalog"]:
                    load_tables(spark, self.data)
                probe.group(f"{opid}.c")
                with tr.span("construct", opid) as st["construct"]:
                    df = fn(spark, self.data)
                with tr.span("plan", opid) as st["plan"]:
                    st["qe"] = df._jdf.queryExecution()
                    st["qe"].executedPlan()
                probe.group(f"{opid}.e")
                with tr.span("exec", opid) as st["exec"]:
                    rows = df.collect()
                probe.group("idle")
            return df.columns, rows

        def after(_out):
            probe.settle()
            note = self.run.note
            dur = {k: st[k]["end"] - st[k]["start"] for k in ("catalog", "construct", "plan", "exec")}
            phases = {kv._1(): kv._2().durationMs() / 1000.0
                      for kv in scala_iter(st["qe"].tracker().phases())}
            cj = probe.jobs(f"{opid}.c", tr, opid, st["construct"]["id"])
            ej = probe.jobs(f"{opid}.e", tr, opid, st["exec"]["id"])
            note("catalog.load_tables_s", dur["catalog"])
            note("queries.construct_s", dur["construct"])
            note("queries.construct_jobs", cj["jobs"])
            note("plan.analyze_s", phases.get("analysis", 0.0))
            note("plan.physical_s", phases.get("optimization", 0.0) + phases.get("planning", 0.0))
            self.run.note_exec(dur["exec"], ej, probe.sql_metrics(st["since"]))

        return body, check, after
