"""vector_serve: build-once, search-many over a generated corpus, with
writes beside the reads.

Set-up builds and saves an IVF index over the whole corpus and a forest
over a fixed subset. The loop then runs cycles of IVF search batches,
forest search batches, streaming ingest micro-batches and tombstone
deletes (compacting every 2nd delete). A numpy model of the
live set checks every answer: recall@10 against exact search, each
ingested probe vector found at rank 1 by the next IVF search, no
deleted id in any later result, and after each delete the index's live
ids equal to the model's.

The op mix and batch sizes are chosen, not measured: the repository
records no ingest or delete rates. Reads dominate, as in a build-once,
search-many session; a cycle carries the fewest writes that still run
each write path once (one streaming ingest, one tombstone-only delete,
one delete that also compacts), and searches fill the rest of the loop's
time. See perfbench/README.md."""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np

N_CORPUS = 20_000  # 10x the 2,000-row embeddings table
DIM = 64  # the embeddings table's dimension
N_COMPONENTS = 32
CENTER_SCALE = 2.0
FOREST_ROWS = 1_000
N_CELLS = 64
N_PROBES = 8
K = 10
QUERIES_PER_BATCH = 32
INGEST_ROWS = 500
PROBES_PER_INGEST = 4
DELETE_ROWS = 50
RECALL_FLOOR = 0.9
# one cycle, in a fixed order: searches on the clean index, an ingest and
# a search over its new small files, a tombstone delete and searches
# through the tombstones, a delete that also compacts (so compaction runs
# every 2nd delete) and searches over the compacted cells. The
# order is fixed because each search's cost depends on the index state the
# writes before it left; the seed draws the data, queries, ingested rows
# and deleted ids. Cycles per run scale with --seconds, never with speed,
# so every run has the same op mix and sample count.
CYCLE = [
    "ivf_search", "forest_search", "ivf_search",
    "ingest", "ivf_search",
    "delete", "ivf_search",
    "delete_compact", "ivf_search",
]
NOMINAL_CYCLE_S = 20
# a set-up builds both indexes (~20-30 s on 4 cores), so a run sets up
# once: repeating it would not fit the benchmark's time budget
SETUP_REPS = 1


def _unit(X: np.ndarray) -> np.ndarray:
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def exact_topk(ids: np.ndarray, X: np.ndarray, Q: np.ndarray, k: int = K) -> list[set]:
    """Exact cosine top-k over (ids, X) with the index's criterion: score
    rounded to 6 places descending, then id ascending."""
    S = np.round(_unit(Q.astype(np.float64)) @ _unit(X.astype(np.float64)).T, 6)
    out = []
    for s in S:
        order = np.lexsort((ids, -s))[:k]
        out.append(set(ids[order].tolist()))
    return out


def _write(path: Path, ids: np.ndarray, X: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "vector": pa.array(list(X.astype(np.float32)), pa.list_(pa.float32())),
    }), path)


def _files(d: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in d.rglob("*.parquet")} if d.exists() else {}


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


class VectorServe:
    setup_reps = SETUP_REPS

    def __init__(self, run):
        self.run = run
        self.rng = np.random.default_rng(run.seed)
        self.d = run.work / "vector"

    # ------------------------------------------------------------ inputs
    def _draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, N_COMPONENTS, n)
        return (self.centers[lab] + self.rng.normal(size=(n, DIM))).astype(np.float32)

    def prepare(self) -> None:
        shutil.rmtree(self.d, ignore_errors=True)
        (self.d / "corpus").mkdir(parents=True)
        (self.d / "land").mkdir()
        self.centers = self.rng.normal(size=(N_COMPONENTS, DIM)) * CENTER_SCALE
        self.ids = np.arange(N_CORPUS, dtype=np.int64)
        self.X = self._draw(N_CORPUS)
        self.alive = np.ones(N_CORPUS, dtype=bool)
        _write(self.d / "corpus" / "part-0.parquet", self.ids, self.X)
        self.next_id = N_CORPUS
        self.deleted: set[int] = set()
        self.pending_probes: list[tuple[int, np.ndarray]] = []
        self.n_ingests = 0
        self.fq_ids = self.ids[:FOREST_ROWS]
        self.fq_X = self.X[:FOREST_ROWS]
        self.stats: dict[str, list[float]] = {"recall_ivf": [], "recall_forest": []}

    # ------------------------------------------------------------ set-up
    def setup(self, spark) -> dict:
        import time

        from radient_spark.ann import AnnIndex, IvfIndex

        corpus = spark.read.parquet(str(self.d / "corpus"))
        t0 = time.perf_counter()
        ivf = IvfIndex.build(corpus, n_cells=N_CELLS, seed=self.run.seed)
        t1 = time.perf_counter()
        ivf.save(str(self.d / "ivf"))
        t2 = time.perf_counter()
        forest = AnnIndex.build(corpus.filter(f"id < {FOREST_ROWS}"), seed=self.run.seed)
        t3 = time.perf_counter()
        forest.save(str(self.d / "forest"))
        t4 = time.perf_counter()
        # warm-up: one search of each saved index, so that the loop's
        # first search of a kind does not carry the session's first-use
        # costs (the forest is searched once a cycle)
        q = [(0, self._draw(1)[0].tolist())]
        IvfIndex.load(spark, str(self.d / "ivf")).search(q, k=K, n_probes=N_PROBES).collect()
        AnnIndex.load(spark, str(self.d / "forest")).search(q, k=K).collect()
        return {"ann.ivf_build_call_s": t1 - t0, "ann.ivf_save_s": t2 - t1,
                "ann.forest_build_call_s": t3 - t2, "ann.forest_save_s": t4 - t3}

    def schedule(self) -> list[str]:
        return CYCLE * max(1, self.run.seconds // NOMINAL_CYCLE_S)

    # ------------------------------------------------------------ ops
    def op(self, kind: str, opid: str, tr):
        """(body, check, after) of one op. The body is the same code
        traced or not: `tr` is the run's Tracer or the null one. `after`,
        called for traced ops only, reads the status stores."""
        if kind.startswith("delete"):
            return self._delete(opid, tr, compact=kind == "delete_compact")
        return getattr(self, f"_{kind}")(opid, tr)

    def _search_common(self, opid, tr, kind, load, queries, check):
        """load() -> index; index.search(queries) -> rows, in spans
        ann.load, ann.search (construct), plan, exec."""
        probe = self.run.probe
        qlist = [(i, q.tolist()) for i, q in enumerate(queries)]
        index_dir = self.d / ("ivf" if kind == "ivf_search" else "forest")
        kw = {"n_probes": N_PROBES} if kind == "ivf_search" else {}
        st = {"since": probe.executions(), "index_files": len(_files(index_dir))}

        def body():
            with tr.span("op", opid, kind=kind):
                probe.group(f"{opid}.e")
                with tr.span("ann.load", opid) as st["load"]:
                    index = load()
                with tr.span("ann.search", opid) as st["construct"]:
                    df = index.search(qlist, k=K, **kw)
                with tr.span("plan", opid) as st["plan"]:
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec", opid) as st["exec"]:
                    rows = df.collect()
                probe.group("idle")
            return rows

        def after(_rows):
            probe.settle()
            note = self.run.note
            dur = {k: st[k]["end"] - st[k]["start"] for k in ("load", "construct", "plan", "exec")}
            ej = probe.jobs(f"{opid}.e", tr, opid, st["exec"]["id"])
            sm = probe.sql_metrics(st["since"])
            note("ann.load_s", dur["load"])
            note("ann.search_construct_s", dur["construct"])
            note("ann.search_exec_s", dur["plan"] + dur["exec"])
            note("ann.candidates_per_query", sm["join_rows"] / len(qlist))
            note("ann.useful_frac", K * len(qlist) / sm["join_rows"] if sm["join_rows"] else 0.0)
            note("ann.cells_probed", sm["partitions_read"])
            note("ann.files_scanned", sm["files_read"])
            note("ann.index_files", st["index_files"])
            self.run.note_exec(dur["exec"], ej, sm)

        return body, check, after

    def _ivf_search(self, opid, tr):
        from radient_spark.ann import IvfIndex

        Q = self._draw(QUERIES_PER_BATCH)
        probes = self.pending_probes
        self.pending_probes = []
        allq = np.vstack([Q] + [v[None, :] for _, v in probes]) if probes else Q
        live = self.alive
        truth = exact_topk(self.ids[live], self.X[live], Q)
        deleted = set(self.deleted)
        spark = self.run.spark

        def check(rows) -> bool:
            got: dict[int, list[tuple[float, int]]] = {}
            for r in rows:
                got.setdefault(r["qid"], []).append((-r["score"], r["id"]))
            if any(r["id"] in deleted for r in rows):
                return False
            recall = np.mean([len({i for _, i in got.get(q, [])} & truth[q]) / K
                              for q in range(len(Q))])
            self.stats["recall_ivf"].append(float(recall))
            for j, (pid, _) in enumerate(probes):
                hits = sorted(got.get(len(Q) + j, []))
                if not hits or hits[0][1] != pid:
                    return False
            return recall >= RECALL_FLOOR

        return self._search_common(
            opid, tr, "ivf_search",
            lambda: IvfIndex.load(spark, str(self.d / "ivf")), allq, check)

    def _forest_search(self, opid, tr):
        from radient_spark.ann import AnnIndex

        Q = self._draw(QUERIES_PER_BATCH)
        truth = exact_topk(self.fq_ids, self.fq_X, Q)
        spark = self.run.spark

        def check(rows) -> bool:
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["qid"], set()).add(r["id"])
            recall = np.mean([len(got.get(q, set()) & truth[q]) / K for q in range(len(Q))])
            self.stats["recall_forest"].append(float(recall))
            return recall >= RECALL_FLOOR

        return self._search_common(
            opid, tr, "forest_search",
            lambda: AnnIndex.load(spark, str(self.d / "forest")), Q, check)

    def _ingest(self, opid, tr):
        from radient_spark import streaming

        spark, probe = self.run.spark, self.run.probe
        n = INGEST_ROWS
        X = self._draw(n)
        # probe vectors: far from every mixture component, so the next
        # IVF search must find each one as its own top hit
        X[:PROBES_PER_INGEST] = self.rng.normal(size=(PROBES_PER_INGEST, DIM)) * 4 * CENTER_SCALE
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.n_ingests += 1
        _write(self.d / "land" / f"batch-{self.n_ingests:05d}.parquet", ids, X)  # landed
        self.ids = np.concatenate([self.ids, ids])
        self.X = np.vstack([self.X, X])
        self.alive = np.concatenate([self.alive, np.ones(n, dtype=bool)])
        probes = [(int(ids[j]), X[j]) for j in range(PROBES_PER_INGEST)]
        ivf_dir = self.d / "ivf"
        st = {"since": probe.executions(), "files": _files(ivf_dir)}

        def body():
            with tr.span("op", opid, kind="ingest"):
                with tr.span("streaming", opid) as st["stream"]:
                    stream = (spark.readStream.schema("id long, vector array<float>")
                              .parquet(str(self.d / "land")))
                    q = streaming.ivf_ingest_sink(stream, str(ivf_dir), str(self.d / "ingest_ckpt"))
                    q.awaitTermination()
            return q

        def check(q) -> bool:
            # the rows that landed in the index's cell files, not the
            # stream's numInputRows: foreachBatch counts a row once per
            # action the batch function runs on it
            landed = sum(_rows(p) for p in _files(ivf_dir).keys() - st["files"].keys())
            if q.exception() is not None or landed != n:
                raise AssertionError(f"{landed} of {n} ingested rows landed: {q.exception()}")
            self.pending_probes += probes
            return True

        def after(q):
            probe.settle()
            note = self.run.note
            wall = st["stream"]["end"] - st["stream"]["start"]
            ej = probe.jobs(str(q.runId), tr, opid, st["stream"]["id"])
            prog = q.recentProgress
            note("streaming.trigger_s", sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000.0)
            note("streaming.add_batch_s", sum(p["durationMs"].get("addBatch", 0) for p in prog) / 1000.0)
            batches = [p["numInputRows"] for p in prog if p["numInputRows"]]
            note("streaming.rows_per_batch", sum(batches) / max(1, len(batches)))
            self._note_files(st["files"], _files(ivf_dir))
            self.run.note_exec(wall, ej, probe.sql_metrics(st["since"]))

        return body, check, after

    def _delete(self, opid, tr, compact: bool):
        from radient_spark.ann import IvfIndex

        spark, probe = self.run.spark, self.run.probe
        base_alive = np.flatnonzero(self.alive[:N_CORPUS])
        gone = self.rng.choice(base_alive, size=DELETE_ROWS, replace=False)
        self.alive[gone] = False
        self.deleted.update(int(i) for i in gone)
        live = self.ids[self.alive]
        ivf_dir = str(self.d / "ivf")
        st = {"since": probe.executions(), "files": _files(self.d / "ivf")}

        def body():
            with tr.span("op", opid, kind="delete") as st["op"]:
                probe.group(f"{opid}.e")
                with tr.span("ann.tombstone", opid):
                    ids = spark.createDataFrame([(int(i),) for i in gone], "id long")
                    IvfIndex.load(spark, ivf_dir).tombstone_save(ids, ivf_dir)
                if compact:
                    with tr.span("ann.compact", opid) as st["compact"]:
                        IvfIndex.compact(spark, ivf_dir)
                probe.group("idle")
            return True

        def check(_) -> bool:
            # the index's live rows, tombstones applied, must be exactly
            # the model's: none dropped, resurrected or duplicated
            got = IvfIndex.load(spark, ivf_dir).index_df.select("id").toPandas()["id"].to_numpy()
            return len(got) == len(live) and np.array_equal(np.sort(got), np.sort(live))

        def after(_):
            probe.settle()
            wall = st["op"]["end"] - st["op"]["start"]
            ej = probe.jobs(f"{opid}.e", tr, opid, st["op"]["id"])
            if compact:
                self.run.note("ann.compact_s", st["compact"]["end"] - st["compact"]["start"])
            self._note_files(st["files"], _files(self.d / "ivf"))
            self.run.note_exec(wall, ej, probe.sql_metrics(st["since"]))

        return body, check, after

    def _note_files(self, before: dict, after: dict) -> None:
        new = {p: b for p, b in after.items() if p not in before}
        self.run.note("sinks.files_written", len(new))
        self.run.note("sinks.bytes_written", sum(new.values()))

    # ------------------------------------------------------------ end
    def finish(self) -> dict:
        """One more, untimed IVF search batch, so that every write of the
        loop, the last one too, is checked by a search (probes found, no
        deleted id, recall), then summarize recall for the record."""
        from spans import NULL_TRACER
        from stats import run_op

        fn, check, _ = self._ivf_search("final", NULL_TRACER)
        rec = run_op("final_check", fn, check)
        return {
            "final_check": rec.as_dict(),
            "recall_at_10": float(np.mean(self.stats["recall_ivf"])),
            "forest_recall_at_10": float(np.mean(self.stats["recall_forest"])),
        }
