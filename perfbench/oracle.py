"""DuckDB oracle answers for the registry workloads, cached on disk.

An answer is the digest of the oracle's result after the test suite's
normalization (tests/oracle_utils: columns sorted by name, cells
canonicalized, rows sorted), so a Spark result checks out exactly when
the test suite's oracle comparison would pass. The cache key is the
query name, a hash of its oracle SQL and the data signature; any change
to either recomputes the answer.

Run as a script, it fills the cache for the named queries in its own
process, so DuckDB's memory never counts toward the benchmark's:
    python perfbench/oracle.py <data_dir> <data_sig> <cache.json> <work_dir> q1 q2 ...
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from tests.oracle_utils import _normalize  # noqa: E402

DUCKDB_MEMORY_LIMIT = "4GB"


def digest(columns: list[str], rows: list[tuple]) -> str:
    norm_rows, norm_cols = _normalize(rows, list(columns))
    return hashlib.sha256(repr((norm_cols, norm_rows)).encode()).hexdigest()


def cache_key(name: str, sql: str, data_sig: str) -> str:
    return f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}:{data_sig}"


def load_cache(path: Path) -> dict:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return {}


def fill(data_dir: str, sig: str, cache_path: Path, work_dir: Path, names: list[str]) -> None:
    import duckdb

    import __spark_entry__
    from radient_spark.catalog import TABLES

    sqls = __spark_entry__.oracle_sql()
    cache = load_cache(cache_path)
    tmp = work_dir / "duckdb_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(config={
        "memory_limit": DUCKDB_MEMORY_LIMIT,
        "temp_directory": str(tmp),
        "threads": os.cpu_count() or 1,
    })
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        key = cache_key(name, sqls[name], sig)
        if key in cache:
            continue
        res = con.sql(sqls[name])
        cols = list(res.columns)
        cache[key] = digest(cols, res.fetchall())
        cache_path.write_text(json.dumps(cache, indent=1, sort_keys=True))
    con.close()


if __name__ == "__main__":
    fill(sys.argv[1], sys.argv[2], Path(sys.argv[3]), Path(sys.argv[4]), sys.argv[5:])
