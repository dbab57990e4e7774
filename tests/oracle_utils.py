"""Differential-test harness: Spark result vs DuckDB oracle, mirroring the
driver's order-insensitive, column-name-sorted value comparison."""

from __future__ import annotations

import math
import os
import tempfile

import duckdb

from radient_spark.catalog import TABLES

# An explicit cap below DuckDB's 80%-of-RAM default, with a spill
# directory under Spark's local dirs, so a large oracle spills to disk
# instead of running the shared host out of memory.
DUCKDB_MEMORY_LIMIT = "8GB"


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    local = os.environ.get("SPARK_LOCAL_DIRS", tempfile.gettempdir())
    con = duckdb.connect(
        config={
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "temp_directory": os.path.join(local.split(",")[0], "duckdb_spill"),
        }
    )
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, columns):
    """Sort columns by name, canonicalize cell values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return ("null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return ("f", repr(v))
        if isinstance(v, (int, bool, str)):
            return (type(v).__name__, v)
        return ("o", str(v))

    normd = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(normd), [columns[i] for i in order]


_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}
_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT = {"float", "double"}


def _check_result_types(spark_dtypes, duck_cols, duck_types) -> None:
    """The driver hashes serialized values, so DuckDB returning HUGEINT
    (serializes as float) or DOUBLE where Spark emits BIGINT breaks the
    hash even when every value matches (see CORRECTNESS_r02
    q_quality_filter_report). fetchall() hides this locally (HUGEINT ->
    Python int), so assert on the declared result types instead."""
    spark_map = dict(spark_dtypes)
    for col, dty in zip(duck_cols, duck_types):
        dty = str(dty).upper()
        if dty in ("HUGEINT", "UHUGEINT", "UBIGINT"):
            raise AssertionError(
                f"oracle column {col!r} is {dty}: DuckDB SUM over integers "
                f"widens to HUGEINT which the driver serializes as float — "
                f"wrap the aggregate as CAST(... AS BIGINT)"
            )
        sty = spark_map.get(col)
        if dty.startswith("DECIMAL"):
            raise AssertionError(
                f"oracle column {col!r} is {dty}: the driver serializes "
                f"Spark-side decimals differently from DuckDB-side decimals "
                f"even when values are bit-identical (3/3 decimal-emitting "
                f"queries hash-red in CORRECTNESS_r08) — keep DECIMAL as an "
                f"internal accumulator and final-cast to BIGINT (integral, "
                f"e.g. cents) or DOUBLE on BOTH engines"
            )
        if sty is None:
            continue
        if sty.startswith("decimal"):
            raise AssertionError(
                f"Spark result column {col!r} is {sty}: final registry "
                f"schemas must never carry DecimalType (driver hash "
                f"serialization mismatch) — final-cast to BIGINT or DOUBLE"
            )
        if dty in _DUCK_INT and sty in _SPARK_FLOAT:
            raise AssertionError(
                f"oracle column {col!r} is integer ({dty}) but Spark emits {sty}"
            )
        if dty in _DUCK_FLOAT and sty in _SPARK_INT:
            raise AssertionError(
                f"oracle column {col!r} is float ({dty}) but Spark emits {sty}"
            )


def compare_to_oracle(spark_df, sql: str, sf_dir: str) -> None:
    actual_cols = spark_df.columns
    actual_rows = [tuple(r) for r in spark_df.collect()]
    con = duckdb_conn(sf_dir)
    res = con.sql(sql)
    expected_cols = list(res.columns)
    expected_types = [str(t) for t in res.types]
    expected_rows = res.fetchall()
    con.close()
    _check_result_types(spark_df.dtypes, expected_cols, expected_types)

    assert sorted(actual_cols) == sorted(expected_cols), (
        f"column mismatch: spark={sorted(actual_cols)} oracle={sorted(expected_cols)}"
    )
    a_norm, cols = _normalize(actual_rows, actual_cols)
    e_norm, _ = _normalize(expected_rows, expected_cols)
    assert len(a_norm) == len(e_norm), (
        f"row count mismatch: spark={len(a_norm)} oracle={len(e_norm)}"
    )
    for i, (a, e) in enumerate(zip(a_norm, e_norm)):
        assert a == e, f"row {i} mismatch (cols {cols}):\n  spark : {a}\n  oracle: {e}"
