"""Local replica of the driver's Spark-vs-DuckDB correctness compare:
row-count + column names + order-insensitive value comparison (columns sorted
by name, rows sorted by their full tuple, floats rounded to 6 significant
decimals before comparing).

DRIVER-FAITHFUL FETCH PATH (VERDICT r8 item 1): the driver hashes the PANDAS
representation of both frames, so both sides here are materialized through
pandas -- ``spark_df.toPandas()`` and ``duckdb_result.df()`` -- and every
cell is classed by the dtype pandas actually gives it. The old harness
fetched DuckDB rows via ``fetchall()`` (HUGEINT -> Python int), which hid the
exact bug class that kept ``dedup_lsh_recall`` red in CORRECTNESS_r08: a bare
``SUM(CASE ...)`` is HUGEINT in DuckDB, which pandas fetches as float64, so
the driver saw 23.0 vs Spark's int64 23 and hash-mismatched despite equal
values.  Fetching through ``.df()`` makes that oracle fail LOCALLY too (see
tests/test_driver_canon.py::test_uncast_hugeint_sum_fails_locally)."""

from __future__ import annotations

import atexit
import datetime
import math
import os
import shutil
import tempfile
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from aws_glue_etl_sample_hist_spark.catalog import TABLES, table_path
from tests.memory_budget import DUCKDB_MEMORY_LIMIT

FLOAT_DECIMALS = 6


def _norm_cell(v):
    """Canonicalize a cell, keeping the int-class/float-class distinction.

    The driver's canon hashes the pandas representation of each frame, so an
    oracle column fetched as float64 (e.g. DuckDB HUGEINT from SUM(BIGINT))
    never hash-matches a Spark int64 column even when every value is equal
    (6000.0 vs 6000) -- that is exactly how `text_repetition` stayed red for
    two rounds while passing the old value-only local compare. Tagging the
    numeric class here makes int-valued floats fail locally too. Decimals
    join the float class because pandas fetches DuckDB DECIMAL as float64."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", round(v, FLOAT_DECIMALS))
    # temporals: pandas hands back Timestamp on one path and datetime.date on
    # the other depending on engine; class them together at day precision so
    # a DATE and its midnight TIMESTAMP compare equal (both drivers' rows for
    # date-keyed queries have stayed green under that equivalence).
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, datetime.date):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def _pdf_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Row tuples via per-column ``Series.tolist()`` so each cell carries the
    Python type pandas' dtype implies (int64 -> int, float64 -> float,
    datetime64 -> Timestamp): the same information the driver's hash sees."""
    cols = [pdf[c].tolist() for c in pdf.columns]
    n = len(pdf)
    return [tuple(col[i] for col in cols) for i in range(n)]


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per catalog table of ``sf_dir``.

    It holds to the test memory budget (``tests/memory_budget.py``) and
    spills past it to a fresh temporary directory: DuckDB's own default is
    ``.tmp`` under the working directory, i.e. inside the checkout. DuckDB
    removes the spill directory it made when the connection closes; its
    parent goes at interpreter exit."""
    con = duckdb.connect()
    parent = tempfile.mkdtemp(prefix="duckdb-oracle-")
    atexit.register(shutil.rmtree, parent, True)
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{os.path.join(parent, 'spill')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def compare(spark_df, con, sql: str) -> dict:
    s_pdf = spark_df.toPandas()
    d_pdf = con.execute(sql).df()
    return compare_pandas(s_pdf, d_pdf)


def compare_pandas(s_pdf: pd.DataFrame, d_pdf: pd.DataFrame) -> dict:
    """Compare two already-fetched pandas frames with driver semantics."""
    s_cols = list(s_pdf.columns)
    d_cols = list(d_pdf.columns)
    s_rows = _pdf_rows(s_pdf)
    d_rows = _pdf_rows(d_pdf)

    report = {
        "rows_spark": len(s_rows),
        "rows_duckdb": len(d_rows),
        "cols_spark": sorted(s_cols),
        "cols_duckdb": sorted(d_cols),
        "rowcount_match": len(s_rows) == len(d_rows),
        "schema_match": sorted(s_cols) == sorted(d_cols),
        "values_match": False,
        "first_diff": None,
    }
    if report["rowcount_match"] and report["schema_match"]:
        a = _norm_rows(s_cols, s_rows)
        b = _norm_rows(d_cols, d_rows)
        report["values_match"] = a == b
        if not report["values_match"]:
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    report["first_diff"] = {"row": i, "spark": x, "duckdb": y}
                    break
    return report
