"""Spark ↔ DuckDB parity harness — a local mirror of the driver's
correctness gate (row-count + schema + order-insensitive value
comparison, columns sorted by name).

Strictness: cells are compared by canonical string with FULL float
precision. Operators are expected to round computed doubles on both
sides (see registry docstring); if a query fails here it would fail
the driver's hash, so the fix is in the query design, not in
loosening this comparison.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

import duckdb

from infofarmsparkml_spark.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views registered exactly like the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon_cell(v: Any) -> str:
    """Canonical string for one cell, identical across engines."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"  # pandas represents SQL NULL doubles as NaN
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.floor("us").isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), canon_cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return repr(v)


def canon_frame(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    """(sorted column names, sorted canonical row tuples).

    Column-wise dtype dispatch instead of per-cell isinstance: the
    full-registry sweep compares ~10^6 cells, and the old
    row-records path spent ~9 s per 100k-row frame in cell dispatch
    alone (measured r5, ts_* queries). Semantics are unchanged —
    numeric/bool/datetime columns produce the exact strings
    `canon_cell` would, and object columns (strings, arrays, maps,
    Decimals) still go through `canon_cell` per cell."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    if not cols:
        return cols, [() for _ in range(len(pdf))]
    out: list[list[str]] = []
    for c in cols:
        s = pdf[c]
        # Nullable/extension dtypes (Float64, Int64, boolean) yield
        # pd.NA from tolist(): `x != x` raises in boolean context and
        # str() renders '<NA>' (ADVICE r5). Degrade them to the
        # guarded object path; the numpy fast paths below stay
        # guard-free (numpy int/bool cannot hold NA, float NA is NaN).
        if not isinstance(s.dtype, np.dtype):
            out.append(
                ["NULL" if pd.isna(v) else canon_cell(v) for v in s.tolist()]
            )
            continue
        kind = s.dtype.kind
        if kind == "f":
            # x != x is the NaN test; +0.0 folds -0.0 to 0.0
            out.append(
                [
                    "NULL" if x != x else repr(x + 0.0)
                    for x in s.tolist()
                ]
            )
        elif kind in "iu":
            out.append([str(x) for x in s.tolist()])
        elif kind == "b":
            out.append(["true" if x else "false" for x in s.tolist()])
        elif kind == "M":
            ss = s
            if getattr(s.dtype, "tz", None) is not None:
                ss = ss.dt.tz_convert("UTC").dt.tz_localize(None)
            ss = ss.dt.floor("us")
            out.append(
                ["NULL" if pd.isna(x) else x.isoformat() for x in ss]
            )
        else:
            out.append([canon_cell(v) for v in s.tolist()])
    rows = [tuple(r) for r in zip(*out)]
    rows.sort()
    return cols, rows


def compare_frames(spark_pdf, oracle_pdf) -> tuple[bool, str]:
    scols, srows = canon_frame(spark_pdf)
    ocols, orows = canon_frame(oracle_pdf)
    if scols != ocols:
        return False, f"schema mismatch: spark={scols} oracle={ocols}"
    if len(srows) != len(orows):
        return False, f"row count mismatch: spark={len(srows)} oracle={len(orows)}"
    if srows != orows:
        diffs = [
            f"  spark={s}\n  oracle={o}"
            for s, o in zip(srows, orows)
            if s != o
        ][:5]
        return False, "value mismatch (first diffs):\n" + "\n".join(diffs)
    return True, f"ok ({len(srows)} rows, {len(scols)} cols)"


def check_query(
    spark, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str
) -> tuple[bool, str]:
    """Run one registered query against its oracle."""
    from infofarmsparkml_spark import registry

    fn, oracle = registry.get(name)
    sdf = fn(spark, sf_dir)
    spdf = sdf.toPandas()
    if oracle is None:
        return True, f"rows-only ({len(spdf)} rows)"
    opdf = con.execute(oracle).fetchdf()
    return compare_frames(spdf, opdf)
