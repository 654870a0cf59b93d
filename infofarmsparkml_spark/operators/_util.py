"""Shared helpers for operator implementations."""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark import SparkFiles
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from infofarmsparkml_spark.catalog import load_table  # noqa: F401  (re-export)


def r(col: Column | str, scale: int = 2) -> Column:
    """Round a double — applied to every computed aggregate on BOTH
    the Spark and oracle side because float summation order differs
    between engines (SURVEY.md §7 risks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale)


def net_price() -> Column:
    """l_extendedprice * (1 - l_discount) — the TPC-H revenue expr."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def ts_lit(s: str) -> Column:
    """Timestamp literal; fixtures store dates as timestamps."""
    return F.lit(s).cast("timestamp")


def _estimated_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for ``df`` (bytes), or None when the
    plan exposes none (e.g. Spark Connect has no _jdf)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
    except (AttributeError, Py4JError):
        return None
    return int(stats.sizeInBytes())


def scratch_dir(tag: str, sf_dir: str) -> str:
    """Scratch dir for a query's own files: sink round-trips, stream
    checkpoints and write-once caches.

    Scratch is per Spark application and deleted with it. The root is
    the application's driver temp dir (``SparkFiles.getRootDirectory()``),
    which Spark creates for each application and deletes at
    ``spark.stop()`` and at JVM exit, so no two processes ever share a
    path and nothing needs a lock.

    The name carries a fingerprint of the fixture (name, mtime and size
    of every parquet under ``sf_dir``): a fixture regenerated at the
    same path within one application gets a fresh dir instead of the
    write-once caches of the old one."""
    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            h.update(f"{name}:{st.st_mtime_ns}:{st.st_size};".encode())
    suffix = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        SparkFiles.getRootDirectory(), f"{tag}_{suffix}_{h.hexdigest()[:10]}"
    )


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the block, then leave the session as it
    was: a key that had a value gets it back, and a key that was
    unset is unset again rather than written back as its default."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def materialize_once(path: str, write_fn) -> str:
    """Write-once cache within one application's scratch: call
    ``write_fn(path)`` unless ``path/_SUCCESS`` exists. ``write_fn``
    must write a Spark output dir in overwrite mode, so a failed
    earlier attempt (part files, no _SUCCESS) is replaced, never
    served."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_fn(path)
    return path


def cents(col: Column | str) -> Column:
    """Exact integer view of a money-like double in cents.

    Fixture money columns carry ≤2 decimal digits, so
    `round(x * 100)` recovers the exact integer (the double is
    within 1 ulp of it; rounding mode can never trigger). Long
    arithmetic stays in whole-stage codegen — ~1.7× faster than the
    decimal128 path at sf0.1 with bit-identical output doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def net_cents() -> Column:
    """l_extendedprice*(1-l_discount) as an exact long in 1e-4
    dollar units: price_c2 * (100 - disc_c2)."""
    return cents("l_extendedprice") * (100 - cents("l_discount"))


def sum_cents(expr: Column, alias: str, frac_digits: int = 4) -> Column:
    """SUM of exact long units, surfaced as double.

    Money sums must be exact: fixture values carry ≤2 decimal
    digits, so group sums land exactly on .xx5 rounding boundaries,
    where two engines' float accumulations round in opposite
    directions. The long sum is exact and order-independent. It is
    divided by 10^frac_digits in decimal (Spark types the quotient
    decimal(38,6), exact for frac_digits ≤ 6) and surfaced as double
    via its decimal string, which Spark and DuckDB both parse to the
    correctly-rounded nearest double. Oracle twin:
    CAST(CAST(SUM(<decimal expr>) AS VARCHAR) AS DOUBLE).

    Exact for any long sum; the decimal step runs once per group.
    The ceiling is long overflow at 2^63 ≈ 9.2e18 units per group,
    which raises ARITHMETIC_OVERFLOW under ANSI mode (Spark 4's
    default) instead of wrapping. Q1's sum_charge (1e-6 units) is
    0.58 × 2^53 per group at sf0.1, so it meets the ceiling near
    sf175. Dividing the sum in double instead is exact only below
    2^53 units; five copies of sf0.1 lineitem (2.9 × 2^53 per Q1
    group) already put that form 1 ulp off the oracle.
    """
    total = F.sum(expr).cast("decimal(38,0)") / F.lit(10**frac_digits)
    return total.cast("string").cast("double").alias(alias)
