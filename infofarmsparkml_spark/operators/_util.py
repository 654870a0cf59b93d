"""Shared helpers for operator implementations."""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from py4j.protocol import Py4JError
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


def scratch_dir(tag: str, sf_dir: str = "") -> str:
    """Deterministic-content scratch dir for sink round-trips,
    scoped per scale factor so concurrent/interleaved runs at
    different sf_dirs never read each other's output.

    The path also carries a fingerprint of the source fixture
    (mtime+size of every parquet under sf_dir): write-once callers
    that skip the rewrite when _SUCCESS exists would otherwise
    silently serve stale data across process lifetimes if the
    fixture at the same path were ever regenerated (ADVICE r5) —
    a new fingerprint yields a fresh dir, invalidating the cache.
    Stale siblings (same ``{tag}_{suffix}_`` prefix, different
    hash) are pruned here (ADVICE r6): a different hash means the
    fixture AT THE SAME PATH changed, so any content under the old
    hash is dead by construction — no live run at this sf_dir can
    still want it. Constraint (ADVICE r7): this GC assumes the
    fixture at a given path only moves forward — a process still
    mid-query against a PREVIOUS generation of the same sf_dir
    (regenerated underneath it) may have its cache pruned by a
    newer process; concurrent runs spanning a fixture regeneration
    are unsupported (and would be reading inconsistent source data
    regardless of this cache)."""
    base = os.path.join(tempfile.gettempdir(), "infofarmsparkml_scratch")
    os.makedirs(base, exist_ok=True)
    if not sf_dir:
        return os.path.join(base, tag)
    suffix = os.path.basename(os.path.normpath(sf_dir))
    import hashlib

    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            h.update(f"{name}:{st.st_mtime_ns}:{st.st_size};".encode())
    current = f"{tag}_{suffix}_{h.hexdigest()[:10]}"
    prefix = f"{tag}_{suffix}_"
    try:
        for entry in os.listdir(base):
            if entry.startswith(prefix) and not entry.startswith(current):
                import shutil

                p = os.path.join(base, entry)
                if os.path.isfile(p):
                    # stale generation's "<dir>.lock" flock file
                    # (ADVICE r10): rmtree refuses plain files, so
                    # these used to leak forever. Unlinking is safe
                    # for DEAD generations only — everything owned
                    # by the current generation (the dir itself and
                    # its .lock/.tmp-*/.orphan-* siblings) is
                    # excluded by the startswith(current) guard.
                    # Unlinking a HELD flock file would let two
                    # lockers "hold" the same lock via different
                    # inodes, so before unlinking a .lock we probe
                    # it with a non-blocking flock (ADVICE r11):
                    # acquisition proves no process held the inode
                    # at probe time, and an fstat/stat identity
                    # check (ADVICE r12) proves the path still
                    # names the inode we flocked (not a rival's
                    # fresh replacement). Residual TOCTOU: a rival
                    # that open()ed this stale path BEFORE our probe
                    # can still flock the orphaned inode after our
                    # unlink+close — unavoidable when unlinking lock
                    # files at all, and it only bites a process
                    # violating the forward-only fixture contract
                    # (locking a dead generation), so practical
                    # impact is nil. A held or vanished lock is
                    # simply left for a later GC pass.
                    try:
                        if p.endswith(".lock"):
                            import fcntl

                            with open(p, "r+") as probe:
                                fcntl.flock(
                                    probe, fcntl.LOCK_EX | fcntl.LOCK_NB
                                )
                                if (
                                    os.fstat(probe.fileno()).st_ino
                                    == os.stat(p).st_ino
                                ):
                                    os.unlink(p)
                        else:
                            os.unlink(p)
                    except OSError:
                        pass
                else:
                    shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass  # GC is best-effort; a failed prune only costs disk
    return os.path.join(base, current)


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
    """Cross-process-safe write-once cache (ADVICE r6): the naive
    ``if no _SUCCESS: overwrite-write(path)`` races — two concurrent
    processes that both miss the marker overwrite the same dir, and
    Spark's overwrite DELETES the target first, so a third reader
    of a previously valid cache can hit a partial dir mid-write.
    Here each writer builds into its own unique temp dir and
    atomically renames it into ``path``; POSIX rename onto an
    existing non-empty dir fails, so losing the race is a cache hit
    (the winner's content is bit-identical by construction — every
    cached derivation in this repo is deterministic) and readers
    only ever see a complete dir or none.

    A failed rename is disambiguated by the _SUCCESS marker
    (ADVICE r7/r8): ``path`` existing WITH _SUCCESS means another
    writer won the race (cache hit); ``path`` existing WITHOUT
    _SUCCESS is a crash-orphaned partial dir (e.g. a pre-rename-era
    writer killed mid-write) that no correct reader can want — it is
    renamed ASIDE (the aside copy then rmtree'd) and the publish
    retried, instead of being served as if valid. The
    check-then-replace step is serialized across processes with an
    fcntl.flock lock file next to ``path`` (ADVICE r9): without it,
    a concurrent writer could publish a complete dir between this
    writer's _SUCCESS check and its destructive step, briefly
    unpublishing a valid cache. The rename-aside (ADVICE r10)
    closes the residual window rmtree-in-place left for EMPTY
    orphans: POSIX rename succeeds onto an existing empty dir, so a
    rival's lock-free optimistic publish can land between the
    locked _SUCCESS check and the destructive step — renaming aside
    never deletes the rival's part files out from under a reader
    that already opened them, whereas an in-place rmtree could.
    KNOWN RESIDUAL WINDOW (ADVICE r11): aside-then-republish is TWO
    atomic renames, not one — between them ``path`` is briefly
    absent, so a reader that just resolved ``path`` from a rival's
    publish can hit a transient ENOENT and must tolerate a retry
    (every caller goes through spark.read, which re-resolves on the
    next call, and cached derivations are bit-identical, so a retry
    always sees equivalent content); a crash landing exactly between
    the two renames discards the rival's valid publish, rebuilt on
    the next call. Writers
    only ever publish (rename) either on the lock-free FIRST
    attempt — which cannot delete anything — or while holding the
    lock, so the locked _SUCCESS re-check is authoritative. The retry is
    bounded; if the target keeps reappearing as a partial dir the
    last OSError propagates rather than silently returning an
    incomplete cache. The temp dir is always cleaned up, including
    when ``write_fn`` itself raises; the lock file is left in place
    (removing it would reopen the unlink-vs-lock race).

    ``write_fn(tmp_path)`` must produce a Spark-style output dir
    (including _SUCCESS) at ``tmp_path``."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    import fcntl
    import shutil
    import uuid

    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        write_fn(tmp)
        try:
            # optimistic publish: atomic, and cannot destroy anything
            os.rename(tmp, path)
            return path
        except OSError as e:
            last_err: OSError = e
        # Contended or orphaned target: every destructive step below
        # runs under the lock, as does the publish that follows it.
        with open(path + ".lock", "w") as lock_f:
            fcntl.flock(lock_f, fcntl.LOCK_EX)
            for _ in range(3):
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    # another writer won the race; ours is a
                    # redundant bit-identical copy — cache hit
                    return path
                # target exists but is incomplete: orphaned partial
                # dir — rename it aside, never rmtree in place (a
                # rival's optimistic rename can succeed onto an
                # EMPTY orphan after the check above; renames can't
                # destroy such a publish, an in-place rmtree could)
                if os.path.lexists(path):
                    aside = f"{path}.orphan-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(path, aside)
                    except OSError:
                        pass  # vanished underneath us; just retry
                    else:
                        shutil.rmtree(aside, ignore_errors=True)
                try:
                    os.rename(tmp, path)
                    return path
                except OSError as e:
                    last_err = e
            raise last_err
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer view of a money-like double in 10^-scale units.

    Fixture money columns carry ≤2 decimal digits, so
    `round(x * 100)` recovers the exact integer (the double is
    within 1 ulp of it; rounding mode can never trigger). Long
    arithmetic stays in whole-stage codegen — ~1.7× faster than the
    decimal128 path at sf0.1 with bit-identical output doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


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
