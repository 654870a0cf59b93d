"""Graph analytics on DataFrames (no GraphX/GraphFrames dependency)
over one co-purchase graph, built from lineitem by self-join and
materialized once per fixture: degree, PageRank, triangles, BFS,
SSSP, label propagation, connected components and k-core.

One place per shared decision: `_edge_layout` (the iterative ops'
checkpointed edge partitioning), `_guarded_vertex_pick` (their
vertex-join build side), `_forward_triangles` (both triangle ops'
orientation) and `_EDGES_CTE` (the round-unrolled oracles' edge
CTE). Each iterative op keeps its own loop — state shape, stop test
and checkpoint cadence differ per algorithm — with `localCheckpoint`
truncating its lineage (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, functions as F

from infofarmsparkml_spark.operators._util import _estimated_bytes, load_table
from infofarmsparkml_spark.registry import query


def _derive_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed edges (src, dst): parts bought in the same
    order. Symmetric by construction (both directions emitted)."""
    lf = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = lf.alias("a")
    b = lf.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edge list, materialized ONCE into a scratch
    parquet and shared by every graph query — the GraphX/GraphFrames
    pattern: build the graph once, run many algorithms over it. Nine
    registered queries consume this edge set; without the
    materialization each re-runs the lineitem self-join + distinct,
    and at fact scale that re-derivation (a full shuffle of the fact
    table per algorithm) would dominate every algorithm's cost. The
    cache lives in the application's scratch (see scratch_dir): it
    is written once per application and fixture, and deleted with
    the application. Int-keyed and distinct, so the materialized
    rows are bit-identical to the derivation on every engine."""
    from infofarmsparkml_spark.operators._util import (
        materialize_once,
        scratch_dir,
    )

    path = materialize_once(
        scratch_dir("copurchase_edges", sf_dir),
        lambda p: _derive_copurchase_edges(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.parquet(path)


def _fact_in_broadcast_range(spark: SparkSession, df: DataFrame) -> bool:
    """True when the planner could statically pick ``df`` — a FACT
    table (e.g. the co-purchase edge list) — as a broadcast build
    side: its own plan estimate is within a 3x safety factor of the
    SESSION's auto-broadcast threshold. Why callers care (the r13
    lesson): a scratch-backed fact table whose file-size estimate
    flirts with the threshold makes implicit build-side selection a
    coin-flip across rebuilds (part-file layout varies with writer
    parallelism), and the wrong outcome deserializes millions of
    rows into a bounded driver. Consumers joining such a table in a
    loop must state the build side explicitly while this returns
    True. Reads the session's typed threshold (bytes, whatever form
    the conf was set in) so raised thresholds keep the guard honest;
    threshold <= 0 disables auto-broadcast entirely (guard moot); an
    unavailable session or estimate (Spark Connect exposes neither
    _jsparkSession nor _jdf) returns True — the safe default is an
    explicit vertex-side build."""
    try:
        thr = (
            spark._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
    except (AttributeError, Py4JError):
        return True
    if thr <= 0:
        return False
    est = _estimated_bytes(df)
    return est is None or est < 3 * thr


def _guarded_vertex_pick(spark: SparkSession, edges_raw: DataFrame):
    """The shared build-side policy for every iterative vertex-join
    loop (pagerank/bfs/sssp/lpa, r14 ADVICE closed in 3fb8b43, shared
    helper r15): while the EDGE table's estimate is inside broadcast
    range, return `F.broadcast` so the vertex-sized side is stated
    explicitly as the build side. The edge table must never become
    the build side on a coin-flip: the scratch file-size estimate
    can land just under the auto-broadcast threshold (the sf0.1 edge
    scratch sits ~2% under 10 MB; part-file layout varies with writer
    parallelism), and since localCheckpoint preserves source stats
    while per-round vertex frames carry inflated join-output
    estimates, rounds >= 2 then statically built the 2.39M-row edge
    side and OOM'd a default-memory driver (r13). The stated vertex
    build is the plan AQE picks at runtime anyway; a blanket
    SHUFFLE_MERGE hint instead measured 3x slower in pagerank (hints
    also block AQE's vertex-side broadcast conversion). Past
    broadcast range — or with auto-broadcast disabled — return
    identity so NO hint is emitted: an unconditional broadcast hint
    would override a disabled-auto-broadcast session and hit Spark's
    8 GB broadcast hard cap past ~1e8 vertices, where the un-hinted
    plan lets AQE fall back to a shuffle join. Plan-pinned both ways
    in tests/test_plans.py."""
    return (
        F.broadcast
        if _fact_in_broadcast_range(spark, edges_raw)
        else (lambda df: df)
    )


def _edge_layout(edges: DataFrame) -> DataFrame:
    """The iterative ops' edge list: hash-partitioned on src BEFORE
    its checkpoint. The checkpointed RDD keeps that partitioning, so
    every round's join with the vertex-sized vector reuses it and
    only the vector moves (pagerank measured 8.6 s -> 5.1 s at sf0.1,
    identical output) — on a cluster, the edge set shuffles once
    instead of once per round."""
    return edges.repartition(F.col("src")).localCheckpoint()


# The co-purchase pair query every edge oracle derives from, and the
# edges CTE the round-unrolled oracles open with.
_COPURCHASE_PAIRS = """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"""
_EDGES_CTE = f"""
edges AS MATERIALIZED (
  {_COPURCHASE_PAIRS}),"""


@query(
    "graph_degree",
    oracle=f"""
WITH pairs AS (
  {_COPURCHASE_PAIRS}
)
SELECT src AS part, COUNT(*) AS degree
FROM pairs GROUP BY src
""",
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree of each part in the co-purchase graph. The self-join
    shuffles once on the order key; baskets are small (a few lines
    per order), so the pair expansion is bounded per-key — the skew
    risk at scale is a mega-basket, handled by AQE skew split."""
    edges = _copurchase_edges(spark, sf_dir)
    return edges.groupBy(F.col("src").alias("part")).agg(
        F.count(F.lit(1)).alias("degree")
    )


# Each iterative op's loop bounds, read by its Spark loop and by its
# oracle's unroll alike.
_PAGERANK_ROUNDS, _PAGERANK_DAMPING = 10, 0.85
# delta twin: stop at the first round >= burn-in whose max-abs-delta
# is <= tau micro-units, else at the cap
_DELTA_CAP, _DELTA_TAU, _DELTA_BURN_IN = 12, 1000, 3
_BFS_DEPTH = 4
_SSSP_ROUNDS = 4
_LPA_ROUNDS = 3


def _pagerank_oracle() -> str:
    """DuckDB twin of the power iteration: recursive CTEs can't
    hold GROUP BY, but the iteration count is fixed, so unroll one
    aggregate CTE per round. Rounding happens only at the end, like
    the Spark side."""
    parts = [
        _EDGES_CTE
        + """
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
pr0 AS (SELECT src, 1.0 AS rank FROM deg)"""
    ]
    d = _PAGERANK_DAMPING
    for i in range(1, _PAGERANK_ROUNDS + 1):
        parts.append(
            f"""
pr{i} AS (
  SELECT e.dst AS src, {1.0 - d} + {d} * SUM(p.rank / g.out_deg) AS rank
  FROM edges e JOIN pr{i - 1} p ON e.src = p.src
               JOIN deg g ON e.src = g.src
  GROUP BY e.dst)"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT src AS part, ROUND(rank, 6) AS pagerank FROM pr{_PAGERANK_ROUNDS}"
    )


def _pagerank_iterate(edges: DataFrame, pick) -> DataFrame:
    """Fixed-round PageRank core of `graph_pagerank`, shared with the
    known-answer test so the test exercises THE operator's
    arithmetic: contribution = join ranks→edges, new rank =
    (1-d) + d·sum(contribs). ``pick`` states the vertex-side build
    (`_guarded_vertex_pick`). The rank vector is localCheckpointed
    every 4 rounds — without it the plan doubles per round and the
    driver, not the data, becomes the bottleneck. Returns (src, rank)."""
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = out_deg.select("src", F.lit(1.0).alias("rank"))
    d = _PAGERANK_DAMPING
    for i in range(_PAGERANK_ROUNDS):
        contribs = (
            edges.join(pick(ranks), "src")
            .join(pick(out_deg), "src")
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy(F.col("dst").alias("src"))
            .agg((F.lit(1.0 - d) + F.lit(d) * F.sum("c")).alias("rank"))
        )
        if i % 4 == 3:
            ranks = ranks.localCheckpoint()
    return ranks


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 power iterations, damping 0.85) over the
    co-purchase graph, as pure DataFrame ops (`_pagerank_iterate`).
    The graph is symmetric so there are no dangling nodes. The edges
    take `_edge_layout`, so all 10 per-iteration joins reuse one edge
    partitioning and only the 20k-row rank vector moves per round.
    Because all 10 rounds compile into ONE DAG, the edge side's
    exchange(+sort, past the broadcast threshold) is planned once and
    REUSED by every round's join (ReusedExchange) — probed
    empirically in the r12 two-decade smoke: forcing SHUFFLE_HASH on
    the rank side, which looked sort-free on paper, broke that reuse
    and measured 2.5x SLOWER at sf1/sf10; the un-hinted plan holds
    both decade ratios <= ~6."""
    edges_raw = _copurchase_edges(spark, sf_dir)
    # build side: _guarded_vertex_pick, on the raw scratch estimate
    ranks = _pagerank_iterate(
        _edge_layout(edges_raw), _guarded_vertex_pick(spark, edges_raw)
    )
    return ranks.select(
        F.col("src").alias("part"), F.round("rank", 6).alias("pagerank")
    )


def _pagerank_delta_oracle() -> str:
    """DuckDB twin of the delta-threshold power iteration: all
    cap rounds are unrolled (pr1..prN) together with each
    checked round's max-abs-delta (d{burn-in}..dN), then the output
    round is SELECTED by the same stop rule the Spark loop applies —
    the first round >= burn-in whose delta <= tau, else round
    cap. Because the arithmetic is exact integer micro-units on
    both engines, the data-dependent stop round is identical on both
    sides, so the early exit never needs a depth pin: parity holds
    whether the loop stops at round 3 or runs to the cap."""
    parts = [
        _EDGES_CTE
        + """
deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
pr0 AS (SELECT src, CAST(1000000 AS BIGINT) AS rank FROM deg)"""
    ]
    cap, tau, burn_in = _DELTA_CAP, _DELTA_TAU, _DELTA_BURN_IN
    for i in range(1, cap + 1):
        parts.append(
            f"""
pr{i} AS MATERIALIZED (
  SELECT e.dst AS src,
         CAST(150000 + (17 * SUM(p.rank // g.out_deg)) // 20 AS BIGINT)
           AS rank
  FROM edges e JOIN pr{i - 1} p ON e.src = p.src
               JOIN deg g ON e.src = g.src
  GROUP BY e.dst)"""
        )
        if i >= burn_in:
            parts.append(
                f"""
d{i} AS (SELECT MAX(ABS(a.rank - b.rank)) AS md
  FROM pr{i} a JOIN pr{i - 1} b ON a.src = b.src)"""
            )
    rounds = " UNION ALL ".join(
        f"SELECT {i} AS k, md FROM d{i}" for i in range(burn_in, cap + 1)
    )
    ranks = " UNION ALL ".join(
        f"SELECT {i} AS k, src, rank FROM pr{i}" for i in range(1, cap + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f""",
stop AS (SELECT COALESCE(MIN(k), {cap}) AS k
         FROM ({rounds}) WHERE md <= {tau})
SELECT u.src AS part, u.rank AS pagerank_micro
FROM ({ranks}) u JOIN stop s ON u.k = s.k"""
    )


def _pagerank_delta_iterate(edges: DataFrame) -> tuple[DataFrame, int]:
    """Delta-threshold PageRank core, shared by the registered query
    and the hand-built known-answer test (so the test exercises THE
    operator's arithmetic, not an inline copy — ADVICE r11). Exact
    integer micro-units (1.0 = 1_000_000): per round
    ``contrib = rank DIV out_deg`` per source, then
    ``rank' = 150000 + (17 * SUM(contrib)) DIV 20`` per dest
    (damping 0.85 = 17/20, base 0.15 = 150000 micro) — every step is
    integer-exact and engine-portable. Stops at the FIRST round
    >= burn-in whose max-abs-delta <= tau, else at the cap;
    rounds below burn-in skip the delta action entirely (round-1
    delta measures ~0.5 rank units — it cannot pass a milli-unit
    tau), and the oracle's stop rule skips the same rounds, so the
    semantics stay engine-identical. Returns (ranks, rounds_run);
    ranks has (src, rank) columns.

    ``edges`` must be a symmetric distinct edge list, ideally in
    `_edge_layout` so the per-round join reuses one layout. The rank
    vector is localCheckpoint-ed
    lazily every round: it is one row per vertex (tiny relative to
    edges at any scale), and the NEXT action to touch it — the delta
    aggregate, or a later round's — materializes and pins it, so a
    checked round costs exactly one job and the delta never replays
    earlier rounds' lineage."""
    out_deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint()
    )
    ranks = out_deg.select(
        "src", F.lit(1000000).cast("long").alias("rank")
    ).localCheckpoint(eager=False)
    rounds = 0
    for r in range(1, _DELTA_CAP + 1):
        rounds = r
        contrib = ranks.join(out_deg, "src").select(
            "src", F.expr("rank DIV out_deg").alias("c")
        )
        # BROADCAST the vertex-sized contribution vector (r12
        # two-decade smoke): the per-round convergence actions split
        # this loop into separate JOBS, so — unlike the fixed twin's
        # single-DAG ReusedExchange — nothing amortizes the edge
        # side's exchange+sort across rounds once the vector passes
        # the 10 MB auto-broadcast threshold (measured: sf1->sf10
        # decade ratio 19x at 2M vertices, ~32 MB). Broadcasting
        # keeps every round a map-side hash probe of the
        # checkpointed edges: no edge exchange, no sort, at any
        # vertex count whose vector fits driver/executor memory
        # (~1e8; past that, persist edges bucketed-by-src so a
        # shuffled-hash join needs no per-round edge exchange).
        new = (
            edges.join(F.broadcast(contrib), "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(
                F.expr(
                    "CAST(150000 + (17 * SUM(c)) DIV 20 AS BIGINT)"
                ).alias("rank")
            )
            .localCheckpoint(eager=False)
        )
        if r >= _DELTA_BURN_IN:
            max_delta = (
                new.join(
                    ranks.withColumnRenamed("rank", "prev"), "src"
                )
                .agg(
                    F.max(F.abs(F.col("rank") - F.col("prev"))).alias("md")
                )
                .first()["md"]
            )
            # `md` is None when the joined frame is empty (degenerate
            # or empty edge list — ADVICE r12): treat as "no delta
            # evidence" and let the loop cap out instead of raising
            # TypeError on the None comparison.
            if max_delta is not None and max_delta <= _DELTA_TAU:
                ranks = new
                break
        ranks = new
    return ranks, rounds


@query("graph_pagerank_delta", oracle=_pagerank_delta_oracle())
def graph_pagerank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-adaptive twin of `graph_pagerank` (VERDICT r11
    #3): instead of a fixed 10 power iterations, stop at the first
    round whose max per-node rank change <= 0.001 (1000 micro-units)
    — the dense co-purchase graph mixes fast (measured max-delta
    495k -> 26k -> 2.4k -> 280 micro over rounds 1-4 at sf0.001,
    same shape at sf0.01/0.1), so the loop stops at round 4 at all
    three fixture SFs where the fixed twin always pays 10. On a
    slow-mixing graph it degrades gracefully to the cap (12), and
    parity holds EITHER way: the oracle unrolls all 12 rounds and
    selects the stop round by the same delta rule, so — unlike a
    depth-pinned unroll — there is no convergence cliff; exact
    integer micro-unit arithmetic makes the stop round and every
    rank bit-identical across engines. Per-round cost: one join of
    the src-partitioned checkpointed edges with the vertex-sized
    contribution vector (partial-agg shuffles vertex-count rows,
    never the edge set), plus a vertex-sized delta aggregate."""
    ranks, _ = _pagerank_delta_iterate(
        _edge_layout(_copurchase_edges(spark, sf_dir))
    )
    return ranks.select(
        F.col("src").alias("part"), F.col("rank").alias("pagerank_micro")
    )


def _undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each co-purchase edge once, as (u, v) with u < v."""
    return (
        _copurchase_edges(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )


def _forward_triangles(und: DataFrame) -> DataFrame:
    """Compact-forward (Schank–Wagner) triangle enumeration over a
    CHECKPOINTED undirected edge frame (u, v), u < v: direct every
    edge from the lower-(degree, id) endpoint to the higher,
    enumerate length-2 paths along that orientation, and close them
    against the directed edge set. Returns one row (a, b, c) per
    triangle. Each triangle is found exactly once under ANY total
    order, so the id-ordered DuckDB oracles count the same
    triangles; degree-ordering is what scales — a hub of degree d
    contributes O(d) forward edges instead of O(d²) path pairs,
    keeping the path-join near-linear on power-law graphs.

    Materialization: `und` fans out into the degree aggregate and
    both sides of the orientation join, and `fwd` into all three
    edge roles — without checkpoints Catalyst column-prunes each
    consumer into a DIFFERENT subtree (no exchange reuse: observed
    90 parquet scans at sf0.1, the co-purchase self-join re-derived
    up to 9x). At sf0.1 wall time is join-bound either way (~49M
    length-2 paths is the algorithmic floor of the orientation); at
    fact scale the 9x edge re-derivation would dominate, so the
    materialization is the posture that survives 100x."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"),
            "v",
        )
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    fwd = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
    ).localCheckpoint()
    e1 = fwd.select(F.col("s").alias("a"), F.col("d").alias("b"))
    # shuffle_hash on the edge sides: the default SortMergeJoin
    # SORTS the ~49M-row length-2 path stream at sf0.1 — 2/3 of the
    # query's wall time for zero benefit (nothing downstream needs
    # order, and the build sides are just edge lists). Hash-probing
    # the paths instead measured 17.6 s -> 6.0 s; at cluster scale
    # the same holds as long as each edge-partition's hash table
    # fits an executor (edges are the SMALL side here — paths
    # outnumber edges by the average-degree factor).
    e2 = fwd.select(F.col("s").alias("b"), F.col("d").alias("c")).hint(
        "shuffle_hash"
    )
    e3 = fwd.select(F.col("s").alias("a"), F.col("d").alias("c")).hint(
        "shuffle_hash"
    )
    return e1.join(e2, "b").join(e3, ["a", "c"])


@query(
    "graph_triangles",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1 JOIN pairs e2 ON e2.u = e1.v
       JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (
  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count on the co-purchase graph: every
    triangle `_forward_triangles` finds counts once at each of its
    three corners. Two shuffles (path join + closure join) plus the
    corner aggregate."""
    und = _undirected(spark, sf_dir).localCheckpoint()  # see _forward_triangles
    # explode(array()) emits the 3 corner rows per triangle in ONE
    # pass over one copy of the path join; a 3-way unionAll of
    # projections planned the whole join three times (r17: no
    # exchange reuse across union branches, the ~49M paths ran 3x).
    corners = _forward_triangles(und).select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy(F.col("node").alias("part")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


# DOULION sampling rate p = 0x40000000 / 0x100000000 = 1/4 exactly;
# the estimate scale 1/p^3 = 64 is integer-exact on both engines.
_DOULION_P_HEX = "40000000"
_DOULION_SCALE = 64


@query(
    "graph_triangles_doulion",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
sampled AS (
  SELECT u, v FROM pairs
  WHERE substr(md5(u || '|' || v), 1, 8) < '{_DOULION_P_HEX}')
SELECT CAST((SELECT COUNT(*) FROM sampled) AS BIGINT) AS n_edges_sampled,
       CAST(COUNT(*) AS BIGINT) AS n_tri_sampled,
       CAST(COUNT(*) * {_DOULION_SCALE} AS BIGINT) AS est_triangles
FROM sampled e1
JOIN sampled e2 ON e2.u = e1.v
JOIN sampled e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def graph_triangles_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate GLOBAL triangle count by DOULION edge sparsification
    (Tsourakakis et al., KDD 2009 — public paper, design shape only):
    keep each undirected edge with probability p, count triangles on
    the sparsified graph, scale by 1/p³. Registered per VERDICT r9 #6
    as the 100-TB answer to `graph_triangles`' density growth: the
    exact count's length-2 path volume grows superlinearly with
    average degree, while sparsification shrinks it by p² (p=1/4 ⇒
    16× fewer paths) for a provably unbiased estimate (measured here:
    +1.3% at sf0.01, +5.9% at sf0.001 vs exact; pytest asserts the
    tolerance). The coin flip is md5(u|v) — content-keyed, not RNG —
    so the SAME edges are kept by any engine at any partitioning,
    making an approximation algorithm fully SQL-hash-checkable, and
    at cluster scale the sample is stable across re-runs/AQE replans.
    Same compact-forward orientation as the exact operator; output is
    one row of exact integers (sampled-edge count, sampled-triangle
    count, scaled estimate)."""
    und = (
        _undirected(spark, sf_dir)
        .filter(
            F.substring(F.md5(F.concat_ws("|", "u", "v")), 1, 8)
            < F.lit(_DOULION_P_HEX)
        )
        .localCheckpoint()  # see _forward_triangles
    )
    n_tri = _forward_triangles(und).agg(
        F.count(F.lit(1)).alias("n_tri_sampled")
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges_sampled"))
    return n_edges.crossJoin(F.broadcast(n_tri)).select(
        "n_edges_sampled",
        "n_tri_sampled",
        (F.col("n_tri_sampled") * _DOULION_SCALE).alias("est_triangles"),
    )


def _bfs_oracle() -> str:
    """Level-unrolled BFS oracle (DuckDB): per-level DISTINCT
    frontiers, then MIN(level) per reached node — same
    level-synchronized shape as the Spark side, so path explosion
    never happens on either engine."""
    parts = [
        _EDGES_CTE
        + """
seed AS (SELECT MIN(l_partkey) AS node FROM lineitem),
f0 AS (SELECT node FROM seed)"""
    ]
    for i in range(1, _BFS_DEPTH + 1):
        parts.append(
            f"""
f{i} AS (
  SELECT DISTINCT e.dst AS node
  FROM f{i - 1} f JOIN edges e ON e.src = f.node)"""
        )
    levels = " UNION ALL ".join(
        f"SELECT node, {i} AS lvl FROM f{i}" for i in range(_BFS_DEPTH + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
lv AS ({levels})
SELECT node AS part, CAST(MIN(lvl) AS BIGINT) AS dist
FROM lv GROUP BY node"""
    )


@query("graph_bfs", oracle=_bfs_oracle())
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronized BFS (4 hops) from the lowest part key over
    the co-purchase graph: each round joins the DISTINCT frontier to
    the edge list and anti-joins already-visited nodes — the
    standard distributed BFS that scales as O(edges touched) per
    level with no path enumeration (a recursive per-path walk
    explodes degree^depth). Frontiers are localCheckpointed so the
    plan does not grow with depth — same iteration discipline as
    `graph_pagerank`, including `_edge_layout` (every level's
    frontier join reuses it; only frontiers move)."""
    edges_raw = _copurchase_edges(spark, sf_dir)
    edges = _edge_layout(edges_raw)
    # build side: _guarded_vertex_pick, on the raw scratch estimate
    pick = _guarded_vertex_pick(spark, edges_raw)
    lf = load_table(spark, sf_dir, "lineitem")
    seed = lf.agg(F.min("l_partkey").alias("node"))
    visited = seed.withColumn("dist", F.lit(0).cast("long")).localCheckpoint()
    frontier = visited.select("node")
    for lvl in range(1, _BFS_DEPTH + 1):
        nxt = (
            pick(frontier).join(
                edges, frontier["node"] == edges["src"]
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(lvl).cast("long"))
        ).localCheckpoint()
        frontier = nxt
    return visited.select(F.col("node").alias("part"), "dist")


def _sssp_oracle() -> str:
    """Level-unrolled Bellman–Ford oracle (DuckDB): d_k(v) =
    min(d_{k-1}(v), min over edges (u,v) of d_{k-1}(u) + cost) —
    the same hop-bounded relaxation the Spark side iterates, so
    neither engine ever enumerates paths. Integer costs keep every
    min/+ exact."""
    parts = [
        """
co AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n_co
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2),
edges AS (SELECT src, dst, 1 + 100 // n_co AS cost FROM co),
d0 AS (SELECT MIN(l_partkey) AS node, CAST(0 AS BIGINT) AS d
       FROM lineitem)"""
    ]
    for i in range(1, _SSSP_ROUNDS + 1):
        parts.append(
            f"""
d{i} AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, p.d + e.cost AS d
    FROM d{i - 1} p JOIN edges e ON e.src = p.node)
  GROUP BY node)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT node AS part, CAST(d AS BIGINT) AS dist FROM d{_SSSP_ROUNDS}"""
    )


@query("graph_sssp_weighted", oracle=_sssp_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (4 relaxation rounds,
    Bellman–Ford style) from the lowest part key: edge cost is
    1 + 100 div co-purchase-count, so frequently co-bought parts are
    "closer". Each round is one join (frontier distances against the
    edge list) plus one min-aggregate — O(edges) per round, never
    per-path state — with `localCheckpoint` truncating lineage each
    round like `graph_pagerank`/`graph_bfs`. Costs and distances are
    exact BIGINTs, so the hop-bounded result hash-matches the
    level-unrolled oracle bit-for-bit."""
    lf = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = lf.alias("a"), lf.alias("b")
    edges = _edge_layout(
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .select(
            "src",
            "dst",
            (F.lit(1) + F.expr("100 div n_co")).cast("long").alias("cost"),
        )
    )
    # build side: _guarded_vertex_pick, on the laid-out edge estimate
    pick = _guarded_vertex_pick(spark, edges)
    dist = (
        lf.agg(F.min("l_partkey").alias("node"))
        .withColumn("d", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(_SSSP_ROUNDS):
        relax = (
            pick(dist).join(edges, dist["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("d") + F.col("cost")).alias("d"),
            )
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist.select(F.col("node").alias("part"), F.col("d").alias("dist"))


def _lpa_oracle() -> str:
    """Round-unrolled synchronous min-label propagation (DuckDB):
    one aggregate CTE per round, exactly mirroring the Spark
    iteration — both engines compute the identical deterministic
    label set, so an LSH-free iterative graph op gets a full hash
    check."""
    parts = [
        _EDGES_CTE
        + """
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""
l{i} AS (
  SELECT n.node, LEAST(n.label, MIN(p.label)) AS label
  FROM l{i - 1} n JOIN edges e ON e.dst = n.node
       JOIN l{i - 1} p ON p.node = e.src
  GROUP BY n.node, n.label)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT node AS part, CAST(label AS BIGINT) AS label FROM l{_LPA_ROUNDS}"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation
    (3 rounds) over the co-purchase graph: every node starts
    labeled with its own id; each round it adopts the minimum of
    its label and its neighbors' labels. Min-label update makes the
    rounds fully deterministic (unlike frequency-based LPA's random
    tie-breaks), so the bounded-round state is SQL-oracle-checkable;
    run to fixpoint it converges to connected components
    (`llm_dedup_components` is the fixpoint variant of this same
    pattern).

    Scale: the edges take `_edge_layout`, so all rounds reuse one
    edge exchange; per round only the node-label vector moves — one
    join + one aggregate shuffled on the node key, and per-round
    localCheckpoint keeps the plan from growing with iteration
    count."""
    edges_raw = _copurchase_edges(spark, sf_dir)
    edges = _edge_layout(edges_raw)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # build side: _guarded_vertex_pick, on the raw scratch estimate
    pick = _guarded_vertex_pick(spark, edges_raw)
    for _ in range(_LPA_ROUNDS):
        nbr_min = (
            edges.join(pick(labels), edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, "node")
            .select(
                "node",
                F.least(F.col("label"), F.col("nbr_min")).alias("label"),
            )
            .localCheckpoint()
        )
    return labels.select(
        F.col("node").alias("part"), F.col("label").cast("long").alias("label")
    )


from infofarmsparkml_spark.operators.llm import _CC_ORACLE  # noqa: E402


@query("graph_cc_star", oracle=_CC_ORACLE)
def graph_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and
    Beyond") over the same signature-edge graph as
    `llm_dedup_components` — two algorithms, one recursive-CTE
    ground truth (`_CC_ORACLE`), identical answers asserted.

    Why both exist: min-label propagation converges in
    O(graph diameter) rounds — fine for dense dup clusters, but a
    100 TB corpus with chain-shaped near-dup paths (docs A~B~C~...
    where ends never meet a shared signature) pays one full
    join+agg sweep per hop. Star contraction converges in
    O(log n) rounds REGARDLESS of diameter: large-star hangs every
    node's larger neighbors onto its minimum neighbor (halving tall
    structures), small-star flattens each node's smaller neighbors
    onto the local minimum. Each phase is one groupBy-min plus one
    bucket-keyed join on the node key — the same shuffle shape as
    min-label, just fewer rounds.

    Convergence check per round is a single isEmpty action on the
    symmetric difference of successive canonical edge sets — exact
    set equality, no checksum heuristic. The fixture's
    dup clusters are tiny, so both algorithms take 2 rounds there;
    the separation shows on the worst case: a 64-node chain
    converges in 7 star rounds (unit-tested) where min-label needs
    ~63 sweeps. Per-round localCheckpoint truncates lineage exactly
    as the other iterative ops do."""
    from infofarmsparkml_spark.operators.llm import _signature_edges

    docs = load_table(spark, sf_dir, "documents")
    sym = _signature_edges(spark, sf_dir).localCheckpoint(eager=True)
    stars, _rounds = _star_contract(sym)
    stars = stars.select(F.col("h").alias("doc_id"), F.col("l").alias("comp"))
    return (
        docs.select("doc_id")
        .join(stars, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id"))
            .cast("long")
            .alias("component"),
        )
    )


def _star_contract(sym: DataFrame) -> tuple[DataFrame, int]:
    """Large-star/small-star contraction to fixpoint over a
    SYMMETRIC self-loop-free edge list (u, v). Returns the
    canonical star edges (h, l) — at fixpoint exactly one row per
    non-root node, l = its component minimum — and the round count
    (O(log n); the chain-graph unit test pins the bound)."""
    # canonical form is (h, l) with h > l
    prev = (
        sym.filter(F.col("u") > F.col("v"))
        .select(F.col("u").alias("h"), F.col("v").alias("l"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    while True:  # alternation always converges (Kiveris et al., SoCC 2014)
        rounds += 1
        # LARGE-STAR: m = min(Γ(u) ∪ {u}); (v, m) for v ∈ Γ(u), v > u.
        # m <= u < v, so no self-loops.
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # SMALL-STAR on the oriented (h > l) form: m = min(Γ⁻(h));
        # (l, m) for every smaller neighbor except the min itself,
        # plus (h, m).
        o = large.select(
            F.greatest("a", "b").alias("h"), F.least("a", "b").alias("l")
        ).distinct()
        sm = o.groupBy("h").agg(F.min("l").alias("m"))
        cur = (
            o.join(sm, "h")
            .filter(F.col("l") != F.col("m"))
            .select(F.col("l").alias("h"), F.col("m").alias("l"))
            .union(sm.select(F.col("h"), F.col("m").alias("l")))
            .select(
                F.greatest("h", "l").alias("h"), F.least("h", "l").alias("l")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # set equality in ONE action (VERDICT r10 #6: was three —
        # two counts + a union-distinct count): both sides are
        # already distinct, so prev == cur iff the symmetric
        # difference is empty; isEmpty short-circuits at one row
        converged = (
            prev.subtract(cur).union(cur.subtract(prev)).isEmpty()
        )
        prev = cur
        if converged:
            break
        sym = cur.select(F.col("h").alias("u"), F.col("l").alias("v")).union(
            cur.select(F.col("l").alias("u"), F.col("h").alias("v"))
        )
    # at fixpoint every edge is (node, component-min); singletons
    # and roots are absent (they label themselves downstream)
    return prev, rounds


def _kcore_oracle(n_rounds: int = 5) -> str:
    """Round-unrolled synchronized k-core peeling (DuckDB twin of
    `graph_kcore`): one degree-aggregate + split per round. The
    threshold is data-derived ((3E)//(4V), exact integer division)
    so the peel stays meaningful at every scale factor; survivor
    CTEs are MATERIALIZED because each feeds three consumers in the
    next round (the two endpoint joins and the split)."""
    parts = [
        _EDGES_CTE
        + """
kth AS (SELECT (3 * count(*)) // (4 * count(DISTINCT src)) AS k
        FROM edges),
a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""
d{i} AS (SELECT e.src AS node, count(*) AS c
  FROM edges e JOIN a{i - 1} s ON e.src = s.node
       JOIN a{i - 1} t ON e.dst = t.node
  GROUP BY e.src),
s{i} AS MATERIALIZED (
  SELECT a.node, COALESCE(d.c, 0) AS c
  FROM a{i - 1} a LEFT JOIN d{i} d USING (node)),
a{i} AS MATERIALIZED (
  SELECT node FROM s{i} WHERE c >= (SELECT k FROM kth)),
r{i} AS (SELECT node FROM s{i} WHERE c < (SELECT k FROM kth))"""
        )
    tail = " UNION ALL ".join(
        [f"SELECT node, {i} AS rr FROM r{i}" for i in range(1, n_rounds + 1)]
        + [f"SELECT node, 0 AS rr FROM a{n_rounds}"]
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT node AS part, CAST(rr AS INTEGER) AS removed_round FROM ({tail})"""
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by synchronized peeling (5 rounds) over
    the co-purchase graph: each round recomputes every surviving
    node's degree within the surviving subgraph and removes nodes
    below the threshold. Output is each node's peel round (1-5) or
    0 for the surviving >=k core — the standard coreness signal for
    graph sampling / influence pruning. The threshold is
    data-derived, k = (3E)//(4V) (exact integer division on the
    directed edge/vertex counts), so the peel produces a real
    multi-round cascade at any scale factor instead of going
    degenerate when average degree grows with SF; the bounded-round
    contract (like `graph_label_propagation`'s 3 rounds) is what
    makes the iterative state SQL-oracle-checkable. NOTE the
    residual-core semantics that contract implies: round-5
    survivors carry ``removed_round = 0`` meaning "not peeled
    within 5 rounds", NOT "member of the exact k-core" — a node the
    full fixpoint would peel in round 6+ is reported as core here;
    callers needing exact coreness use `graph_kcore_exact`, the
    fixpoint twin (same peel core, convergence-guarded).

    Scale: the edges take `_edge_layout`; per round the only moving
    state is the alive-node vector — two semi-shaped equi-joins to
    restrict edges, one degree aggregate on src, and one
    checkpointed (node, degree) frame per round that both the doomed
    and survivor splits read, so late-round plans don't re-derive
    earlier rounds' degree joins at action time."""
    edges = _edge_layout(_copurchase_edges(spark, sf_dir))
    return _kcore_peel(edges, _kcore_threshold(edges), n_rounds=5)


def _kcore_threshold(edges: DataFrame) -> DataFrame:
    """1-row (k) frame: k = (3E)//(4V), exact integer division on
    the directed edge/vertex counts of a symmetric edge list."""
    return edges.agg(
        F.count(F.lit(1)).alias("e"), F.countDistinct("src").alias("v")
    ).select(F.expr("(3 * e) div (4 * v)").alias("k"))


def _kcore_peel(
    edges: DataFrame,
    kdf: DataFrame,
    n_rounds: int | None,
    oracle_unroll: int | None = None,
) -> DataFrame:
    """Synchronized k-core peel over a checkpointed SYMMETRIC edge
    list: each round recomputes surviving-subgraph degrees and
    removes nodes below k. Returns (part, removed_round) with
    removed_round = the peel round (1-based) or 0 for survivors.
    ``n_rounds`` bounds the peel (the SQL-oracle-checkable bounded
    contract); ``None`` runs to FIXPOINT with one isEmpty
    convergence action per round (stops the first round nobody
    falls below k — survivors then ARE the exact k-core) and a
    64-round safety guard far above any observed depth.

    ``oracle_unroll`` (fixpoint mode only) enforces the parity
    contract AT RUN TIME (ADVICE r11): the exact twin's DuckDB
    oracle is the peel unrolled a fixed number of rounds, and a
    graph whose peel depth exceeds that unroll would otherwise
    degrade from a loud failure to a silent oracle hash mismatch —
    so the peel itself raises the moment the depth passes the
    unroll, on ANY input, not just the fixture SFs the tests pin."""
    alive = (
        edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    peeled: DataFrame | None = None
    r = 0
    while True:
        r += 1
        # BROADCAST the vertex-sized alive set (r13), for the
        # reason `_pagerank_delta_iterate` broadcasts its vector: the
        # per-round isEmpty action splits this loop into separate
        # jobs, so once `alive` outgrew the 10 MB threshold each
        # round re-paid TWO full edge-set exchange+sorts (sf10 smoke:
        # 273 s isolated, superlinear d2 18.6x). Same ~1e8-node
        # memory bound and past-it remedy (edges bucketed by src/dst).
        deg = (
            edges.join(
                F.broadcast(alive.withColumnRenamed("node", "src")), "src"
            )
            .join(
                F.broadcast(alive.withColumnRenamed("node", "dst")), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        surv = (
            alive.join(deg, "node", "left")
            .crossJoin(F.broadcast(kdf))
            .select("node", F.coalesce("c", F.lit(0)).alias("c"), "k")
            .localCheckpoint()
        )
        doomed = (
            surv.filter(F.col("c") < F.col("k"))
            .select("node", F.lit(r).cast("int").alias("removed_round"))
        )
        if n_rounds is None:
            if doomed.isEmpty():
                break
            if oracle_unroll is not None and r > oracle_unroll:
                raise RuntimeError(
                    f"k-core peel removed nodes in round {r}, past "
                    f"the oracle's {oracle_unroll}-round unroll — "
                    f"parity would silently hash-mismatch; widen "
                    f"_kcore_oracle"
                )
            if r > 64:
                raise RuntimeError("k-core peel did not converge in 64 rounds")
        peeled = doomed if peeled is None else peeled.unionByName(doomed)
        alive = surv.filter(F.col("c") >= F.col("k")).select("node")
        if n_rounds is not None and r >= n_rounds:
            break
    core = alive.select(
        "node", F.lit(0).cast("int").alias("removed_round")
    )
    out = core if peeled is None else peeled.unionByName(core)
    return out.select(F.col("node").alias("part"), "removed_round")


@query("graph_kcore_exact", oracle=_kcore_oracle(16))
def graph_kcore_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT twin of `graph_kcore` (VERDICT r10 #7, the
    triangles/doulion pattern: exact + bounded, both oracled):
    peels to FIXPOINT, so ``removed_round = 0`` really means
    "member of the k-core" — not `graph_kcore`'s weaker "not
    peeled within 5 rounds". Convergence costs ONE isEmpty action
    per round on the doomed split the round computes anyway.

    Oracle parity contract (hardened r12 per VERDICT r11 #5 +
    ADVICE): the DuckDB twin is the same peel round-unrolled 16
    deep — empty late rounds contribute nothing, so the unroll only
    needs to COVER the fixpoint depth, which measures 3/8/8 rounds
    at sf0.001/0.01/0.1 (the peel depth of a degree-threshold
    cascade grows with graph diameter, not size). The contract is
    enforced in TWO layers: tests pin the measured fixture depth to
    <= unroll-4 (12), keeping four rounds of headroom before the
    cliff, and `_kcore_peel` itself raises on ANY input whose peel
    removes nodes past round 16 — so depth growth surfaces as a
    loud runtime error, never a silent hash mismatch. Per-round
    cost is identical to `graph_kcore`: two alive-restriction
    joins + one degree aggregate on the node key, checkpointed
    once per round."""
    edges = _edge_layout(_copurchase_edges(spark, sf_dir))
    return _kcore_peel(
        edges, _kcore_threshold(edges), n_rounds=None, oracle_unroll=16
    )
