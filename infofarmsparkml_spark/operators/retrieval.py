"""Inverted-index-family operators: substring-window duplicate-span
detection and BM25 lexical retrieval.

These close the two text-index capabilities the dedup/similarity
family (llm.py) and curation family (llm_curation.py) did not yet
cover:

- ``llm_dup_substring`` — span-level duplicate detection in the
  style of Lee et al., "Deduplicating Training Data Makes Language
  Models Better" (window-hash variant of the suffix-array method):
  fixed-length character windows at a stride, hashed; a window
  shared by >= 2 distinct documents marks a duplicated span. Doc-
  level dedup (llm_exact_dedup / minhash) misses these partial
  overlaps; this op reports per-document duplicated-span coverage.
- ``llm_bm25_topk`` — classic lexical retrieval (Lucene-style
  BM25 with the log(1 + (N-df+.5)/(df+.5)) idf, k1=1.2, b=0.75)
  over an inverted index built with plain groupBy aggregates.

Scale posture: both ops are inverted-index builds — one narrow
shuffle keyed on the window-hash / term, which is exactly how a
100 TB index build distributes. No Python UDFs, no driver
materialization; every hash/score is computed JVM-side in
whole-stage codegen.

Cross-engine exactness (the repo's oracle discipline): md5 is
bit-identical in Spark/DuckDB; all counts are exact integers; BM25
per-term contributions are floor-quantized to integer micro-units
BEFORE the per-document sum, so the aggregate is an order-free
exact-integer SUM rather than a float fold. The only operation
whose cross-engine bit-identity is not IEEE-guaranteed is the
single ``ln`` inside idf; it is quantized at 1e6 with inputs that
ARE bit-identical (one IEEE division of exact integers), so a
boundary flip needs the true value within ~1 ulp of an integer
micro-unit (~1e-9 probability per distinct term — and a flip
shifts a score by 1 micro-unit, which changes the emitted ranking
only on a near-exact tie). tests/test_operators.py::
test_bm25_idf_no_boundary_sitting_terms enforces this empirically:
every distinct df at the tested SF must keep >1e-6 distance from a
micro-unit boundary (>100x the worst cross-engine ln disagreement),
so a boundary-sitting term fails loudly there instead of as an
opaque parity hash mismatch. See SURVEY.md §7 oracle-parity rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query

# Window length / stride for the span hasher. 40 chars ~ 7 words of
# the fixture vocabulary; stride 10 bounds index expansion at 4x the
# corpus (W/S) while keeping >= 75% overlap between adjacent
# windows, so any duplicated run >= W+S-1 chars is guaranteed to
# align on at least one stride boundary in both copies.
_WIN = 40
_STRIDE = 10


@query(
    "llm_dup_substring",
    oracle=f"""
WITH w AS (
  SELECT doc_id, md5(substr(text, CAST(p AS INTEGER), {_WIN})) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {_WIN - 1}, {_STRIDE})) AS p
        FROM documents WHERE length(text) >= {_WIN})
),
g AS (SELECT h, doc_id, CAST(count(*) AS BIGINT) AS cnt
      FROM w GROUP BY h, doc_id),
gw AS (SELECT doc_id, cnt,
              count(*) OVER (PARTITION BY h) AS ndocs
       FROM g),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_win,
         CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup
  FROM gw GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_win, 0) AS n_win,
       COALESCE(p.n_dup, 0) AS n_dup,
       CAST(CASE WHEN p.n_win IS NOT NULL
                 THEN 1000 * p.n_dup // p.n_win ELSE 0 END AS BIGINT)
         AS dup_permille,
       COALESCE(p.n_dup, 0) >= 3 AS flagged
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def llm_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate-span coverage (window-hash method).

    Every document emits md5 hashes of its 40-char windows at
    stride 10 (docs shorter than one window emit none and report
    zero coverage); a hash held by >= 2 distinct documents is a
    duplicated span. Output per document: total windows, duplicated
    windows, integer permille coverage, and a >= 3-window flag.

    Plan shape (the 100 TB shape): explode stays in codegen; one
    hash-aggregate on (h, doc_id) collapses within-doc repeats; the
    cross-doc count is a WINDOW over h on the already-aggregated
    relation — same shuffle key as the aggregate and NO self-join,
    and an explicit repartition(h) lets both share it, so the span
    index is built with exactly one exchange on h (a
    boilerplate-heavy hot hash is an AQE-skew case, same as any hot
    group key) plus one on doc_id for the rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    win = (
        docs.filter(F.length("text") >= _WIN)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.length("text") - (_WIN - 1),
                        F.lit(_STRIDE),
                    ),
                    lambda p: F.md5(F.substring(F.col("text"), p, _WIN)),
                )
            ).alias("h"),
        )
    )
    # Pre-partition on h: HashPartitioning(h) satisfies the
    # ClusteredDistribution of BOTH the (h, doc_id) aggregate and
    # the per-hash window below, so the whole cross-doc count runs
    # on ONE exchange instead of (h, doc_id) + h.
    g = (
        win.repartition("h")
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    gw = g.select(
        "doc_id",
        "cnt",
        F.count(F.lit(1)).over(W.partitionBy("h")).alias("ndocs"),
    )
    per_doc = gw.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_win"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_dup"
        ),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_win", F.lit(0)).cast("long").alias("n_win"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(
                F.col("n_win").isNotNull(), F.expr("1000 * n_dup div n_win")
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_permille"),
            (F.coalesce("n_dup", F.lit(0)) >= 3).alias("flagged"),
        )
    )


@query(
    "llm_bm25_topk",
    oracle="""
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, dl, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
          FROM documents),
qterms AS (
  SELECT term, df, CAST((rn - 10) // 4 AS INTEGER) AS query_id
  FROM (SELECT term, df,
               row_number() OVER (ORDER BY df DESC, term) AS rn
        FROM df)
  WHERE rn BETWEEN 10 AND 21
),
contrib AS (
  SELECT q.query_id, t.doc_id,
         CAST(floor(
           floor(1000000.0 * ln(1.0 + (2.0 * (s.n_docs - q.df) + 1.0)
                                      / (2.0 * q.df + 1.0)))
           * t.tf * 2.2
           / (t.tf + 1.2 * (1.0 - 0.75
                            + 0.75 * t.dl
                              / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
         ) AS BIGINT) AS c
  FROM tf t JOIN qterms q ON t.term = q.term CROSS JOIN stats s
),
scores AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
           FROM contrib GROUP BY query_id, doc_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id) AS INTEGER)
         AS rnk,
       doc_id, score_micro
FROM scores
QUALIFY rnk <= 10
""",
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query over a groupBy-built inverted index.

    The query workload is derived from the corpus itself so the op
    is self-contained at any scale: terms ranked 10..21 by document
    frequency (ties broken lexically) form 3 queries of 4 terms.
    Scoring is Lucene-style BM25 (idf = ln(1 + (N-df+.5)/(df+.5)),
    k1 = 1.2, b = 0.75) with per-term contributions floor-quantized
    to integer micro-units before the per-document SUM — an exact
    order-free integer aggregate, which is what makes an LSH-free
    float-scored ranker SQL-hash-checkable (see module docstring
    for the 1-ulp ln analysis; every other op is IEEE-exact from
    integer inputs written with the identical expression tree on
    both sides, e.g. (N-df+0.5)/(df+0.5) as one division of the
    exact integers 2(N-df)+1 and 2df+1).

    Plan shape: dl rides the explode so postings aggregate in ONE
    shuffle on (doc_id, term); df is a second narrow aggregate on
    term (the index-build shuffle at 100 TB); the 12-term query
    table and the 1-row corpus stats broadcast onto the postings;
    top-k is a window per query_id. The term-rank window is global
    but runs over the term VOCABULARY (orders of magnitude smaller
    than the corpus), not over postings.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tok = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    # r16 (guide §2.4/§5): tf (the postings table) feeds BOTH the
    # document-frequency aggregate and the scoring join, and exchange
    # reuse does not fire across the differently-pruned consumers —
    # the corpus explode + (doc_id, dl, term) aggregate ran TWICE
    # (3 parquet scans in the before plan). localCheckpoint builds
    # the inverted index once (what a real retrieval system persists
    # anyway); measured at sf0.1: median 2.78 s → 2.41 s, results
    # bit-identical.
    #
    # r17 (ADVICE r16): the trade-offs of localCheckpoint here are
    # deliberate and bounded. (a) It runs the postings job EAGERLY at
    # DataFrame-construction time — acceptable because every harness
    # (bench.py, measure.py contract, the external driver) times/verifies
    # construction + execution together, so the cost is never hidden,
    # and each call builds a FRESH checkpoint (results reflect the
    # parquet inputs at call time, never a stale copy). (b) The lazy
    # alternative, .persist(), was evaluated and REJECTED: Spark's
    # CacheManager matches canonicalized plans, so a persisted
    # postings table from bench run 1 would be silently reused by
    # runs 2-3 of the same query (fn() re-built per run) — cross-run
    # result caching, which the driver contract forbids. (c) Lineage
    # truncation: executor loss makes the checkpointed index
    # unrecoverable mid-query; at cluster scale the production form
    # is an explicit index table on storage (the pattern
    # llm_ivf_pq_partitioned demonstrates), not a bigger cache.
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint()
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("sum_dl"),
    )
    rn = F.row_number().over(W.orderBy(F.col("df").desc(), "term"))
    qterms = (
        df.withColumn("rn", rn)
        .filter(F.col("rn").between(10, 21))
        .select(
            "term",
            "df",
            ((F.col("rn") - 10) / 4).cast("int").alias("query_id"),
        )
    )
    idf_micro = F.floor(
        F.lit(1000000.0)
        * F.log(
            F.lit(1.0)
            + (2.0 * (F.col("n_docs") - F.col("df")) + 1.0)
            / (2.0 * F.col("df") + 1.0)
        )
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                idf_micro * F.col("tf") * 2.2
                / (
                    F.col("tf")
                    + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)
                )
            ).alias("c"),
        )
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("score_micro")
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), "doc_id"
    )
    return (
        scores.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "rnk", "doc_id", "score_micro")
    )
