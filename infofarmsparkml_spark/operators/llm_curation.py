"""Corpus-curation operators — the second wave of LLM-training-data
ops beyond dedup/similarity (llm.py): within-document repetition
scoring, benchmark-contamination screening, deterministic quota
sampling, mixture rebalancing, prefix dedup and a unigram
log-probability quality score.

Common scale posture: everything is either map-only (per-document
n-gram generation stays inside whole-stage codegen via
``transform``/``explode``) or a single hash-aggregate; the one join
(contamination) broadcasts the benchmark n-gram set, which is tiny
by construction. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.operators.llm import (
    _BAND_BITS_CASE_SQL,
    _SRP_WEIGHTS_ADAPTIVE_CTES,
    _adaptive_band_bits,
    _quant_vecs,
    _srp_band_keys,
)
from infofarmsparkml_spark.registry import query


def _ngrams_of(ws, n: int):
    """Array of space-joined word n-grams of an ALREADY-BOUND token
    array column ``ws``. Empty array when the doc has < n words —
    guarded because Spark's ``sequence(1, 0)`` counts DOWN.

    Callers must pre-project the split (``split(text, ' ') AS ws``)
    in a prior select: codegen re-evaluates a ``split`` expression
    embedded in a higher-order lambda once PER ELEMENT (it is not
    hoisted as loop-invariant), so the inlined form costs O(tokens)
    splits per document — measured 3x slower on the 8-gram explode
    at sf0.1. A bound column reference is evaluated once per row."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# DuckDB twin of _ngrams_of: list_transform over range() — the
# same shape as Spark's transform/sequence, so the two sides agree
# on the n-gram multiset by construction.
def _duck_ngrams(n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len(ws) - {n - 2}, 1)), "
        f"i -> array_to_string(ws[i:i+{n - 1}], ' '))"
    )


@query(
    "llm_repetition_score",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tg AS (SELECT doc_id, unnest({_duck_ngrams(3)}) AS tg FROM w)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(COUNT(DISTINCT tg) AS BIGINT) AS n_distinct,
       ROUND(1.0 - COUNT(DISTINCT tg) / COUNT(*), 4) AS dup_ratio
FROM tg GROUP BY doc_id
""",
)
def llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of word trigrams that
    are duplicates (1 - distinct/total). The standard boilerplate /
    degenerate-generation filter in pretraining pipelines.

    Scale: n-gram expansion happens inside codegen (transform over
    the split array — no shuffle), then ONE hash-aggregate keyed by
    doc_id, which is near-unique → no skew. At 100 TB this is a
    map-heavy pass whose shuffle carries only (doc_id, counts).
    """
    docs = load_table(spark, sf_dir, "documents")
    tg = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", F.explode(_ngrams_of(F.col("ws"), 3)).alias("tg"))
    return tg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.countDistinct("tg").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("tg") / F.count(F.lit(1)), 4
        ).alias("dup_ratio"),
    )


@query(
    "llm_contamination",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
grams AS (SELECT doc_id, unnest({_duck_ngrams(8)}) AS g FROM w),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
corpus AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
SELECT c.doc_id,
       CAST(COUNT(b.g) AS BIGINT) AS n_hits,
       COUNT(b.g) > 0 AS contaminated
FROM corpus c LEFT JOIN bench b ON c.g = b.g
GROUP BY c.doc_id
""",
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: count distinct 8-gram
    overlaps between each corpus doc and a held-out benchmark set
    (here: docs with doc_id % 97 == 0 stand in for the benchmark).
    The standard pre-training decontamination pass (GPT-3 appendix C
    uses 13-gram overlap; 8 fits this fixture's ~30-word docs).

    Scale: the benchmark n-gram set is tiny (benchmarks are MBs, the
    corpus is TBs) → broadcast hash join against it; corpus n-grams
    are generated map-side and never shuffled. The only exchange is
    the per-doc_id count aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", F.explode(_ngrams_of(F.col("ws"), 8)).alias("g"))
    bench = (
        grams.where(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    corpus = (
        grams.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", "g")
        .distinct()
    )
    hits = corpus.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "g", "left"
    )
    return hits.groupBy("doc_id").agg(
        F.count("hit").alias("n_hits"),
        (F.count("hit") > 0).alias("contaminated"),
    )


@query(
    "llm_quota_sample",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents)
SELECT doc_id, source, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 20
""",
)
def llm_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sampling: keep the 20 docs per
    source with the smallest md5(doc_id) — a salted-hash ordering
    that is uniform-random in distribution yet reproducible across
    engines and runs (no RNG seed to drift).

    Scale: two-level top-k so no task ever sorts a whole source.
    Level 1 salts each source into 64 sub-partitions and takes the
    per-salt top-20 (each sub-sort sees ~1/64 of the source); level
    2 re-ranks only the <=20*64 surviving candidates per source.
    Because every global top-20 row is necessarily in its salt's
    top-20, the result is identical to the single-window form, but
    the heavy sort is sharded — a billion-doc source costs 64
    bounded sorts plus one 1280-row sort instead of one
    billion-row sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    salted = docs.select(
        "doc_id",
        "source",
        "lang",
        key.alias("_k"),
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64)).alias("_salt"),
    )
    w_local = W.partitionBy("source", "_salt").orderBy("_k", "doc_id")
    cand = (
        salted.withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= 20)
        .drop("_r", "_salt")
    )
    w_final = W.partitionBy("source").orderBy("_k", "doc_id")
    return (
        cand.withColumn(
            "sample_rank", F.row_number().over(w_final).cast("long")
        )
        .where(F.col("sample_rank") <= 20)
        .drop("_k")
    )


@query(
    "llm_mix_rebalance",
    oracle="""
WITH cell AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source)
SELECT lang, source, n_docs,
       ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 6) AS actual_share,
       ROUND((1.0 / COUNT(*) OVER ())
             / (n_docs * 1.0 / SUM(n_docs) OVER ()), 6) AS weight
FROM cell
""",
)
def llm_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: per (lang, source) cell, the sampling
    weight that flattens the corpus to a uniform mix over observed
    cells (weight = target_share / actual_share). This is the
    domain-reweighting step of pipelines like DoReMi/Pile — the
    weights then feed `sampleBy` or repetition factors.

    Scale: one hash-aggregate down to the cell cardinality (tiny),
    then window totals over that tiny frame — the expensive part
    touches each row exactly once map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_all = W.partitionBy()
    actual = F.col("n_docs") / F.sum("n_docs").over(w_all)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w_all)
    return cell.select(
        "lang",
        "source",
        "n_docs",
        F.round(actual, 6).alias("actual_share"),
        F.round(target / actual, 6).alias("weight"),
    )


@query(
    "llm_prefix_dedup",
    oracle="""
WITH w AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:16], ' '))
           AS prefix_hash
  FROM documents)
SELECT prefix_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM w GROUP BY prefix_hash
""",
)
def llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup: collapse documents sharing their first 16
    words (templated boilerplate, mirrored pages with different
    tails). Cheaper than MinHash and catches a different duplicate
    class than whole-content hashing.

    Scale: identical shape to llm_exact_dedup — hash-groupBy on a
    16-word digest with map-side partial aggregation; the digest is
    computed in codegen (slice + md5), no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 16), " "
    )
    return docs.groupBy(F.md5(prefix).alias("prefix_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "llm_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (
  SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
tot AS (SELECT SUM(cnt) AS n FROM freq)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(LN(f.cnt / tot.n)), 4) AS avg_logprob
FROM tok t JOIN freq f ON t.w = f.w CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: average ln P(token)
    under the corpus's own unigram distribution — the cheap
    perplexity proxy used to rank documents for quality filtering
    (low avg log-prob = rare-token gibberish).

    Scale: two passes. Pass 1 builds the unigram table (hash-agg
    down to vocabulary cardinality); pass 2 re-expands tokens and
    joins the frequency table. The frequency side carries NO
    broadcast hint: an open-web 100 TB corpus has a multi-GB token
    vocabulary, so the join strategy is left to AQE, which
    broadcasts when the built table is actually small and falls
    back to a shuffle join when it is not. Only the 1-row grand
    total is hint-broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    n_total = freq.agg(F.sum("cnt").alias("n"))
    scored = tok.join(freq, "w").join(F.broadcast(n_total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.avg(F.log(F.col("cnt") / F.col("n"))), 4
        ).alias("avg_logprob"),
    )


@query(
    "llm_incremental_dedup",
    oracle="""
WITH hashed AS (
  SELECT doc_id, source, lang,
         md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS h
  FROM documents),
existing AS (SELECT h FROM hashed WHERE doc_id % 3 <> 0),
incoming AS (
  SELECT doc_id, source, lang, h FROM hashed WHERE doc_id % 3 = 0)
SELECT i.doc_id, i.source, i.lang
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.h)
""",
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot (incremental) dedup: admit only the
    incoming-batch documents whose fingerprint does not already
    exist in the accumulated corpus — the shape every continuously-
    crawled training set runs daily, where re-scanning the full
    corpus per batch is not an option. The fingerprint is the md5
    of the first-5-word prefix (the fixture has no byte-identical
    texts, but prefix collisions exist — same keying as
    `llm_prefix_dedup`); the fixture splits documents by doc_id
    residue into 'existing' (2/3) and 'incoming' (1/3).

    Scale: fingerprint once per side, LEFT ANTI join on the 128-bit
    digest. The anti-join hash-partitions on the digest — uniformly
    distributed by construction, so no skew — and the incoming side
    is the small one, which AQE broadcasts when it fits. In
    production the existing side is the persisted fingerprint index
    (one column of a manifest table), not the corpus itself."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.withColumn(
        "h",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))),
    )
    existing = hashed.filter(F.col("doc_id") % 3 != 0).select("h")
    incoming = hashed.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", "lang", "h"
    )
    return incoming.join(existing, "h", "left_anti").select(
        "doc_id", "source", "lang"
    )


@query(
    "llm_curation_pipeline",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, lang, text,
         string_split(text, ' ') AS ws
  FROM documents WHERE lang = 'en'),
scored AS (
  SELECT doc_id, source, lang,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         1.0 - len(list_distinct({_duck_ngrams(3)}))
             / greatest(len({_duck_ngrams(3)}), 1) AS dup_ratio,
         md5(array_to_string(ws[1:5], ' ')) AS prefix_h
  FROM base),
quality AS (
  SELECT * FROM scored WHERE n_tokens >= 20 AND dup_ratio <= 0.2),
deduped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY prefix_h ORDER BY doc_id)
            AS dup_rank
  FROM quality),
sampled AS (
  SELECT doc_id, source, lang, n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM deduped WHERE dup_rank = 1)
SELECT doc_id, source, lang, n_tokens,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM sampled WHERE sample_rank <= 50
""",
)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation composite — the integration query
    a training-data pipeline actually ships, chaining the verified
    stages: language filter → quality gate (length + trigram
    repetition) → prefix dedup (keep lowest doc_id per fingerprint)
    → deterministic per-source quota sample. One registered query
    so the whole chain is hash-verified end to end, not just each
    stage in isolation.

    Scale: the filters and scores are map-only (the trigram dup
    ratio uses array_distinct on the in-row n-gram array — no
    explode, no shuffle); dedup is one window on the 128-bit prefix
    hash (uniform, skew-free); the quota sample is the final window
    over the already-reduced survivor set. Three shuffles total on a
    corpus-sized input, each on a well-distributed key. Both rank
    windows compile with partial WindowGroupLimit pushdown (asserted
    in tests/test_plans.py): every map task keeps at most k rows per
    key BEFORE the exchange, so even the source-keyed quota window
    never sorts a whole source in one task — the optimizer now
    provides what llm_quota_sample builds explicitly with salts."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .withColumn("ws", F.split(F.col("text"), " "))
    )
    tg = _ngrams_of(F.col("ws"), 3)
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size("ws").cast("long").alias("n_tokens"),
        (
            1.0
            - F.size(F.array_distinct(tg))
            / F.greatest(F.size(tg), F.lit(1))
        ).alias("dup_ratio"),
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))
        ).alias("prefix_h"),
    )
    quality = scored.filter(
        (F.col("n_tokens") >= 20) & (F.col("dup_ratio") <= 0.2)
    )
    w_dup = W.partitionBy("prefix_h").orderBy("doc_id")
    deduped = (
        quality.withColumn("dup_rank", F.row_number().over(w_dup))
        .filter(F.col("dup_rank") == 1)
    )
    w_q = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        deduped.select("doc_id", "source", "lang", "n_tokens")
        .withColumn("sample_rank", F.row_number().over(w_q).cast("long"))
        .filter(F.col("sample_rank") <= 50)
    )


@query(
    "llm_bigram_logprob",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws), 1)),
                i -> ws[i] || ' ' || ws[i+1])) AS b
  FROM w WHERE len(ws) >= 2),
sp AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM bg),
bgc AS (SELECT b, COUNT(*) AS cb FROM sp GROUP BY b),
uc AS (SELECT w1, COUNT(*) AS cu FROM sp GROUP BY w1)
SELECT sp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(LN(bgc.cb * 1.0 / uc.cu)), 4) AS avg_bigram_logprob
FROM sp JOIN bgc USING (b) JOIN uc USING (w1)
GROUP BY sp.doc_id
""",
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: average
    ln P(w_i | w_{i-1}) under the corpus's own MLE bigram model —
    the next step up from `llm_unigram_logprob` and the cheap stand-
    in for KenLM-style perplexity filtering. Two corpus-built count
    tables (bigram and conditioning-unigram, both vocabulary²- and
    vocabulary-bounded), joined back to the exploded bigrams with no
    broadcast hints (AQE decides, same reasoning as the unigram op),
    then one per-doc aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", F.explode(_ngrams_of(F.col("ws"), 2)).alias("b"))
    sp = bg.withColumn("w1", F.split(F.col("b"), " ").getItem(0))
    bgc = sp.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    uc = sp.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    scored = sp.join(bgc, "b").join(uc, "w1")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(F.log(F.col("cb") / F.col("cu"))), 4).alias(
            "avg_bigram_logprob"
        ),
    )


@query(
    "llm_vocab_coverage",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT lang, w, COUNT(*) AS cnt FROM tok GROUP BY lang, w),
tot AS (SELECT lang, SUM(cnt) AS n FROM c GROUP BY lang),
r AS (
  SELECT c.lang, c.cnt, tot.n,
         SUM(c.cnt) OVER (PARTITION BY c.lang ORDER BY c.cnt DESC, c.w)
           AS cum,
         ROW_NUMBER() OVER (PARTITION BY c.lang ORDER BY c.cnt DESC, c.w)
           AS rn
  FROM c JOIN tot USING (lang))
SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(MIN(CASE WHEN cum >= 0.95 * n THEN rn END) AS BIGINT)
         AS v95_tokens
FROM r GROUP BY lang
""",
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary audit: per language, the total
    vocabulary size and how many top-frequency types cover 95% of
    token occurrences — the number that sizes a tokenizer's vocab
    (and exposes languages the tokenizer will fragment). The heavy
    corpus pass is one hash-aggregate down to (lang, type) counts;
    the ranking window then runs on VOCABULARY-sized data (bounded
    by distinct types, not corpus tokens), which is the correct
    place to pay a per-lang sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    c = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.groupBy("lang").agg(F.sum("cnt").alias("n"))
    w_rank = W.partitionBy("lang").orderBy(F.desc("cnt"), "w")
    r = (
        c.join(tot, "lang")
        .withColumn(
            "cum",
            F.sum("cnt").over(
                w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn("rn", F.row_number().over(w_rank))
    )
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.min(
            F.when(F.col("cum") >= 0.95 * F.col("n"), F.col("rn"))
        ).alias("v95_tokens"),
    )


@query(
    "llm_quality_scorecard",
    oracle=f"""
WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
           FROM documents),
tg AS (SELECT doc_id, unnest({_duck_ngrams(3)}) AS tg FROM w),
rep AS (
  SELECT doc_id, ROUND(1.0 - COUNT(DISTINCT tg) / COUNT(*), 4) AS dup_ratio
  FROM tg GROUP BY doc_id),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT SUM(cnt) AS n FROM freq),
lp AS (
  SELECT tok.doc_id, ROUND(AVG(LN(freq.cnt / tot.n)), 4) AS avg_logprob
  FROM tok JOIN freq USING (t) CROSS JOIN tot GROUP BY tok.doc_id)
SELECT w.doc_id, w.lang, w.source,
       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       rep.dup_ratio, lp.avg_logprob,
       (len(w.ws) >= 20 AND rep.dup_ratio <= 0.2) AS passes_gate
FROM w JOIN rep USING (doc_id) JOIN lp USING (doc_id)
""",
)
def llm_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized per-document quality table — what a curation
    pipeline persists so that filter decisions are auditable and
    re-tunable without recomputing: token count, trigram repetition,
    unigram log-prob, and the resulting gate verdict in one frame.

    Scale: three metric families computed in parallel branches over
    one documents scan lineage, each reduced to (doc_id, metric)
    before the joins — the joins therefore carry one row per doc,
    not per token. doc_id is unique so the join keys are skew-free;
    no broadcast hints on the corpus-derived frequency table (AQE
    decides, as in llm_unigram_logprob)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    tg = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", F.explode(_ngrams_of(F.col("ws"), 3)).alias("tg"))
    rep = tg.groupBy("doc_id").agg(
        F.round(
            1.0 - F.countDistinct("tg") / F.count(F.lit(1)), 4
        ).alias("dup_ratio")
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    lp = (
        tok.join(freq, "t")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("cnt") / F.col("n"))), 4).alias(
                "avg_logprob"
            )
        )
    )
    return (
        base.join(rep, "doc_id")
        .join(lp, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "dup_ratio",
            "avg_logprob",
            (
                (F.col("n_tokens") >= 20) & (F.col("dup_ratio") <= 0.2)
            ).alias("passes_gate"),
        )
    )


@query(
    "llm_temperature_mix",
    oracle="""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source),
iw AS (SELECT source, n_docs,
              CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS isq
       FROM per_src),
tot AS (SELECT SUM(isq) AS s FROM iw)
SELECT source, n_docs,
       CAST(1000 * isq // (SELECT s FROM tot) AS BIGINT) AS quota,
       CAST(LEAST(1000 * isq // (SELECT s FROM tot), n_docs) AS BIGINT)
         AS n_sampled
FROM iw
""",
)
def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture plan (the T5/LLaMA data-mix
    recipe): per-source sampling quota proportional to n^alpha with
    alpha = 0.5, damping dominant sources and boosting the tail,
    for a 1000-doc training budget. All arithmetic is
    engine-exact: sqrt is IEEE correctly-rounded in both engines,
    the weight is quantized to an integer (floor(sqrt(n)·10^6))
    before the order-independent integer SUM, and the quota is one
    integer multiply + floor-div — no float summation anywhere, so
    the plan table hash-matches bit-for-bit. At 100 TB this is a
    per-source count aggregate plus a broadcast 1-row total: the
    corpus itself is only touched by the count."""
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint the per-source counts: they feed both the
    # output rows and the weight total, and without materialization
    # Catalyst re-derives the aggregate — i.e. scans the corpus —
    # once per consumer (plan-pinned to ONE scan in tests).
    per_src = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint()
    )
    iw = per_src.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * 1000000).alias("isq"),
    )
    tot = iw.agg(F.sum("isq").alias("s"))
    # `div` is exact integer floor-division, matching the oracle's
    # `//` — a double quotient cast to long can land on the wrong
    # side of an integer once 1000*isq exceeds ~2^44 (ADVICE r5).
    quota = F.expr("1000 * isq div s")
    return (
        iw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            quota.alias("quota"),
            F.least(quota, F.col("n_docs")).alias("n_sampled"),
        )
    )


@query(
    "llm_leakage_safe_split",
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang, source,
         CASE WHEN CAST(('0x' || substring(md5(source), 1, 4)) AS INT)
                   % 10 < 8
              THEN 'train' ELSE 'val' END AS split
  FROM documents),
leaks AS (
  SELECT COUNT(*) AS n FROM (
    SELECT source FROM assigned GROUP BY source
    HAVING COUNT(DISTINCT split) > 1))
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST((SELECT n FROM leaks) AS BIGINT) AS n_leaked_sources
FROM assigned GROUP BY split, lang
""",
)
def llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation split: the unit of assignment
    is the SOURCE, not the document — a near-duplicate of a val doc
    from the same crawl domain must not land in train, so the whole
    group goes to one side (md5(source) mod 10: 80/20). The output
    is the per-(split, lang) audit with a global
    `n_leaked_sources` column that the pipeline gates on — it is 0
    by construction here, and the query computes it rather than
    assuming it, exactly what a CI data gate should do. Group-level
    hashing needs no shuffle of the corpus: the split is a pure
    per-row expression, and only the audit aggregates exchange."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("int") % 10
        < 8,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    assigned = docs.select("doc_id", "lang", "source", split.alias("split"))
    leaks = (
        assigned.groupBy("source")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaked_sources"))
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split", "lang", "n_docs", "n_sources", "n_leaked_sources"
        )
    )


@query(
    "llm_dataset_card",
    oracle="""
WITH per_doc AS (
  SELECT lang, source, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_exact_dups,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM per_doc GROUP BY lang, source
""",
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per (lang, source) cell — the summary
    table a corpus release ships with (doc counts, token/char
    volume, within-cell exact-duplicate count, length bounds). One
    hash aggregate over the corpus; everything is integer-exact, so
    the card hash-matches bit-for-bit. The distinct-text count is
    the only non-trivially-partial piece — Spark plans it as the
    standard two-phase distinct-aggregate expansion, still one scan.
    At 100 TB this is the audit you run AFTER `llm_dedup_cascade`
    and BEFORE `llm_temperature_mix` consumes the cell sizes."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    per_doc = docs.select(
        "lang",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dups"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@query(
    "llm_dedup_url",
    oracle="""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END
         || CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END
         || '.example.com/doc/' || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN '?utm_source=feed&utm_campaign='
                      || CAST(doc_id % 4 AS VARCHAR)
                 ELSE '' END AS url
  FROM documents),
canon AS (
  SELECT doc_id, url,
         lower(regexp_extract(regexp_replace(url, '^https?://', ''),
                              '^([^/?]+)', 1))
         || regexp_replace(
              regexp_replace(
                regexp_extract(regexp_replace(url, '^https?://', ''),
                               '^[^/?]+([^?]*)', 1),
                '\\?.*$', ''),
              '/$', '') AS canonical_url
  FROM u)
SELECT canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM canon GROUP BY canonical_url
""",
)
def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup stage of every
    crawl pipeline (one page, many crawl URLs): strip the scheme,
    lowercase the host, drop the query string (tracking params) and
    the trailing slash, then keep the smallest doc_id per canonical
    URL. The fixture has no URL column, so URLs are synthesized
    deterministically from (source, doc_id) WITH the noise the
    canonicalizer must defeat — http/https mix, upper-cased hosts,
    utm tracking params, trailing slashes — and doc_id % 50 paths
    force real collisions. Canonicalization operates on the URL
    STRING (regex host/path split), not on the components it was
    built from, so the oracle genuinely checks the normalizer.

    Scale: pure per-row codegen string ops + ONE hash aggregate on
    the canonical key (uniform by construction, no skew); the
    keeper rule (MIN doc_id) is associative, so map-side combine
    applies. Same decision contract as `llm_exact_dedup` (hash) and
    `llm_semantic_dedup` (embedding): smallest-id canonical wins."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 5 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com/doc/"),
        (did % 50).cast("string"),
        F.when(did % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign="),
                (did % 4).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", url.alias("url"))
    stripped = F.regexp_replace("url", r"^https?://", "")
    host = F.lower(F.regexp_extract(stripped, r"^([^/?]+)", 1))
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(stripped, r"^[^/?]+([^?]*)", 1), r"\?.*$", ""
        ),
        r"/$",
        "",
    )
    canon = u.select("doc_id", F.concat(host, path).alias("canonical_url"))
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "llm_perplexity_bucket",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
doc_score AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(f.cnt) AS BIGINT) AS sum_cnt,
         CAST(SUM(f.cnt) AS DOUBLE) / COUNT(*) AS score
  FROM tok t JOIN freq f ON f.w = t.w GROUP BY t.doc_id),
mu AS (
  SELECT CAST(SUM(sum_cnt) AS DOUBLE) / SUM(n_tokens) AS mu
  FROM doc_score),
banded AS (
  SELECT d.*,
         CASE WHEN score < mu * 0.8  THEN '1_very_rare'
              WHEN score < mu * 0.95 THEN '2_rare'
              WHEN score < mu * 1.05 THEN '3_typical'
              WHEN score < mu * 1.2  THEN '4_common'
              ELSE '5_very_common' END AS bucket
  FROM doc_score d CROSS JOIN mu)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(sum_cnt) AS DOUBLE) / SUM(n_tokens), 6)
         AS pooled_mean_freq,
       ROUND(MIN(score), 6) AS min_score,
       ROUND(MAX(score), 6) AS max_score
FROM banded GROUP BY bucket
""",
)
def llm_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality banding: each document scored by the
    mean corpus frequency of its tokens (rare-token docs ≈ high
    perplexity), then banded into five buckets by ratio to the
    corpus pooled mean — the curation step that picks retention
    rates per quality band (à la CCNet's perplexity buckets).

    Engine-exactness: the score is one IEEE division of two exact
    integers (token-count sums), and the band thresholds are single
    multiplies of the exact pooled mean — no transcendental (`ln`)
    anywhere near a comparison, unlike `llm_unigram_logprob` whose
    rounded display value tolerates ulp drift. Banding by
    corpus-relative thresholds instead of ntile keeps the operator
    fully distributed: no global sort exists at any scale — scoring
    is the `llm_unigram_logprob` two-pass join, the mean is a 1-row
    broadcast, the banding a per-row CASE."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    doc_score = (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
        .withColumn(
            "score", F.col("sum_cnt").cast("double") / F.col("n_tokens")
        )
    )
    mu = doc_score.agg(
        (F.sum("sum_cnt").cast("double") / F.sum("n_tokens")).alias("mu")
    )
    bucket = (
        F.when(F.col("score") < F.col("mu") * 0.8, F.lit("1_very_rare"))
        .when(F.col("score") < F.col("mu") * 0.95, F.lit("2_rare"))
        .when(F.col("score") < F.col("mu") * 1.05, F.lit("3_typical"))
        .when(F.col("score") < F.col("mu") * 1.2, F.lit("4_common"))
        .otherwise(F.lit("5_very_common"))
    )
    return (
        doc_score.crossJoin(F.broadcast(mu))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("sum_cnt").cast("double") / F.sum("n_tokens"), 6
            ).alias("pooled_mean_freq"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


@query(
    "llm_diversity_sample",
    oracle="""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
q AS (SELECT vec_id, list_transform(e, x -> floor(x * 1048576.0)) AS qv
      FROM base),"""
    + _SRP_WEIGHTS_ADAPTIVE_CTES.format(case=_BAND_BITS_CASE_SQL, n_bands=1)
    + """,
sized AS (
  SELECT vec_id, bkey AS cluster,
         COUNT(*) OVER (PARTITION BY bkey) AS cluster_n
  FROM keys),
ranked AS (
  SELECT vec_id, cluster, cluster_n,
         GREATEST(1, CAST(floor(sqrt(cluster_n)) AS BIGINT)) AS quota,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS pick_rank
  FROM sized)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(cluster_n AS BIGINT) AS cluster_n, quota,
       CAST(pick_rank AS BIGINT) AS pick_rank
FROM ranked WHERE pick_rank <= quota
""",
)
def llm_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style diversity-aware selection (Tirumala et al. 2023:
    dedup THEN diversify — after near-dup removal, cluster the
    embedding space and sample clusters flat-ish so dominant modes
    can't swamp the mix): each vector's cluster is its SRP sign
    signature (ONE band of `_adaptive_band_bits(n)` md5-derived
    hyperplanes shared with the kNN join, so the cluster count
    GROWS with the corpus and expected occupancy stays constant);
    per-cluster quota is sqrt-flattened (floor(sqrt(|c|)), min 1 —
    the same n^0.5 damping as `llm_temperature_mix`, here applied
    to embedding modes instead of sources), and the quota picks
    inside a cluster are deterministic pseudo-random: rank by
    md5(vec_id) with a vec_id tiebreak. Every step is engine-exact
    (integer-quantized projections, correctly-rounded sqrt of an
    integer count, md5 ordering), so the sampled set hash-matches
    the DuckDB oracle bit-for-bit.

    100 TB: one corpus scan computes the signatures map-side (the
    geometry count is parquet metadata only); the single exchange
    is the cluster-key shuffle shared by both windows; cluster
    count scales as ~n/64 so per-cluster sort stays bounded. The
    rank filter is quota-dependent, so no WindowGroupLimit —
    per-cluster work is the bounded-occupancy sort itself."""
    n = load_table(spark, sf_dir, "embeddings").count()
    keys = _srp_band_keys(
        _quant_vecs(spark, sf_dir), n_bands=1, band_bits=_adaptive_band_bits(n)
    )
    wc = W.partitionBy("cluster")
    wr = W.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = (
        keys.select("vec_id", F.col("bkey").alias("cluster"))
        .select(
            "vec_id",
            "cluster",
            F.count(F.lit(1)).over(wc).alias("cluster_n"),
            F.row_number().over(wr).cast("long").alias("pick_rank"),
        )
        .withColumn(
            "quota",
            F.greatest(
                F.lit(1).cast("long"), F.floor(F.sqrt("cluster_n"))
            ),
        )
    )
    return ranked.filter(F.col("pick_rank") <= F.col("quota")).select(
        "vec_id", "cluster", "cluster_n", "quota", "pick_rank"
    )
