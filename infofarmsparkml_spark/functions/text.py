"""F1 string functions + F8 hash functions (SURVEY.md §2.8).

All JVM-side built-ins (whole-stage codegen) — never Python UDFs
for string work on the hot path. Oracle notes: DuckDB's
regexp_replace is first-match-only without the 'g' flag; length()
returns BIGINT (cast to match Spark's INT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query


@query(
    "fn_string",
    oracle="""
SELECT
  p_partkey,
  lower(p_name) AS name_lower,
  upper(p_type) AS type_upper,
  CAST(length(p_name) AS INTEGER) AS name_len,
  substring(p_name, 1, 5) AS name_5,
  concat_ws('-', p_brand, p_type) AS brand_type,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
  replace(p_name, ' ', '_') AS name_us,
  regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
  regexp_replace(p_type, '[AEIOU]', '*', 'g') AS type_mask,
  CAST(levenshtein(p_brand, 'Brand#10') AS INTEGER) AS lev_brand,
  CAST(strpos(p_name, 'widget') AS INTEGER) AS widget_pos,
  trim(concat(' ', p_name, ' ')) AS trimmed,
  reverse(p_type) AS type_rev
FROM part
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: string pack — case, length, substring, concat, pad,
    replace, regex extract/replace, edit distance, find, trim."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_type").alias("type_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_5"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_type", "[AEIOU]", "*").alias("type_mask"),
        F.levenshtein("p_brand", F.lit("Brand#10")).alias("lev_brand"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.reverse("p_type").alias("type_rev"),
    )


@query(
    "fn_hash",
    oracle="""
SELECT
  doc_id,
  md5(text) AS text_md5,
  sha256(text) AS text_sha256
FROM documents
""",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8a: cryptographic digests (dedup keys) — identical lowercase
    hex in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
    )


@query("fn_hash_spark")  # Spark-proprietary hashes: no DuckDB equivalent
def fn_hash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8b: Spark-native hashes — xxhash64 (the cheap shuffle/dedup
    key at scale), crc32, Murmur3 `hash`. Deterministic per Spark
    version; value-checked in unit tests, rows-only for the driver."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.xxhash64("text").alias("text_xxh64"),
        F.crc32("text").alias("text_crc32"),
        F.hash("text").alias("text_murmur3"),
    )


@query(
    "fn_collation",
    oracle="""
WITH dims(seg) AS (VALUES ('building'), ('machinery'), ('furniture'))
SELECT seg, COUNT(*) AS n_customers
FROM customer JOIN dims ON lower(c_mktsegment) = seg
GROUP BY seg
""",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: collation-aware comparison (Spark 4 `COLLATE
    UTF8_LCASE`): join uppercase fact values against a lowercase dim
    without materializing lower() on the fact side. Under a collated
    comparison the equality itself is case-insensitive, so the
    optimizer can still use a hash join on the collation key."""
    return spark.sql(
        """
        WITH dims(seg) AS (VALUES ('building'), ('machinery'), ('furniture'))
        SELECT seg, COUNT(*) AS n_customers
        FROM {customer}
        JOIN dims ON c_mktsegment = seg COLLATE UTF8_LCASE
        GROUP BY seg
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "fn_url",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' || lang || '/' ||
         CAST(doc_id AS VARCHAR) || '?q=' || lang || '&page=' ||
         CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents)
SELECT doc_id, url,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]page=([^&]*)', 1) AS page_param
FROM u
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing pack — host/path/query/named-param extraction
    with `parse_url` (Hive-compatible, JVM-side), over URLs built
    deterministically from document attributes (the fixture carries
    no URL column). The curation relevance: URL canonicalization and
    per-host quotas are standard crawl-corpus steps, and all four
    extractions stay in whole-stage codegen. The DuckDB twin uses
    explicit regexes that pin down the exact semantics parse_url
    must reproduce."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("lang"),
        F.lit("&page="),
        (F.col("doc_id") % 7).cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("page")).alias(
            "page_param"
        ),
    )


@query(
    "fn_fuzzy_match",
    oracle="""
WITH p AS (
  SELECT doc_id, substring(text, 1, 40) AS prefix
  FROM documents WHERE doc_id < 30)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 29
""",
)
def fn_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: pairwise Levenshtein distance on
    40-char document prefixes over a bounded id block, thresholded
    — the record-linkage / near-key-matching kernel. Spark's
    `levenshtein` and DuckDB's implement the same DP definition, so
    distances hash-match exactly. At corpus scale the pairing is
    never all-pairs: candidates come from a blocking key (LSH
    bucket, prefix hash, soundex) exactly as in `llm_minhash_lsh_dedup`;
    this op verifies the distance kernel itself on a fixed block."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30
    ).select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb")
    )
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        pairs.select("doc_a", "doc_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 29)
    )


@query(
    "fn_pseudonymize",
    oracle="""
SELECT event_id,
       sha256('corpus-v1:' || CAST(user_id AS VARCHAR)) AS user_token,
       substring(sha256('corpus-v1:' || CAST(user_id AS VARCHAR)), 1, 12)
         AS short_token,
       event_type
FROM events
""",
)
def fn_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization: replace the user identifier
    with a salted SHA-256 token — the privacy-preserving join key
    pattern (same user maps to the same token across tables and
    runs, so joins and aggregations still work; the raw id never
    leaves the scan). Pure JVM hash projection, map-only; the salt
    would come from a secret store in production, pinned here for
    the oracle twin."""
    ev = load_table(spark, sf_dir, "events")
    token = F.lower(
        F.sha2(
            F.concat(F.lit("corpus-v1:"), F.col("user_id").cast("string")),
            256,
        )
    )
    return ev.select(
        "event_id",
        token.alias("user_token"),
        F.substring(token, 1, 12).alias("short_token"),
        "event_type",
    )


@query(
    "fn_aes_roundtrip",
    # ciphertext BYTES are key-dependent, but the query only
    # exposes key-INdependent facts: PKCS#7 pads to the next full
    # 16-byte block (always adding >= 1 byte), and a correct codec
    # round-trips — both closed-form
    oracle="""
SELECT c_custkey,
       CAST(16 * (strlen(c_name) // 16 + 1) AS INTEGER) AS ct_bytes,
       TRUE AS roundtrip_ok
FROM customer
""",
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round trip: AES encrypt the
    customer name with aes_encrypt, decrypt with aes_decrypt, and
    emit a match flag plus ciphertext length — the at-rest
    column-protection pattern (encrypt before sink, decrypt after
    scan, key from a secret store; pinned here for determinism of
    the ECB test lane — GCM mode is what production uses and is
    exercised in the unit test). JVM-side codecs, map-only.
    SQL-oracled since r6: ciphertext bytes are key-dependent, but
    ct_bytes is just PKCS#7 block padding (16·(⌊len/16⌋+1)) and
    roundtrip_ok is definitionally true for a correct codec — the
    oracle states both in closed form, so a padding bug or a
    decrypt mismatch breaks the hash. AES pads the UTF-8 BYTE
    length, so the oracle uses DuckDB strlen() (bytes), not
    length() (characters) — byte-based on both sides even if the
    fixture ever carries multibyte names (ADVICE r6)."""
    cust = load_table(spark, sf_dir, "customer")
    ct = F.expr(
        "aes_encrypt(c_name, '0123456789abcdef', 'ECB', 'PKCS')"
    )
    pt = F.expr(
        "cast(aes_decrypt("
        "aes_encrypt(c_name, '0123456789abcdef', 'ECB', 'PKCS'),"
        " '0123456789abcdef', 'ECB', 'PKCS') as string)"
    )
    return cust.select(
        "c_custkey",
        F.length(ct).alias("ct_bytes"),
        (pt == F.col("c_name")).alias("roundtrip_ok"),
    )


@query(
    "fn_regexp",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS BIGINT)
         AS n_vowel_runs,
       regexp_extract(text, '[a-z]{6,}') AS first_long_word,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
         AS len_devoweled,
       regexp_matches(text, '(^| )spark( |$)') AS mentions_spark
FROM documents
""",
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: regexp pack — count / extract / extract-first / global
    replace / match over document text. Patterns stay inside the
    character-class + anchors subset where Java regex (Spark) and
    RE2 (DuckDB) agree exactly, so the whole pack hash-matches; the
    dialect divergences to avoid are documented here so users don't
    rediscover them: backreferences and lookaround (RE2 lacks
    them), \\b word boundaries on non-ASCII, and possessive
    quantifiers. All five expressions compile once per task and run
    in whole-stage codegen — a pure map at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit("[a-z]+"), 0)).cast("long").alias(
            "n_words"
        ),
        F.size(F.regexp_extract_all(t, F.lit("[aeiou]{2,}"), 0))
        .cast("long")
        .alias("n_vowel_runs"),
        F.regexp_extract(t, "[a-z]{6,}", 0).alias("first_long_word"),
        F.length(F.regexp_replace(t, "[aeiou]", "")).cast("long").alias(
            "len_devoweled"
        ),
        (F.regexp_count(t, F.lit("(^| )spark( |$)")) > 0).alias(
            "mentions_spark"
        ),
    )
