"""F5 arrays (incl. higher-order), F6 maps, F7 JSON (SURVEY.md §2.8).

Array results are order-normalized (array_sort) wherever the
producing op doesn't define order, so the value-hash is stable.
Higher-order functions (transform/filter/aggregate) run JVM-side —
this is the codegen path for per-row collection work; never a
Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query


@query(
    "fn_array",
    oracle="""
SELECT
  doc_id,
  ARRAY_TO_STRING(string_split(text, ' '), '|') AS tokens,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  string_split(text, ' ')[1] AS first_token,
  list_contains(string_split(text, ' '), 'join') AS has_join,
  ARRAY_TO_STRING(list_sort(list_distinct(string_split(text, ' '))), '|')
    AS vocab,
  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS vocab_size,
  ARRAY_TO_STRING(list_filter(string_split(text, ' '), t -> length(t) > 4),
                  '|') AS long_tokens,
  ARRAY_TO_STRING(list_sort(list_transform(string_split(text, ' '),
                                           t -> upper(t))), '|')
    AS upper_sorted,
  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
       AS BIGINT) AS total_chars,
  CAST(COALESCE(list_position(string_split(text, ' '), 'join'), 0) AS BIGINT)
    AS join_pos
FROM documents
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: array pack over tokenized text — size, indexing,
    membership, dedup+sort, higher-order transform/filter/aggregate
    (fold), position. Array-typed intermediates are serialized to
    '|'-joined strings in the output: grading harnesses hash rows
    via pandas and list cells are unhashable there."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.concat_ws("|", toks).alias("tokens"),
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_contains(toks, "join").alias("has_join"),
        F.concat_ws("|", F.array_sort(F.array_distinct(toks))).alias("vocab"),
        F.size(F.array_distinct(toks)).alias("vocab_size"),
        # DuckDB's ARRAY_TO_STRING of an empty list is NULL, not ''.
        # A non-empty list of >4-letter tokens never joins to ''.
        F.nullif(
            F.concat_ws("|", F.filter(toks, lambda t: F.length(t) > 4)),
            F.lit(""),
        ).alias("long_tokens"),
        F.concat_ws(
            "|", F.array_sort(F.transform(toks, lambda t: F.upper(t)))
        ).alias("upper_sorted"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t).cast("long"),
        ).alias("total_chars"),
        F.array_position(toks, "join").alias("join_pos"),
    )


@query(
    "fn_explode",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
""",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5b: explode — one output row per token (UNNEST twin)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )


@query(
    "fn_map",
    oracle="""
SELECT
  doc_id,
  MAP(['lang', 'source'], [lang, source])['lang'][1] AS lang_val,
  CAST(cardinality(MAP(['lang', 'source'], [lang, source])) AS INTEGER)
    AS n_keys,
  ARRAY_TO_STRING(list_sort(map_keys(MAP(['lang', 'source'], [lang, source]))),
                  ',') AS keys_sorted,
  ARRAY_TO_STRING(list_sort(map_values(MAP(['lang', 'source'],
                                           [lang, source]))), ',')
    AS vals_sorted
FROM documents
""",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: map pack — construction, key lookup, cardinality,
    keys/values (sorted: map iteration order is not contractual).
    Output is scalars and joined strings, not raw maps/arrays —
    complex cell encodings differ across engines and break
    pandas-based row hashing."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return docs.select(
        "doc_id",
        F.element_at(m, "lang").alias("lang_val"),
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
        F.concat_ws(",", F.array_sort(F.map_values(m))).alias("vals_sorted"),
    )


@query(
    "fn_json",
    oracle="""
SELECT
  event_id,
  json_extract_string(props, '$.k') AS k_str,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
  CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k_doubled,
  CAST(to_json({'k': CAST(json_extract_string(props, '$.k') AS INTEGER)})
       AS VARCHAR) AS round_trip
FROM events
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: JSON pack over events.props — path extraction
    (get_json_object), schema-full parse (from_json), re-serialize
    (to_json). Both engines emit compact '{"k":87}'."""
    ev = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object(F.col("props"), "$.k")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select(
        "event_id",
        k_str.alias("k_str"),
        k_str.cast("int").alias("k_int"),
        (parsed.getField("k") * 2).alias("k_doubled"),
        F.to_json(F.struct(parsed.getField("k").alias("k"))).alias("round_trip"),
    )


@query(
    "fn_struct",
    oracle="""
SELECT
  doc_id,
  to_json(struct_pack(lang := lang, source := source)) AS meta_json,
  to_json(struct_pack(doc := struct_pack(lang := lang, n_chars := n_chars)))
    AS nested_json,
  lang AS meta_lang,
  n_chars AS nested_chars
FROM documents
""",
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: struct construction, nesting, and field access — the
    typed-metadata idiom for multimodal records (mm_binary_metadata
    carries one of these per blob). Structs are surfaced as JSON:
    a struct-typed result column is representation-fragile across
    the Python boundary (Arrow → dict, vanilla → Row tuple), while
    Spark's and DuckDB's compact to_json texts match exactly."""
    docs = load_table(spark, sf_dir, "documents")
    meta = F.struct(F.col("lang").alias("lang"), F.col("source").alias("source"))
    nested = F.struct(
        F.struct(
            F.col("lang").alias("lang"), F.col("n_chars").alias("n_chars")
        ).alias("doc")
    )
    return docs.select(
        "doc_id",
        F.to_json(meta).alias("meta_json"),
        F.to_json(nested).alias("nested_json"),
        meta.getField("lang").alias("meta_lang"),
        nested.getField("doc").getField("n_chars").alias("nested_chars"),
    )


@query(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
       CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str
FROM events
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: VARIANT (Spark 4's binary semi-structured type) —
    `parse_json` once into variant, then typed `variant_get`
    extractions. Unlike `get_json_object`, the parse cost is paid
    once per row however many fields are pulled, and the binary
    encoding pushes through shuffles — the right semi-structured
    path at scale."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
    )
