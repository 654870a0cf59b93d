"""Operator-semantics tests beyond the DuckDB oracle: tolerance
checks for approximate ops, determinism of Spark-native hashes, and
algebraic invariants (SURVEY.md §5.3-5.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from infofarmsparkml_spark import registry
from infofarmsparkml_spark.catalog import load_table


def q(name):
    fn, _ = registry.get(name)
    return fn


def test_approx_count_distinct_tolerance(spark, sf_dir):
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in q("agg_approx_distinct")(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in q("agg_distinct")(spark, sf_dir).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.05, (flag, approx[flag], n)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"], ids=["sf0.001", "sf0.01"])
def test_hll_portable_raw_regime_and_tolerance(spark, sf_dir, sf):
    """The portable-HLL twin (A4 graduation) is valid ONLY in the
    raw-estimator regime (E > 2.5m; the linear-counting branch is
    deliberately unimplemented because its ln() is not hash-portable
    across engines). Pin raw_regime = 1 for every group at both
    fixture SFs, and pin the estimates inside 3x the sketch rsd
    (m=256 -> 19.5% for orders, m=64 -> 39% for parts) against the
    exact counts the query itself carries."""
    import os

    d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), sf)
    if not os.path.isdir(d):
        # a fixture root with only one generated SF should degrade
        # to skip, not error (ADVICE r13)
        pytest.skip(f"sibling fixture {sf} not generated under {d}")
    rows = q("agg_hll_distinct_portable")(spark, d).collect()
    assert len(rows) == 3
    for r_ in rows:
        assert r_["raw_regime"] == 1, r_
        err_o = abs(r_["hll_orders"] - r_["true_orders"]) / r_["true_orders"]
        err_p = abs(r_["hll_parts"] - r_["true_parts"]) / r_["true_parts"]
        assert err_o < 3 * 1.04 / 16, (r_, err_o)
        assert err_p < 3 * 1.04 / 8, (r_, err_p)


def test_hll_sketch_union_portable_merge_invariant(spark, sf_dir):
    """The portable sketch-union twin (VERDICT r13 #3): the union
    row's estimate must be IDENTICAL (not merely close) to the
    estimate of a sketch built directly over the whole corpus —
    register-wise MAX of per-group maxima is the global maximum, the
    algebraic property that makes the sketch mergeable. Plus the
    same tolerance/raw-regime contract as the A4b twin (m=64 ->
    3x rsd = 39%)."""
    from pyspark.sql import functions as F

    from infofarmsparkml_spark.operators.aggregates import (
        _HLL_M_PART,
        _HLL_NUM_PART,
        _HLL_TAG_PART,
    )

    rows = {
        r_["l_returnflag"]: r_
        for r_ in q("agg_hll_sketch_union_portable")(spark, sf_dir).collect()
    }
    assert set(rows) == {"A", "N", "R", "ALL"}
    assert rows["ALL"]["exact_distinct_parts"] is None
    for flag in ("A", "N", "R"):
        r_ = rows[flag]
        err = (
            abs(r_["hll_parts"] - r_["exact_distinct_parts"])
            / r_["exact_distinct_parts"]
        )
        assert err < 3 * 1.04 / 8, (r_, err)
        assert r_["hll_parts"] > 2.5 * _HLL_M_PART, r_  # raw regime
    # direct global sketch — no grouping anywhere — must equal the
    # union-of-group-sketches estimate bit-for-bit
    lf = load_table(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat(F.col("l_partkey").cast("string"), F.lit(_HLL_TAG_PART))
    )
    direct = (
        lf.select(
            (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
             % _HLL_M_PART).alias("j"),
            F.conv(F.substring(h, 5, 12), 16, 10).cast("long").alias("w"),
        )
        .groupBy("j")
        .agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(49)).otherwise(
                    F.lit(49) - F.length(F.bin("w"))
                )
            ).alias("mj")
        )
        .agg(
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), 49 - mj)")
            ).alias("s_part"),
            F.count(F.lit(1)).alias("n_reg"),
        )
        .select(
            F.round(
                F.lit(_HLL_NUM_PART)
                / (
                    F.col("s_part")
                    + (F.lit(_HLL_M_PART).cast("long") - F.col("n_reg"))
                    * F.lit(2**49)
                ).cast("double"),
                2,
            ).alias("est")
        )
        .collect()[0]["est"]
    )
    assert direct == rows["ALL"]["hll_parts"], (direct, rows["ALL"])


def test_approx_percentile_tolerance(spark, sf_dir):
    approx = {
        r["l_returnflag"]: r["approx_median"]
        for r in q("agg_percentile_approx")(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r["median_price"]
        for r in q("agg_percentile")(spark, sf_dir).collect()
    }
    for flag, m in exact.items():
        assert abs(approx[flag] - m) / m < 0.02, (flag, approx[flag], m)


def test_sample_fraction_and_determinism(spark, sf_dir):
    total = load_table(spark, sf_dir, "lineitem").count()
    s1 = q("sample_tablesample")(spark, sf_dir)
    s2 = q("sample_tablesample")(spark, sf_dir)
    n1, n2 = s1.count(), s2.count()
    assert n1 == n2, "seeded sample must be reproducible"
    assert 0.05 * total < n1 < 0.15 * total


def test_spark_hashes_deterministic(spark, sf_dir):
    a = {r["doc_id"]: r["text_xxh64"] for r in q("fn_hash_spark")(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["text_xxh64"] for r in q("fn_hash_spark")(spark, sf_dir).collect()}
    assert a == b and len(set(a.values())) == len(a), "xxhash64 stable + collision-free here"


def test_union_all_count_additivity(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 300000)
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    assert a.count() + b.count() == q("set_union_all")(spark, sf_dir).count()


def test_filter_partition_complete(spark, sf_dir):
    lf = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_quantity") > 30
    assert lf.filter(p).count() + lf.filter(~p).count() == lf.count()


def test_semi_plus_anti_partition_left(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    urgent_holders = q("join_semi")(spark, sf_dir).count()
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).count()
    assert urgent_holders + anti == cust.count()


def test_exact_dedup_idempotent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    groups = q("llm_exact_dedup")(spark, sf_dir)
    assert groups.count() == docs.select("text").distinct().count()
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_cosine_topk_bounds_and_rank(spark, sf_dir):
    rows = q("llm_cosine_topk")(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cosine"]))
    for qid, pairs in by_q.items():
        pairs.sort()
        ranks = [p[0] for p in pairs]
        assert ranks == list(range(1, len(ranks) + 1)), "ranks are 1..k"
        cosines = [p[1] for p in pairs]
        assert cosines == sorted(cosines, reverse=True), "descending by cosine"


def test_minhash_pairs_are_plausible(spark, sf_dir):
    rows = q("llm_minhash_lsh_dedup")(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["jaccard_dist"] <= 0.5
        assert r["doc_a"] < r["doc_b"]


def test_minhash_recall_vs_brute_force(spark, sf_dir):
    """Banded-LSH candidates verified exactly — so precision is 1.0
    by construction; recall vs the brute-force all-pairs answer is
    the quantity to assert (expected ~1-(1-s^r)^b ≈ 0.96 at the
    0.95-similarity threshold)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in (
            a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn(
                "dist",
                F.round(
                    1.0
                    - F.size(F.array_intersect("ta", "tb"))
                    / F.size(F.array_union("ta", "tb")),
                    4,
                ),
            )
            .filter(F.col("dist") <= 0.05)
            .collect()
        )
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in q("llm_minhash_lsh_dedup")(spark, sf_dir).collect()
    }
    assert got <= exact, "every emitted pair must be exactly verified"
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.85, f"banding recall too low: {recall}"


def test_components_are_consistent(spark, sf_dir):
    labels = {
        r["doc_id"]: r["component"]
        for r in q("llm_dedup_components")(spark, sf_dir).collect()
    }
    # every component representative labels itself
    for comp in set(labels.values()):
        assert labels[comp] == comp, "component id must be its own root"


def test_decode_wav_ppm_round_trip(spark, sf_dir):
    out1 = q("mm_decode_wav_ppm")(spark, sf_dir)
    assert out1.schema.simpleString() == (
        "struct<doc_id:bigint,media_type:string,payload_bytes:int,"
        "width:int,height:int,sample_rate:int,n_frames:int,decode_status:string>"
    )
    rows = sorted(map(tuple, out1.collect()))
    # decoded metadata equals the synthesis ground truth per doc_id
    for (doc_id, media, nbytes, w, h, sr, nf, status) in rows:
        assert status == "ok"
        d = doc_id // 2
        if doc_id % 2 == 0:
            assert media == "image"
            assert (w, h, sr, nf) == (8 + d % 16, 8 + d % 9, 0, 1)
            header = f"P6\n{w} {h}\n255\n"
            assert nbytes == len(header) + 3 * w * h
        else:
            assert media == "audio"
            assert (w, h) == (0, 0)
            assert sr == (8000, 16000, 22050, 44100)[d % 4]
            assert nf == 256 + d % 250
            assert nbytes == 44 + 2 * nf
    r2 = sorted(map(tuple, q("mm_decode_wav_ppm")(spark, sf_dir).collect()))
    assert rows == r2


def test_decode_kernel_parses_real_bytes():
    """Unit-level: the decoder reads actual container bytes."""
    from infofarmsparkml_spark.operators.multimodal import (
        _decode_one,
        _synth_payload,
    )

    img = _synth_payload(10, b"hello world")
    assert img[:2] == b"P6"
    assert _decode_one(img) == ("image", 8 + 5 % 16, 8 + 5 % 9, 0, 1, "ok")
    wav = _synth_payload(11, b"ignored")
    assert wav[:4] == b"RIFF"
    media, w, h, sr, nf, status = _decode_one(wav)
    assert (media, w, h, status) == ("audio", 0, 0, "ok")
    assert sr == (8000, 16000, 22050, 44100)[5 % 4]
    assert nf == 256 + 5 % 250
    assert _decode_one(b"\x00\x01garbage") == (
        "unknown", 0, 0, 0, 0, "unsupported",
    )


def test_ivf_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["qid"], r["cid"])
        for r in q("llm_cosine_topk")(spark, sf_dir).collect()
    }
    approx = {
        (r["qid"], r["cid"]) for r in q("llm_ivf_topk")(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF nprobe=5/16 recall too low: {recall}"


def test_ivf_trained_beats_md5_centers(spark, sf_dir):
    """VERDICT r15 #4: the seeded-k-means twin must (a) be
    deterministic run-to-run, (b) actually BEAT the md5-random
    centers' recall of the exact top-10, computed side by side in
    this test (measured 0.62 vs 0.52 at nprobe=5 on this
    near-random fixture — the delta the production operator buys),
    and (c) clear an absolute 0.55 floor so a joint regression of
    both variants cannot pass unnoticed."""
    exact = {
        (r["qid"], r["cid"])
        for r in q("llm_cosine_topk")(spark, sf_dir).collect()
    }
    t1 = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_topk_trained")(spark, sf_dir).collect()
    }
    t2 = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_topk_trained")(spark, sf_dir).collect()
    }
    assert t1 == t2, "seeded k-means IVF must be deterministic"
    md5 = {
        (r["qid"], r["cid"]) for r in q("llm_ivf_topk")(spark, sf_dir).collect()
    }
    recall_trained = len(exact & t1) / len(exact)
    recall_md5 = len(exact & md5) / len(exact)
    assert recall_trained > recall_md5, (
        f"trained {recall_trained} must beat md5 {recall_md5}"
    )
    assert recall_trained >= 0.55, (
        f"trained IVF recall too low: {recall_trained}"
    )


def _write_clustered_embeddings(tmp_path) -> str:
    """The shared clustered ANN fixture (25 gaussian clusters x 80
    points, 64 dims, noise 0.04 vs center scale 0.6 — the regime
    IVF/PQ exist for), deterministic under a fixed seed."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(20260816)
    n_clusters, per = 25, 80
    centers = rng.normal(0, 0.6, size=(n_clusters, 64))
    pts = np.repeat(centers, per, axis=0) + rng.normal(
        0, 0.04, size=(n_clusters * per, 64)
    )
    perm = rng.permutation(len(pts))
    pd.DataFrame(
        {
            "vec_id": np.arange(len(pts), dtype="int64"),
            "embedding": list(pts[perm].astype("float32")),
            "label": np.repeat(np.arange(n_clusters), per)[perm].astype(
                "int32"
            ),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    return str(tmp_path)


def test_ivf_trained_recall_clustered(spark, tmp_path):
    """On a clustered corpus trained centers align cells with real
    structure: recall@10 gated >= 0.9 (measured 1.0)."""
    d = _write_clustered_embeddings(tmp_path)
    exact = {
        (r["qid"], r["cid"]) for r in q("llm_cosine_topk")(spark, d).collect()
    }
    got = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_topk_trained")(spark, d).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"trained IVF clustered recall too low: {recall}"


def test_ivf_pq_trained_recall_clustered_and_deterministic(spark, tmp_path):
    """r16: the full production composite (k-means coarse + residual
    PQ + shortlist/rerank) must recall >= 0.9 of the exact quantized
    top-10 on the clustered fixture and be deterministic run-to-run
    (fixed seed)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from infofarmsparkml_spark.operators.llm import (
        _double_vecs,
        _qdist,
        _quantize_vec,
    )

    d = _write_clustered_embeddings(tmp_path)
    got1 = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_pq_trained")(spark, d).collect()
    }
    got2 = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_pq_trained")(spark, d).collect()
    }
    assert got1 == got2, "seeded trained IVF+PQ must be deterministic"
    quant = _double_vecs(spark, d, "vec_id", "e").select(
        "vec_id", _quantize_vec("e").alias("qv")
    )
    qs = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("va")
    )
    cs = quant.select(F.col("vec_id").alias("cid"), F.col("qv").alias("vb"))
    ver = cs.join(F.broadcast(qs), F.col("qid") != F.col("cid")).select(
        "qid", "cid", _qdist("va", "vb").alias("dd")
    )
    w = W.partitionBy("qid").orderBy("dd", "cid")
    exact = {
        (r["qid"], r["cid"])
        for r in ver.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .collect()
    }
    recall = len(got1 & exact) / len(exact)
    assert recall >= 0.9, f"trained IVF+PQ clustered recall too low: {recall}"


def test_simhash_similar_docs_have_close_fingerprints(spark, sf_dir):
    from pyspark.sql import functions as F

    fp = {r["doc_id"]: r["simhash"] for r in q("llm_simhash")(spark, sf_dir).collect()}
    assert all(0 <= v < 2**32 for v in fp.values())
    # a doc's fingerprint is invariant across runs (pure function)
    fp2 = {r["doc_id"]: r["simhash"] for r in q("llm_simhash")(spark, sf_dir).collect()}
    assert fp == fp2


def test_pagerank_known_answer_path_graph(spark):
    """3-node path a-b-c (symmetric): a plain-Python power iteration
    with the same update must match `graph_pagerank`'s own loop
    (`_pagerank_iterate`, identity build-side pick) to float
    tolerance."""
    from infofarmsparkml_spark.operators.graph import _pagerank_iterate

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src int, dst int"
    )
    ranks = _pagerank_iterate(edges, lambda df: df)
    d = 0.85
    got = {r["src"]: r["rank"] for r in ranks.collect()}

    deg = {1: 1, 2: 2, 3: 1}
    adj = {1: [2], 2: [1, 3], 3: [2]}
    pr = {n: 1.0 for n in deg}
    for _ in range(10):
        new = {}
        for n in deg:
            s = sum(pr[m] / deg[m] for m in deg if n in adj[m])
            new[n] = (1 - d) + d * s
        pr = new
    for n in deg:
        assert abs(got[n] - pr[n]) < 1e-9, (n, got[n], pr[n])


def test_word_ngrams_exact_and_short_doc(spark):
    from infofarmsparkml_spark.operators.llm_curation import _ngrams_of

    df = (
        spark.createDataFrame([("a b c d",), ("a b",)], "text string")
        .select(F.split("text", " ").alias("ws"))
        .select(_ngrams_of(F.col("ws"), 3).alias("tg"))
    )
    rows = [r["tg"] for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # shorter than n → empty, not a down-count


def test_repetition_score_invariants(spark, sf_dir):
    rows = q("llm_repetition_score")(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    for r in rows:
        assert 0.0 <= r["dup_ratio"] <= 1.0
        assert r["n_distinct"] <= r["n_trigrams"]
        assert r["n_trigrams"] == n_words[r["doc_id"]] - 2


def test_contamination_screens_out_benchmark(spark, sf_dir):
    rows = q("llm_contamination")(spark, sf_dir).collect()
    for r in rows:
        assert r["doc_id"] % 97 != 0  # benchmark docs never scored
        assert r["contaminated"] == (r["n_hits"] > 0)


def test_quota_sample_deterministic_and_bounded(spark, sf_dir):
    a = q("llm_quota_sample")(spark, sf_dir).collect()
    b = q("llm_quota_sample")(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_source = {}
    for r in a:
        per_source.setdefault(r["source"], []).append(r["sample_rank"])
    for src, ranks in per_source.items():
        assert len(ranks) <= 20
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_mix_rebalance_flattens(spark, sf_dir):
    rows = q("llm_mix_rebalance")(spark, sf_dir).collect()
    assert abs(sum(r["actual_share"] for r in rows) - 1.0) < 1e-3
    effective = [r["n_docs"] * r["weight"] for r in rows]
    # weight * count is the target cell mass — uniform across cells
    assert max(effective) / min(effective) < 1.01


def test_prefix_dedup_partitions_corpus(spark, sf_dir):
    rows = q("llm_prefix_dedup")(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    keepers = [r["keeper_doc_id"] for r in rows]
    assert len(keepers) == len(set(keepers))


def test_unigram_logprob_is_negative_and_counts_tokens(spark, sf_dir):
    rows = q("llm_unigram_logprob")(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    for r in rows:
        assert r["avg_logprob"] < 0.0
        assert r["n_tokens"] == n_words[r["doc_id"]]


def test_gap_fill_locf_dense_and_carries(spark, sf_dir):
    rows = q("ts_gap_fill_locf")(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, series in by_user.items():
        series.sort(key=lambda r: r["hour"])
        # dense: consecutive hours, no holes
        hours = [r["hour"] for r in series]
        assert all(
            (b - a).total_seconds() == 3600 for a, b in zip(hours, hours[1:])
        ), f"user {user} spine has holes"
        # endpoints observed by construction; gaps carry the last value
        assert series[0]["observed"] and series[-1]["observed"]
        last = None
        for r in series:
            if r["observed"]:
                last = r["v_filled"]
            else:
                assert r["v_filled"] == last, f"user {user} broke LOCF"


def test_ohlc_bounds_and_bar_count(spark, sf_dir):
    rows = q("ts_resample_ohlc")(spark, sf_dir).collect()
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        if r["n"] == 1:
            assert r["open"] == r["close"] == r["high"] == r["low"]
    ev = load_table(spark, sf_dir, "events")
    n_bars = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct().count()
    assert len(rows) == n_bars


def test_triangles_symmetric_check(spark, sf_dir):
    # total triangle incidences divide by 3, and a brute-force count
    # on a small node sample agrees
    rows = q("graph_triangles")(spark, sf_dir).collect()
    total = sum(r["n_triangles"] for r in rows)
    assert total % 3 == 0 and total > 0
    from infofarmsparkml_spark.operators.graph import _copurchase_edges

    edges = {
        (r["src"], r["dst"])
        for r in _copurchase_edges(spark, sf_dir).collect()
    }
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    got = {r["part"]: r["n_triangles"] for r in rows}
    for node in list(sorted(adj))[:5]:
        brute = sum(
            1
            for b in adj[node]
            for c in adj[node]
            if b < c and (b, c) in edges
        )
        assert got.get(node, 0) == brute, f"node {node}"


def test_triangles_doulion_unbiased_estimate(spark, sf_dir):
    """DOULION twin (VERDICT r9 #6): the p=1/4 md5-sampled estimate
    must land within 20% of the exact global count (measured error:
    +5.9% at sf0.001, +1.3% at sf0.01 — the tolerance is 3x the
    worst observed), and the sampled edge fraction must be near p
    (md5 prefixes are uniform)."""
    row = q("graph_triangles_doulion")(spark, sf_dir).collect()[0]
    exact_rows = q("graph_triangles")(spark, sf_dir).collect()
    exact_total = sum(r["n_triangles"] for r in exact_rows) // 3
    assert exact_total > 0
    est = row["est_triangles"]
    assert row["n_tri_sampled"] * 64 == est
    assert abs(est - exact_total) / exact_total < 0.20, (est, exact_total)
    from infofarmsparkml_spark.operators.graph import _copurchase_edges

    n_und = (
        _copurchase_edges(spark, sf_dir)
        .filter("src < dst")
        .count()
    )
    frac = row["n_edges_sampled"] / n_und
    assert 0.22 < frac < 0.28, frac


def test_hll_sketch_union_tolerance(spark, sf_dir):
    rows = q("agg_hll_sketch_union")(spark, sf_dir).collect()
    lf = load_table(spark, sf_dir, "lineitem")
    exact_all = lf.select("l_partkey").distinct().count()
    for r in rows:
        if r["l_returnflag"] == "ALL":
            assert abs(r["approx_distinct_parts"] - exact_all) / exact_all < 0.05
        else:
            assert (
                abs(r["approx_distinct_parts"] - r["exact_distinct_parts"])
                / r["exact_distinct_parts"]
                < 0.05
            )


def test_zvalue_interleave_roundtrip(spark, sf_dir):
    """The Morton key must be a bijection: de-interleaving z gives
    back exactly (a, b) for every pair — checked for the full key
    domain actually used by sink_zorder."""
    from infofarmsparkml_spark.operators.scans import zvalue

    lf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .withColumn("z", zvalue("l_partkey", "l_suppkey"))
    )
    back_a = sum(
        (F.shiftrightunsigned(F.col("z"), 2 * i) % 2 * (1 << i))
        for i in range(31)
    )
    back_b = sum(
        (F.shiftrightunsigned(F.col("z"), 2 * i + 1) % 2 * (1 << i))
        for i in range(31)
    )
    bad = lf.where(
        (back_a != F.col("l_partkey")) | (back_b != F.col("l_suppkey"))
    ).count()
    assert bad == 0
    # and distinct pairs -> distinct z
    assert lf.select("z").distinct().count() == lf.count()


def test_zvalue_exact_beyond_16_bits(spark):
    """Keys above 65535 must interleave without aliasing (the old
    16-bit default collapsed them — l_partkey exceeds 65535 at
    sf >= ~0.33, far below target scale)."""
    from infofarmsparkml_spark.operators.scans import zvalue

    pairs = [(70000, 3), (70000, 70001), (2**30, 2**30 - 1), (123456789, 7)]
    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "z", zvalue("a", "b")
    )
    back_a = sum(
        (F.shiftrightunsigned(F.col("z"), 2 * i) % 2 * (1 << i))
        for i in range(31)
    )
    back_b = sum(
        (F.shiftrightunsigned(F.col("z"), 2 * i + 1) % 2 * (1 << i))
        for i in range(31)
    )
    assert df.where((back_a != F.col("a")) | (back_b != F.col("b"))).count() == 0
    assert df.select("z").distinct().count() == len(pairs)


def test_incremental_dedup_admits_only_new_fingerprints(spark, sf_dir):
    admitted = {
        r["doc_id"] for r in q("llm_incremental_dedup")(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))
        ).alias("h"),
    ).collect()
    existing = {r["h"] for r in fp if r["doc_id"] % 3 != 0}
    for r in fp:
        if r["doc_id"] % 3 == 0:
            assert (r["doc_id"] in admitted) == (r["h"] not in existing)


def test_curation_pipeline_stages_consistent(spark, sf_dir):
    rows = q("llm_curation_pipeline")(spark, sf_dir).collect()
    assert rows, "pipeline produced no survivors"
    docs = {
        r["doc_id"]: r
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    per_source = {}
    for r in rows:
        assert r["lang"] == "en"
        assert r["n_tokens"] >= 20
        assert len(docs[r["doc_id"]]["text"].split(" ")) == r["n_tokens"]
        per_source.setdefault(r["source"], []).append(r["sample_rank"])
    for source, ranks in per_source.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert max(ranks) <= 50


def test_aes_roundtrip_all_ok_and_gcm_mode(spark, sf_dir):
    rows = q("fn_aes_roundtrip")(spark, sf_dir).collect()
    assert rows and all(r["roundtrip_ok"] for r in rows)
    # production mode: GCM (random IV -> nondeterministic ciphertext,
    # still must decrypt)
    df = spark.range(1).select(
        F.expr(
            "cast(aes_decrypt(aes_encrypt('secret', '0123456789abcdef', "
            "'GCM'), '0123456789abcdef', 'GCM') as string)"
        ).alias("pt")
    )
    assert df.collect()[0]["pt"] == "secret"


def test_ewma_matches_python_reference(spark, sf_dir):
    """ts_ewma vs an independent pure-Python finite-window EWMA
    (decay 1/2 over the trailing 10 events) for every user."""
    from collections import defaultdict

    rows = q("ts_ewma")(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    ).collect()
    series = defaultdict(list)
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series[r.user_id].append((r.event_id, round(r.value * 100)))
    expect = {}
    for uid, evs in series.items():
        for i in range(len(evs)):
            frame = evs[max(0, i - 9) : i + 1]
            n = len(frame)
            num = sum(vc * 2 ** (9 - n + j + 1) for j, (_, vc) in enumerate(frame))
            den = 2**10 - 2 ** (10 - n)
            expect[(uid, evs[i][0])] = num / den / 100.0
    assert len(rows) == len(expect)
    for r in rows:
        assert abs(r.ewma - expect[(r.user_id, r.event_id)]) < 1e-6, (
            r.user_id,
            r.event_id,
        )


def test_rolling_corr_matches_pandas(spark, sf_dir):
    """ts_rolling_corr vs pandas' rolling(6).corr of (value, lag value)
    per user — independent formula (two-pass) so agreement within
    1e-6 after rounding checks the moment algebra."""
    import pandas as pd

    got = {
        (r.user_id, r.event_id): r.lag1_corr
        for r in q("ts_rolling_corr")(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    checked = 0
    for uid, g in ev.groupby("user_id"):
        x = g.value.round(2)
        y = x.shift(1)
        corr = x.rolling(6, min_periods=4).corr(y)
        for eid, c in zip(g.event_id, corr):
            if (uid, eid) in got and pd.notna(c) and abs(abs(c) - 1) > 1e-9:
                assert abs(got[(uid, eid)] - c) < 5e-5, (uid, eid, c)
                checked += 1
    assert checked > 50


def test_interpolate_linear_invariants(spark, sf_dir):
    """Interpolated hours sit strictly between their bracketing
    observations; observed hours reproduce the hourly sum; the
    output is dense over each user's [first, last] hour."""
    rows = q("ts_interpolate_linear")(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user) > 10
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.hour)
        # dense: hour steps of exactly 1h, endpoints observed
        hours = [r.hour for r in rs]
        assert all(
            (b - a).total_seconds() == 3600 for a, b in zip(hours, hours[1:])
        )
        assert rs[0].observed and rs[-1].observed
        obs = [(i, r.v_interp) for i, r in enumerate(rs) if r.observed]
        for (i0, v0), (i1, v1) in zip(obs, obs[1:]):
            lo, hi = min(v0, v1), max(v0, v1)
            for j in range(i0 + 1, i1):
                assert lo - 1e-6 <= rs[j].v_interp <= hi + 1e-6


def test_spatial_grid_matches_brute_force(spark, sf_dir):
    """Grid-bucketed distance join vs an in-Spark brute-force cross
    join: identical pair sets — the 3x3 neighborhood probe loses
    nothing at the cell boundary."""
    got = {
        (r.key_a, r.key_b, r.dist2)
        for r in q("join_spatial_grid")(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") * 37) % 1000).alias("x"),
        ((F.col("c_custkey") * 91) % 1000).alias("y"),
    )
    a, b = cust.alias("a"), cust.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    brute = {
        (r.key_a, r.key_b, r.dist2)
        for r in a.join(b, F.col("a.k") < F.col("b.k"))
        .filter(d2 <= 225)
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            d2.cast("long").alias("dist2"),
        )
        .collect()
    }
    assert got == brute


def test_frame_sample_markers_and_stride(spark, sf_dir):
    """Every sampled frame's in-band index marker must verify (the
    slicing arithmetic touched the right bytes), and the per-doc
    sample count must be ceil(n_frames / 4)."""
    rows = q("mm_frame_sample")(spark, sf_dir).collect()
    assert rows and all(r.frame_status == "ok" for r in rows)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in per_doc.items():
        n = rs[0].n_frames
        assert len(rs) == (n + 3) // 4, (doc_id, n, len(rs))
        assert sorted(r.frame_idx for r in rs) == list(range(0, n, 4))


def test_ngram_containment_finds_planted_dups(spark, sf_dir):
    """The fixture plants near-duplicate documents; rare-shingle
    blocking must surface them with containment 1.0, and everything
    emitted clears the 0.6 floor."""
    rows = q("llm_ngram_containment")(spark, sf_dir).collect()
    assert rows, "no containment pairs found"
    assert all(r.containment >= 0.6 for r in rows)
    assert any(r.containment == 1.0 for r in rows)


def test_incremental_agg_equals_direct_recompute(spark, sf_dir):
    """merge(partial(base), partial(delta)) == recompute(all) —
    the invariant that makes incremental refresh sound."""
    got = {
        r.o_orderpriority: (r.n_orders, r.total_price, r.first_order, r.last_order)
        for r in q("etl_incremental_agg")(spark, sf_dir).collect()
    }
    direct = {
        r.o_orderpriority: (r.n, r.tp, r.d0, r.d1)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).cast("double")
                / 100.0
            ).alias("tp"),
            F.min("o_orderdate").alias("d0"),
            F.max("o_orderdate").alias("d1"),
        )
        .collect()
    }
    assert got == direct


def test_attribution_covers_all_purchases(spark, sf_dir):
    """One output row per purchase; touch types are null exactly
    when the lookback window was empty; both touch types are real
    touch types."""
    out = q("events_attribution")(spark, sf_dir).collect()
    n_purch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(out) == n_purch
    for r in out:
        if r.n_touches == 0:
            assert r.first_touch_type is None and r.last_touch_type is None
        else:
            assert r.first_touch_type in ("view", "click")
            assert r.last_touch_type in ("view", "click")
    assert any(r.n_touches > 0 for r in out)


def test_trend_slope_matches_numpy(spark, sf_dir):
    """OLS slope from exact integer moments vs numpy.polyfit on the
    raw series — independent formulation, 1e-6 absolute agreement
    (slopes are cents-scale per hour)."""
    import numpy as np

    got = {
        r.user_id: (r.n, r.slope_per_hour)
        for r in q("ts_trend_slope")(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .toPandas()
    )
    ev["h"] = (ev.ts.astype("int64") // 10**3 // 3600000000) - 473352
    checked = 0
    for uid, g in ev.groupby("user_id"):
        if uid not in got or g.h.nunique() < 2:
            continue
        slope = np.polyfit(g.h.to_numpy(float), g.value.round(2).to_numpy(), 1)[0]
        n, s = got[uid]
        assert n == len(g)
        assert abs(s - slope) < 1e-6, (uid, s, slope)
        checked += 1
    assert checked > 5


def test_json_permissive_quarantines_planted_corruption(spark, sf_dir):
    """Exactly the planted lines (doc_id % 50 == 7) land in the
    corrupt bucket; every other line parses."""
    rows = {r.lang: r.n_rows for r in q("scan_json_permissive")(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    n_bad = docs.filter(F.col("doc_id") % 50 == 7).count()
    assert rows.pop("_corrupt") == n_bad
    assert sum(rows.values()) == docs.count() - n_bad


def test_snapshot_diff_classifies_planted_changes(spark, sf_dir):
    """The derived snapshot plants exact D/I/U populations; the diff
    must recover precisely those keys and nothing else."""
    rows = q("etl_snapshot_diff")(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    keys = [r.c_custkey for r in cust.select("c_custkey").collect()]
    offset = max(keys) + 1  # key-domain-derived insert offset (r5)
    expect_d = {k for k in keys if k % 20 == 3}
    expect_i = {k + offset for k in keys if k % 25 == 4}
    expect_u = {k for k in keys if k % 10 == 6 and k % 20 != 3}
    got = {"D": set(), "I": set(), "U": set()}
    for r in rows:
        got[r.change_type].add(r.c_custkey)
        if r.change_type == "U":
            assert r.new_acctbal == r.old_acctbal + 100.0
    assert got["D"] == expect_d
    assert got["I"] == expect_i
    assert got["U"] == expect_u


def test_sssp_consistent_with_bfs(spark, sf_dir):
    """Same edge set + same hop bound => identical reachable sets,
    and with every edge cost >= 1 the weighted distance can never
    undercut the hop count."""
    sssp = {r.part: r.dist for r in q("graph_sssp_weighted")(spark, sf_dir).collect()}
    bfs = {r.part: r.dist for r in q("graph_bfs")(spark, sf_dir).collect()}
    assert set(sssp) == set(bfs)
    for node, hops in bfs.items():
        assert sssp[node] >= hops, (node, sssp[node], hops)


def test_rfm_quartiles_balanced_and_segments_consistent(spark, sf_dir):
    rows = q("events_rfm")(spark, sf_dir).collect()
    n = len(rows)
    from collections import Counter

    for dim in ("r_q", "f_q", "m_q"):
        c = Counter(getattr(r, dim) for r in rows)
        assert set(c) == {1, 2, 3, 4}
        assert max(c.values()) - min(c.values()) <= 1, (dim, c)
    for r in rows:
        assert r.rfm_segment == f"{r.r_q}{r.f_q}{r.m_q}"
    assert n == load_table(spark, sf_dir, "events").select("user_id").distinct().count()


def test_seasonal_decompose_reconstructs_value(spark, sf_dir):
    """seasonal + residual must reconstruct the original value to
    within the two half-up roundings, and bucket residuals must
    center on ~zero."""
    rows = q("ts_seasonal_decompose")(spark, sf_dir).collect()
    vals = {
        r.event_id: r.value
        for r in load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        ).collect()
    }
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for r in rows:
        assert abs((r.seasonal + r.residual) - vals[r.event_id]) < 2e-4
        by_bucket[(r.user_id, r.hod)].append(r.residual)
    for bucket, res in by_bucket.items():
        assert abs(sum(res) / len(res)) < 1e-3, bucket


def test_audio_features_match_analytic_tone(spark, sf_dir):
    """Every clip's decoded features vs the 440 Hz tone's analytic
    values: RMS of a full-scale sine ~ 32000/sqrt(2) (tolerance for
    the partial final period), zero-crossing count ~ 2 * 440 * dur,
    peak <= 32000, duration = frames/rate."""
    import math

    rows = q("mm_audio_features")(spark, sf_dir).collect()
    docs_n = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    ).count()
    assert len(rows) == docs_n
    for r in rows:
        assert r.duration_ms == r.n_frames * 1000 // r.sample_rate
        assert 0 < r.peak <= 32000
        expect_rms = 32000 / math.sqrt(2)
        assert abs(r.rms - expect_rms) / expect_rms < 0.25, r
        expect_zc = 2 * 440.0 * r.n_frames / r.sample_rate
        assert abs(r.zero_crossings - expect_zc) <= 3, r


def test_knn_join_recall_vs_exact(spark, sf_dir):
    """The r6 SRP-banded `llm_knn_join` (16 bands x adaptive sign
    bits — 4 at the test SFs' N=500) must
    recover most true top-5 euclidean neighbors: recall@5 >= 0.6 vs
    the brute-force `llm_knn_join_exact` baseline on the shared 5%
    query subset (measured 0.75 at both sf0.001 and sf0.01). Also
    pins the output contract: <= 5 neighbors per query, dense ranks
    from 1, no self-pairs, distances non-decreasing in rank."""
    approx = q("llm_knn_join")(spark, sf_dir).collect()
    exact = q("llm_knn_join_exact")(spark, sf_dir).collect()
    aset = {(r.qid, r.nid) for r in approx if r.qid % 20 == 0}
    eset = {(r.qid, r.nid) for r in exact}
    assert eset, "exact baseline returned nothing"
    assert len(aset & eset) / len(eset) >= 0.6
    by_q: dict[int, list] = {}
    for r in approx:
        assert r.qid != r.nid
        by_q.setdefault(r.qid, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 5
        dists = [r.euclidean for r in rows]
        assert dists == sorted(dists)


def test_semantic_dedup_ledger_invariants(spark, sf_dir):
    """The drop ledger must map every dropped vector to a smaller-id
    canonical at cos >= 0.95, drop exactly the vectors that have a
    smaller-id near-dup partner, and never drop a canonical."""
    from infofarmsparkml_spark.operators.llm import _srp_neardup_pairs

    ledger = q("llm_semantic_dedup")(spark, sf_dir).collect()
    pairs = _srp_neardup_pairs(spark, sf_dir).collect()
    dropped = {r.vec_id for r in ledger}
    assert dropped == {p.vec_b for p in pairs}
    for r in ledger:
        assert r.dup_of < r.vec_id
        assert r.cosine >= 0.95
    # min-id chaining is allowed (a canonical may itself be dropped
    # via a smaller partner); a self-reference is not
    assert all(r.dup_of != r.vec_id for r in ledger)


def test_quality_classifier_score_consistency(spark, sf_dir):
    """label must equal sign(sum_w); n_grams must be 2n-1 for
    multi-token docs (unigrams + bigrams); scores bounded to the
    weight range."""
    rows = q("llm_quality_classifier")(spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        assert r.label == (r.sum_w > 0)
        assert -1.0 <= r.score <= 1.0
        assert r.n_grams >= 1


def test_running_distinct_reaches_true_total(spark, sf_dir):
    """The last hourly value per event_type must equal the true
    COUNT(DISTINCT user_id) for that type."""
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = q("win_distinct_running")(spark, sf_dir).collect()
    last = {}
    for r in rows:
        cur = last.get(r.event_type)
        if cur is None or r.hour > cur[0]:
            last[r.event_type] = (r.hour, r.distinct_users_to_date)
    assert {k: v[1] for k, v in last.items()} == truth


def test_rolling_median_first_row_is_value(spark, sf_dir):
    """A 1-row frame's median is the value itself; and every median
    lies within the per-user [min, max] cents range."""
    rows = q("win_median_rolling")(spark, sf_dir).collect()
    first_per_user, bounds = {}, {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        first_per_user.setdefault(r.user_id, r)
        lo, hi = bounds.get(r.user_id, (float("inf"), float("-inf")))
        bounds[r.user_id] = (min(lo, r.rolling_median_cents),
                             max(hi, r.rolling_median_cents))
    # first row median == its own value (cents of `value`)
    ev = {(r.user_id, r.event_id): r.value
          for r in load_table(spark, sf_dir, "events").collect()}
    for uid, r in first_per_user.items():
        assert r.rolling_median_cents == round(ev[(uid, r.event_id)] * 100)


def test_regexp_word_count_matches_split(spark, sf_dir):
    """On this all-lowercase fixture, [a-z]+ token count must equal
    the whitespace split count."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        F.size(F.split("text", " ")).alias("n_split"), "doc_id"
    ).collect()
    got = {r.doc_id: r.n_words
           for r in q("fn_regexp")(spark, sf_dir).collect()}
    for r in n:
        assert got[r.doc_id] == r.n_split


def test_temperature_mix_quota_properties(spark, sf_dir):
    """Quotas must sum to <= the 1000-doc budget, be monotone in
    source size, and boost the tail: smaller sources get a LARGER
    quota-to-size ratio (that is what temperature < 1 is for)."""
    rows = q("llm_temperature_mix")(spark, sf_dir).collect()
    assert sum(r.quota for r in rows) <= 1000
    by_size = sorted(rows, key=lambda r: r.n_docs)
    for a, b in zip(by_size, by_size[1:]):
        assert a.quota <= b.quota
        if a.n_docs < b.n_docs:
            assert a.quota / a.n_docs >= b.quota / b.n_docs - 1e-9
        assert a.n_sampled == min(a.quota, a.n_docs)


def test_leakage_safe_split_has_no_leaks(spark, sf_dir):
    """Every source must land wholly in one split; totals must
    account for every document."""
    rows = q("llm_leakage_safe_split")(spark, sf_dir).collect()
    assert all(r.n_leaked_sources == 0 for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    assert {r.split for r in rows} == {"train", "val"}


def test_dedup_cascade_ledger_is_conserved(spark, sf_dir):
    """Each stage's n_out must equal n_in - n_dropped and feed the
    next stage's n_in; stage-1 output must equal the exact-dedup
    group count."""
    rows = sorted(
        q("llm_dedup_cascade")(spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.method for r in rows] == ["exact", "prefix", "containment"]
    for r in rows:
        assert r.n_out == r.n_in - r.n_dropped
        assert r.n_dropped >= 0
    for a, b in zip(rows, rows[1:]):
        assert a.n_out == b.n_in
    exact_groups = q("llm_exact_dedup")(spark, sf_dir).count()
    assert rows[0].n_out == exact_groups


def test_observe_metrics_do_not_poison_mllib(spark, sf_dir):
    """Regression (r5): the Observation listener stays registered on
    its session after get(), and a lingering listener broke closure
    serialization for every subsequent pyspark.ml fit ("Task not
    serializable"). dq_observe_metrics must therefore observe on a
    throwaway newSession — running it and THEN fitting an MLlib
    model on the shared session must both succeed, repeatedly."""
    for _ in range(2):
        rows = q("dq_observe_metrics")(spark, sf_dir).collect()
        assert rows[0].n_rows > 0
        # ml_svm_linear is the exact query that failed post-observe
        # before the fix (LinearSVC fit -> closure cleaner)
        assert len(q("ml_svm_linear")(spark, sf_dir).collect()) > 0


def test_count_min_never_underestimates(spark, sf_dir):
    """CM sketch property: estimate >= true count for every surfaced
    key (min over d independent rows can only add collision mass),
    and the top-10 ordering is (estimate desc, key)."""
    rows = q("agg_count_min_topk")(spark, sf_dir).collect()
    assert rows and len(rows) <= 10
    for r in rows:
        assert r.cm_estimate >= r.true_count
        assert r.overestimate == r.cm_estimate - r.true_count
    keys = [(-r.cm_estimate, r.part) for r in rows]
    assert keys == sorted(keys)


def test_label_propagation_invariants(spark, sf_dir):
    """Min-label LPA after 3 rounds: every label is a real node id,
    label <= own id (labels only shrink), and every label must be
    <= the min over the node's direct neighbors' ids (1 round of
    propagation is a lower bound on 3)."""
    from infofarmsparkml_spark.operators.graph import _copurchase_edges

    labels = {
        r.part: r.label
        for r in q("graph_label_propagation")(spark, sf_dir).collect()
    }
    nodes = set(labels)
    assert set(labels.values()) <= nodes
    assert all(lbl <= n for n, lbl in labels.items())
    nbr_min = {
        r.dst: r.m
        for r in _copurchase_edges(spark, sf_dir)
        .groupBy("dst")
        .agg(F.min("src").alias("m"))
        .collect()
    }
    assert all(
        labels[n] <= min(n, nbr_min[n]) for n in nodes if n in nbr_min
    )


def test_dedup_url_canonicalization(spark, sf_dir):
    """Canonical URLs must be scheme-free, query-free, slash-
    normalized and lower-hosted; keepers are group minima; group
    sizes sum to the corpus."""
    from infofarmsparkml_spark.catalog import load_table

    rows = q("llm_dedup_url")(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert len(rows) < n_docs, "synthesized collisions must dedup"
    for r in rows:
        cu = r.canonical_url
        assert "://" not in cu and "?" not in cu
        assert not cu.endswith("/")
        host = cu.split("/", 1)[0]
        assert host == host.lower()
        assert r.kept_doc_id >= 0


def test_perplexity_buckets_partition_corpus(spark, sf_dir):
    """Bucket names come from the fixed 5-band vocabulary, bucket
    doc counts sum to the corpus, and per-bucket score ranges nest
    inside the band definition ordering."""
    from infofarmsparkml_spark.catalog import load_table

    rows = q("llm_perplexity_bucket")(spark, sf_dir).collect()
    valid = {"1_very_rare", "2_rare", "3_typical", "4_common",
             "5_very_common"}
    assert {r.bucket for r in rows} <= valid
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    by_name = sorted(rows, key=lambda r: r.bucket)
    for r in by_name:
        assert r.min_score <= r.max_score
    # bands are ordered: every doc in a lower band scores below
    # every doc in a higher band
    for lo, hi in zip(by_name, by_name[1:]):
        assert lo.max_score <= hi.min_score


def test_knn_join_recall_in_adaptive_band_regime(spark):
    """The occupancy-adaptive band width changes the kNN join's LSH
    geometry above N=1023 (sf0.1: N=2000 -> 5-bit bands, 32 buckets
    vs 16). Recall must hold in THAT regime too, not just at the
    test SFs' 4-bit layout — and on this near-random corpus the
    5-bit regime is the hardest case (real corpora cluster; the sf1
    smoke fixture measures recall 1.0): recall@5 >= 0.7 vs the
    brute-force baseline on the shared 5% query subset at sf0.1
    (measured 0.752 at 16 bands; the same volume of candidates
    gave only 0.48 at 8 bands, which is why the join runs 16).
    Pinned at sf0.1 explicitly — the sf_dir fixture never reaches
    the adaptive regime."""
    from infofarmsparkml_spark.operators.llm import _adaptive_band_bits

    sf01 = "/root/testdata/sf0.1"
    n = spark.read.parquet(f"{sf01}/embeddings.parquet").count()
    assert _adaptive_band_bits(n) > 4, (
        f"fixture too small (N={n}) to exercise the adaptive regime"
    )
    approx = q("llm_knn_join")(spark, sf01).collect()
    exact = q("llm_knn_join_exact")(spark, sf01).collect()
    aset = {(r.qid, r.nid) for r in approx if r.qid % 20 == 0}
    eset = {(r.qid, r.nid) for r in exact}
    assert eset, "exact baseline returned nothing"
    assert len(aset & eset) / len(eset) >= 0.7


def test_cc_star_equals_minlabel_twin(spark, sf_dir):
    """`graph_cc_star` and `llm_dedup_components` implement the same
    contract (components over the signature-edge graph, min-id
    canonical) with different algorithms and share one recursive-CTE
    oracle — their outputs must be IDENTICAL row sets."""
    a = {
        (r.doc_id, r.component)
        for r in q("graph_cc_star")(spark, sf_dir).collect()
    }
    b = {
        (r.doc_id, r.component)
        for r in q("llm_dedup_components")(spark, sf_dir).collect()
    }
    assert a == b and a


def test_components_run_to_fixpoint_on_25_doc_chain(spark, tmp_path):
    """A 25-doc chain whose neighbours alternately share a prefix and
    a suffix signature has diameter 24: min-label propagation must
    run until no label changes (a round cap would leave the far end
    mislabeled), and both component algorithms must equal the
    recursive-CTE oracle on every doc."""
    import duckdb

    from infofarmsparkml_spark.operators.llm import _CC_ORACLE

    path = tmp_path / "documents.parquet"
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)",
        [
            (i, f"p{2 * (i // 2)} x x s{2 * ((i + 1) // 2)} y y")
            for i in range(25)
        ],
    )
    con.execute(f"COPY d TO '{path}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = {tuple(r) for r in con.execute(_CC_ORACLE).fetchall()}
    con.close()
    assert want == {(i, 0) for i in range(25)}
    for op in ("llm_dedup_components", "graph_cc_star"):
        got = {
            (r.doc_id, r.component)
            for r in q(op)(spark, str(tmp_path)).collect()
        }
        assert got == want, (op, sorted(got - want))


def test_star_contract_chain_graph_logarithmic(spark):
    """The O(log n) claim, exercised on the structure it exists for:
    a 64-node chain (diameter 63 — min-label's worst case at ~63
    sweeps) must contract to a single star on node 0 in <= 8
    large/small-star rounds (measured 7 = ceil(log2) + 1)."""
    from pyspark.sql import functions as F

    from infofarmsparkml_spark.operators.graph import _star_contract

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "u long, v long")
    sym = df.union(
        df.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    stars, rounds = _star_contract(sym)
    labels = {r.h: r.l for r in stars.collect()}
    assert rounds <= 8, rounds
    assert len(labels) == 63 and all(v == 0 for v in labels.values())


def test_kcore_exact_vs_bounded_known_answer(spark):
    """Hand-built graph where the two k-core contracts diverge: a
    triangle (the true 2-core) with a 7-node pendant chain. At k=2
    the chain peels one node per round from the far end — 7 rounds
    to fixpoint. The exact peel labels every chain node with its
    true round and only the triangle 0; the bounded-5 peel stops
    early and mislabels the two innermost chain nodes as core
    (exactly the residual-core semantics its docstring warns
    about)."""
    from pyspark.sql import functions as F

    from infofarmsparkml_spark.operators.graph import _kcore_peel

    und = [(1, 2), (2, 3), (1, 3)] + [(i, i + 1) for i in range(3, 10)]
    df = spark.createDataFrame(und, "src long, dst long")
    sym = (
        df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .localCheckpoint()
    )
    kdf = sym.sparkSession.range(1).select(F.lit(2).cast("long").alias("k"))
    exact = {
        r["part"]: r["removed_round"]
        for r in _kcore_peel(sym, kdf, n_rounds=None).collect()
    }
    assert exact == {
        10: 1, 9: 2, 8: 3, 7: 4, 6: 5, 5: 6, 4: 7, 1: 0, 2: 0, 3: 0,
    }, exact
    bounded = {
        r["part"]: r["removed_round"]
        for r in _kcore_peel(sym, kdf, n_rounds=5).collect()
    }
    assert bounded == {
        10: 1, 9: 2, 8: 3, 7: 4, 6: 5, 5: 0, 4: 0, 1: 0, 2: 0, 3: 0,
    }, bounded
    # runtime oracle-unroll guard (ADVICE r11): this graph's true
    # peel depth is 7, so a 5-round unroll contract must RAISE when
    # round 6 still removes nodes — on any input, not just fixtures
    with pytest.raises(RuntimeError, match="unroll"):
        _kcore_peel(sym, kdf, n_rounds=None, oracle_unroll=5).collect()
    # ...while an unroll that covers the depth exactly passes
    ok = {
        r["part"]: r["removed_round"]
        for r in _kcore_peel(sym, kdf, n_rounds=None, oracle_unroll=7).collect()
    }
    assert ok == exact


def _pagerank_delta_py_oracle(
    und: list[tuple[int, int]],
    tau: int = 1000,
    cap: int = 12,
    burn_in: int = 3,
) -> tuple[int, dict[int, int]]:
    """Independent pure-Python replica of the delta-pagerank integer
    recurrence and stop rule, for known-answer tests."""
    adj: list[tuple[int, int]] = []
    for u, v in und:
        adj += [(u, v), (v, u)]
    deg: dict[int, int] = {}
    for u, _ in adj:
        deg[u] = deg.get(u, 0) + 1
    rank = {u: 1_000_000 for u in deg}
    for r in range(1, cap + 1):
        s: dict[int, int] = {u: 0 for u in deg}
        for u, v in adj:
            s[v] += rank[u] // deg[u]
        new = {u: 150_000 + (17 * s[u]) // 20 for u in deg}
        max_delta = max(abs(new[u] - rank[u]) for u in deg)
        rank = new
        if r >= burn_in and max_delta <= tau:
            return r, rank
    return cap, rank


@pytest.mark.parametrize(
    "und,expect_early",
    [
        # slow mixer — star bridged to a triangle via a pendant
        # edge; floor noise never settles under tau, so the loop
        # must run to the cap and return round-12 ranks (the
        # cap-path contract the oracle's COALESCE mirrors)
        ([(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (5, 7), (6, 7)], False),
        # fast mixer — K8 plus one pendant: dense core converges and
        # the early exit fires (measured stop round 8), with a real
        # rank spread (pendant ~0.29, its hub ~1.29, core ~1.06)
        (
            [
                (a, b)
                for a in range(1, 9)
                for b in range(a + 1, 9)
            ]
            + [(8, 9)],
            True,
        ),
    ],
)
def test_pagerank_delta_known_answer(spark, und, expect_early):
    """Hand-built graphs driven through the SHARED iterate helper
    (the registered query's own arithmetic, not an inline copy —
    ADVICE r11), checked against an independent pure-Python replica
    of the integer recurrence AND the stop rule — one graph per stop
    path: early exit and cap. The helper must return the python
    oracle's stop-round vector exactly, bit-for-bit, and the same
    rounds_run."""
    from pyspark.sql import functions as F

    from infofarmsparkml_spark.operators.graph import (
        _pagerank_delta_iterate,
    )

    df = spark.createDataFrame(und, "src long, dst long")
    sym = (
        df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .localCheckpoint()
    )
    expect_rounds, expect_rank = _pagerank_delta_py_oracle(und)
    assert (expect_rounds < 12) == expect_early

    ranks_df, rounds_run = _pagerank_delta_iterate(sym)
    got = {r["src"]: r["rank"] for r in ranks_df.collect()}
    assert rounds_run == expect_rounds, (rounds_run, expect_rounds)
    assert got == expect_rank, (got, expect_rank)


def test_pagerank_delta_empty_edges_caps_out(spark):
    """ADVICE r12: on an empty edge list the delta aggregate's MAX
    is NULL, so `first()["md"]` is None — the guard must treat that
    as "no delta evidence" and cap out with an empty rank vector
    instead of raising TypeError on the None <= tau comparison."""
    from infofarmsparkml_spark.operators.graph import (
        _pagerank_delta_iterate,
    )

    edges = spark.createDataFrame([], "src long, dst long").localCheckpoint()
    ranks_df, rounds_run = _pagerank_delta_iterate(edges)
    assert ranks_df.count() == 0
    assert rounds_run == 12  # runs to cap: no rows ever pass tau


def test_pagerank_delta_converges_early_on_fixture(spark, sf_dir):
    """The whole point of the twin is fewer rounds than the fixed-10
    `graph_pagerank` on fast-mixing graphs: the co-purchase fixture
    measures stop-round 4 at all three SFs (deltas 495k -> 26k ->
    2.4k -> <=801 micro). Pin rounds_run <= 6 so a regression that
    silently runs to the cap (paying 12 edge joins where 4 suffice)
    fails loudly; parity itself is cap-safe by construction."""
    from infofarmsparkml_spark.operators.graph import (
        _copurchase_edges,
        _edge_layout,
        _pagerank_delta_iterate,
    )

    _, rounds_run = _pagerank_delta_iterate(
        _edge_layout(_copurchase_edges(spark, sf_dir))
    )
    assert 3 <= rounds_run <= 6, rounds_run


def test_kcore_exact_refines_bounded_on_fixture(spark, sf_dir):
    """On the co-purchase fixture the two twins must agree on every
    round-1..5 peel; the exact twin may peel deeper (rounds 6+) but
    only from nodes the bounded twin called residual-core, and its
    measured depth must stay at least 4 rounds of headroom under
    the oracle's 16-round unroll (<= 12), so fixture drift toward
    the cliff fails here long before the runtime guard in
    _kcore_peel (which raises past round 16 on any input) would."""
    bounded = {
        r["part"]: r["removed_round"]
        for r in q("graph_kcore")(spark, sf_dir).collect()
    }
    exact = {
        r["part"]: r["removed_round"]
        for r in q("graph_kcore_exact")(spark, sf_dir).collect()
    }
    assert set(bounded) == set(exact)
    assert max(exact.values()) <= 12
    for node, rr in bounded.items():
        if 1 <= rr <= 5:
            assert exact[node] == rr, (node, rr, exact[node])
        else:
            assert exact[node] == 0 or exact[node] > 5, (node, exact[node])


def test_dup_substring_known_answer_sample(spark, sf_dir):
    """Engine-independent known answer: recompute the window-hash
    span index in pure Python (hashlib.md5 over the same 40-char
    windows at stride 10) for the full fixture and check the
    per-doc counts of a sample of flagged + unflagged docs."""
    import hashlib
    from collections import defaultdict

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    holders = defaultdict(set)
    wins = {}
    for did, t in docs.items():
        ws = [t[p : p + 40] for p in range(0, len(t) - 39, 10)]
        wins[did] = [hashlib.md5(w.encode()).hexdigest() for w in ws]
        for h in wins[did]:
            holders[h].add(did)
    expect = {}
    for did in docs:
        n_win = len(wins[did])
        n_dup = sum(1 for h in wins[did] if len(holders[h]) >= 2)
        expect[did] = (n_win, n_dup, 1000 * n_dup // n_win if n_win else 0)
    got = {
        r.doc_id: (r.n_win, r.n_dup, r.dup_permille)
        for r in q("llm_dup_substring")(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture plants near-dups: some span-sharing must exist
    assert any(v[1] > 0 for v in got.values())


def test_bm25_ranking_properties(spark, sf_dir):
    """Contract checks orthogonal to the oracle hash: 3 corpus-
    derived queries, dense ranks 1..10 each, scores positive and
    non-increasing in rank (docs containing a query term is
    structural: scoring is an inner join on the term)."""
    rows = q("llm_bm25_topk")(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert sorted(by_q) == [0, 1, 2]
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score_micro for r in rs]
        assert all(s > 0 for s in scores)
        assert scores == sorted(scores, reverse=True)


def test_dup_substring_skewed_hot_window_known_answer(spark, tmp_path):
    """Skew stress for the span index (VERDICT r8 #8): every doc
    opens with the SAME 40-char boilerplate, so one window hash
    carries the whole corpus (800 rows on one key) while every
    other hash holds ~1 — the hot-group-key shape the retrieval.py
    docstring claims the plan tolerates. The answer is checked
    exactly against a pure-Python replay of the windowing (40-char
    windows at stride 10, per-(h, doc) counts, cross-doc >= 2),
    so this is a correctness-under-skew proof, not a smoke."""
    import pandas as pd

    # track the operator's geometry by construction (ADVICE r9):
    # a retune of _WIN/_STRIDE retunes the replay with it
    from infofarmsparkml_spark.operators.retrieval import _STRIDE, _WIN

    boiler = "B" * _WIN  # one full window shared by every doc
    docs = []
    for i in range(800):
        # the tail is the doc id repeated: every 40-char window over
        # it (period 9) contains >= 4 full id occurrences, so all
        # non-boilerplate windows are provably unique per doc
        docs.append((i, boiler + f" doc{i:04d} " * 7))
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet", index=False
    )

    # pure-Python replay of the operator's window semantics
    from collections import Counter, defaultdict

    W, S = _WIN, _STRIDE
    per_doc_wins: dict[int, Counter] = {}
    holders: defaultdict[str, set] = defaultdict(set)
    for doc_id, text in docs:
        ws = (
            [text[p - 1 : p - 1 + W] for p in range(1, len(text) - W + 2, S)]
            if len(text) >= W
            else []
        )
        per_doc_wins[doc_id] = Counter(ws)
        for w in ws:
            holders[w].add(doc_id)
    assert len(holders[boiler]) == 800  # the skew is real
    expect = {}
    for doc_id, cnt in per_doc_wins.items():
        n_win = sum(cnt.values())
        n_dup = sum(c for w, c in cnt.items() if len(holders[w]) >= 2)
        permille = 1000 * n_dup // n_win if n_win else 0
        expect[doc_id] = (n_win, n_dup, permille, n_dup >= 3)

    got = {
        r.doc_id: (r.n_win, r.n_dup, r.dup_permille, r.flagged)
        for r in q("llm_dup_substring")(spark, str(tmp_path)).collect()
    }
    assert got == expect
    # the hot window alone is 1 dup per doc; tails are unique, so
    # nothing is flagged (>= 3 dup windows) — the skewed key did
    # not leak into unrelated windows
    assert all(v[1] >= 1 and not v[3] for v in got.values())


def test_bm25_idf_no_boundary_sitting_terms(duck):
    """Midpoint-distance guard for the one non-IEEE-exact step in
    llm_bm25_topk's oracle (ADVICE r6 / VERDICT r8 #3): the idf is
    floor(1e6 * ln(x)), and ln may differ by ~1 ulp between Spark
    (Java Math.log) and DuckDB (libm). A cross-engine floor flip
    requires the true 1e6*ln(x) to sit within ~8e-9 of an integer;
    this test asserts every distinct df at this SF keeps a >1e-6
    distance (>100x the worst engine disagreement), so a boundary-
    sitting term fails HERE, loudly, instead of as an opaque parity
    hash mismatch. Also pins DuckDB's SQL-computed floor to
    Python's for every df — one engine-pair leg checked directly.
    Runs at sf0.001 by default; TEST_SF_DIR covers sf0.01/0.1."""
    import math

    (n_docs,) = duck.execute("SELECT count(*) FROM documents").fetchone()
    dfs = [
        int(r[0])
        for r in duck.execute(
            """
            SELECT DISTINCT df FROM (
              SELECT term, count(*) AS df FROM (
                SELECT DISTINCT doc_id, term FROM (
                  SELECT doc_id,
                         unnest(string_split(text, ' ')) AS term
                  FROM documents))
              GROUP BY term)
            """
        ).fetchall()
    ]
    assert dfs and all(1 <= d <= n_docs for d in dfs)
    offenders = []
    for df in dfs:
        v = 1e6 * math.log(
            1.0 + (2.0 * (n_docs - df) + 1.0) / (2.0 * df + 1.0)
        )
        dist = abs(v - round(v))
        if dist < 1e-6:
            offenders.append((df, v, dist))
    assert not offenders, (
        "idf micro-unit boundary-sitting df values (switch the BM25 "
        f"oracle to exact-rational idf for these): {offenders}"
    )
    duck_floors = dict(
        duck.execute(
            f"""
            SELECT df, CAST(floor(1000000.0 * ln(
                     1.0 + (2.0 * ({n_docs} - df) + 1.0)
                           / (2.0 * df + 1.0))) AS BIGINT)
            FROM (SELECT unnest(?) AS df)
            """,
            [dfs],
        ).fetchall()
    )
    for df in dfs:
        py = math.floor(
            1e6
            * math.log(
                1.0 + (2.0 * (n_docs - df) + 1.0) / (2.0 * df + 1.0)
            )
        )
        assert duck_floors[df] == py, (df, duck_floors[df], py)


def test_kcore_known_answer(spark, sf_dir):
    """Engine-independent known answer: replay the 5-round
    synchronized peel in pure Python sets/dicts over the same
    co-purchase edges and require identical (node, round) output."""
    from collections import defaultdict

    lf = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = defaultdict(set)
    for r in lf.collect():
        baskets[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in baskets.values():
        for a in parts:
            for b in parts:
                if a != b:
                    adj[a].add(b)
    e = sum(len(v) for v in adj.values())
    v = len(adj)
    k = (3 * e) // (4 * v)
    alive = set(adj)
    expect = {}
    for rnd in range(1, 6):
        deg = {n: sum(1 for m in adj[n] if m in alive) for n in alive}
        doomed = {n for n in alive if deg[n] < k}
        for n in doomed:
            expect[n] = rnd
        alive -= doomed
    for n in alive:
        expect[n] = 0
    got = {
        r.part: r.removed_round
        for r in q("graph_kcore")(spark, sf_dir).collect()
    }
    assert got == expect
    # the peel must be non-degenerate: some removals AND a core
    assert 0 in got.values() and any(v > 0 for v in got.values())


def test_python_datasource_partition_contract(spark, sf_dir):
    """The batch Python DataSource must honor its partitions()
    plan (8 shards -> 8 read tasks) and generate each id exactly
    once across shard boundaries, with the md5-derived weight
    matching hashlib bit-for-bit."""
    import hashlib

    from infofarmsparkml_spark.operators.pysource import (
        _register_synth_source,
    )

    _register_synth_source(spark)
    src = (
        spark.read.format("ifsml_synthrows")
        .option("n", "4096")
        .option("partitions", "8")
        .load()
    )
    assert src.rdd.getNumPartitions() == 8
    assert src.count() == 4096
    assert src.select("id").distinct().count() == 4096
    row = src.filter(F.col("id") == 7).collect()[0]
    assert row.weight == int(hashlib.md5(b"7").hexdigest()[:8], 16)
    assert row.bucket == 7


def test_stream_python_datasource_exactly_once(spark, sf_dir):
    """The streaming Python DataSource drains its 400-id keyspace
    across 2 offset-tracked micro-batches with no id duplicated or
    dropped at the chunk boundary (sum of per-bucket counts == n)."""
    out = q("stream_python_datasource")(spark, sf_dir)
    assert out.count() == 8
    assert out.agg(F.sum("n_rows")).collect()[0][0] == 400


def test_stream_python_datasource_recovers_across_restart(spark, sf_dir):
    """Offset recovery across a query restart: drain one
    availableNow batch (the first 100-id chunk — for simple stream
    readers availableNow captures only the offset visible at start),
    stop, then restart a NEW query on the SAME checkpoint and drain
    fully. Committed offsets + complete-mode agg state recover, so
    the final totals cover every id exactly once — the contract that
    makes a custom Python source production-safe."""
    import hashlib
    import tempfile

    from infofarmsparkml_spark.operators.pysource import (
        SynthStreamDataSource,
        _md5_weight,
    )
    from infofarmsparkml_spark.streaming.ops import _state_sized

    spark.dataSource.register(SynthStreamDataSource)
    ckpt = tempfile.mkdtemp(prefix="pysrc_restart_")

    def agg_stream():
        src = (
            spark.readStream.format("ifsml_synthstream")
            .option("n", "400")
            .option("chunk", "100")
            .load()
        )
        return src.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("weight").alias("s")
        )

    with _state_sized(spark):
        q1 = (
            agg_stream()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("ifsml_pysrc_restart1")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q1.awaitTermination(120)
        n1 = spark.table("ifsml_pysrc_restart1").collect()[0]["n"]
        assert 0 < n1 < 400, f"expected a partial first drain, got {n1}"
        q2 = (
            agg_stream()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("ifsml_pysrc_restart2")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        q2.awaitTermination(60)
    row = spark.table("ifsml_pysrc_restart2").collect()[0]
    assert row["n"] == 400
    assert row["s"] == sum(_md5_weight(i) for i in range(400))


def test_diversity_sample_cluster_quota_invariants(spark, sf_dir):
    # D4-style sampler: every cluster is represented, per-cluster
    # picks fill the sqrt-flattened quota exactly (quota <= |c|
    # always, since floor(sqrt(n)) <= n), ranks are dense 1..quota,
    # and the md5 pick order is deterministic across runs
    rows = q("llm_diversity_sample")(spark, sf_dir).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
        assert r.quota == max(1, int(r.cluster_n**0.5))
        assert 1 <= r.pick_rank <= r.quota
    for c, picks in by_cluster.items():
        assert len(picks) == picks[0].quota, c
        assert sorted(p.pick_rank for p in picks) == list(
            range(1, picks[0].quota + 1)
        ), c
    again = q("llm_diversity_sample")(spark, sf_dir).collect()
    assert sorted(r.vec_id for r in rows) == sorted(
        r.vec_id for r in again
    )


def test_pq_topk_rerank_recall_vs_exact(spark, sf_dir):
    """PQ shortlist (depth 200) + exact rerank must recover nearly
    all of the true quantized-euclidean top-10, even on this
    near-random corpus — the hardest case for a coarse codebook
    (pure ADC top-10 recalls only ~0.2 here; the shortlist+rerank
    architecture is what makes PQ usable)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from infofarmsparkml_spark.operators.llm import (
        _double_vecs,
        _qdist,
        _quantize_vec,
    )

    pq = {
        (r["qid"], r["cid"])
        for r in q("llm_pq_topk")(spark, sf_dir).collect()
    }
    quant = _double_vecs(spark, sf_dir, "vec_id", "e").select(
        "vec_id", _quantize_vec("e").alias("qv")
    )
    qs = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("va")
    )
    cs = quant.select(F.col("vec_id").alias("cid"), F.col("qv").alias("vb"))
    ver = cs.join(F.broadcast(qs), F.col("qid") != F.col("cid")).select(
        "qid", "cid", _qdist("va", "vb").alias("d")
    )
    w = W.partitionBy("qid").orderBy("d", "cid")
    exact = {
        (r["qid"], r["cid"])
        for r in ver.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .collect()
    }
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.8, f"PQ rerank recall too low: {recall}"


def test_ivf_pq_rerank_recall_vs_exact(spark, sf_dir):
    """The composite IVF+PQ pipeline probes 5/16 of the corpus, so
    its recall is bounded by the coarse quantizer's cell recall —
    on this near-random corpus that measures ~0.52-0.58 across SFs
    (the locality lift over the 5/16 = 0.31 blind floor comes from
    queries probing their own neighborhoods' cells). Gate at 0.4,
    the same family of floor as test_ivf_recall_vs_exact's 0.5."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from infofarmsparkml_spark.operators.llm import (
        _double_vecs,
        _qdist,
        _quantize_vec,
    )

    got = {
        (r["qid"], r["cid"])
        for r in q("llm_ivf_pq_topk")(spark, sf_dir).collect()
    }
    quant = _double_vecs(spark, sf_dir, "vec_id", "e").select(
        "vec_id", _quantize_vec("e").alias("qv")
    )
    qs = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("va")
    )
    cs = quant.select(F.col("vec_id").alias("cid"), F.col("qv").alias("vb"))
    ver = cs.join(F.broadcast(qs), F.col("qid") != F.col("cid")).select(
        "qid", "cid", _qdist("va", "vb").alias("d")
    )
    w = W.partitionBy("qid").orderBy("d", "cid")
    exact = {
        (r["qid"], r["cid"])
        for r in ver.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.4, f"IVF+PQ recall too low: {recall}"


def test_ivf_pq_residual_recall_clustered(spark, tmp_path):
    """VERDICT r15 #1's gate: on a CLUSTERED corpus (the workload
    IVF exists for — 25 gaussian clusters x 80 points, intra-cluster
    noise 0.04 vs center scale 0.6) the residual-encoded IVF+PQ must
    reach recall@10 >= 0.8 against the exact quantized-euclidean
    top-10. Measured 1.0: every query's cluster maps to one coarse
    cell, the first probe hits it, and residual codes rank
    cluster-mates into the depth-100 shortlist. The r16 numpy A/B
    (same picks, raw vs residual codes) showed BOTH encodings pass
    this fixture — the gate pins that the clustered regime stays
    >= 0.8 whatever the encoding evolves into, while
    test_ivf_pq_rerank_recall_vs_exact pins the near-random floor
    (cell-recall-bound ~0.55, gated 0.4)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from infofarmsparkml_spark.operators.llm import (
        _double_vecs,
        _qdist,
        _quantize_vec,
    )

    d = _write_clustered_embeddings(tmp_path)
    got = {
        (r["qid"], r["cid"]) for r in q("llm_ivf_pq_topk")(spark, d).collect()
    }
    quant = _double_vecs(spark, d, "vec_id", "e").select(
        "vec_id", _quantize_vec("e").alias("qv")
    )
    qs = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("va")
    )
    cs = quant.select(F.col("vec_id").alias("cid"), F.col("qv").alias("vb"))
    ver = cs.join(F.broadcast(qs), F.col("qid") != F.col("cid")).select(
        "qid", "cid", _qdist("va", "vb").alias("dd")
    )
    w = W.partitionBy("qid").orderBy("dd", "cid")
    exact = {
        (r["qid"], r["cid"])
        for r in ver.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"clustered IVF+PQ recall too low: {recall}"


def test_pq_sub_d2_f64_kernel_exact():
    """Pins the exactness envelope of `_pq_sub_d2` (int64 einsum —
    kept after the r16 in-situ A/B showed the f64-DGEMM rewrite 7x
    slower in Spark workers despite a 3.7x standalone microbench;
    see the kernel's docstring): the int64 result must bit-equal an
    all-float64 evaluation across the full quantized-grid magnitude
    range (|x| <= 2.4e6 — products <= 5.8e12, d2 <= ~1.8e14, all
    < 2^53 where f64 integer arithmetic is exact), so EITHER kernel
    form is safe and the DuckDB double-arithmetic oracle agrees."""
    import numpy as np

    from infofarmsparkml_spark.operators.llm import _pq_sub_d2

    rng = np.random.default_rng(99)
    C = rng.integers(-2_400_000, 2_400_001, size=(256, 8, 8)).astype(
        "int64"
    )
    m = rng.integers(-2_400_000, 2_400_001, size=(500, 8, 8)).astype(
        "int64"
    )
    # include exact extremes (worst-case magnitudes)
    m[0, :, :] = 2_400_000
    m[1, :, :] = -2_400_000
    C[0, :, :] = -2_400_000
    got = _pq_sub_d2(C)(m)
    # all-f64 reference: the DGEMM form (and how DuckDB's doubles
    # evaluate the same expansion)
    Cf, mf = C.astype("float64"), m.astype("float64")
    cross = np.empty((len(m), 256, 8))
    for s in range(8):
        cross[:, :, s] = mf[:, s, :] @ Cf[:, s, :].T
    ref = (
        (mf * mf).sum(axis=2)[:, None, :]
        - 2.0 * cross
        + (Cf * Cf).sum(axis=2)[None, :, :]
    ).astype("int64")
    assert got.dtype == np.int64
    assert np.array_equal(got, ref)


def test_pq_codebook_requires_256_vectors(spark, tmp_path):
    """ADVICE r15: a corpus smaller than the codebook used to die
    with numpy's bare reshape ValueError while the oracle silently
    degraded; the contract is now an explicit error on BOTH PQ
    operators."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pd.DataFrame(
        {
            "vec_id": np.arange(100, dtype="int64"),
            "embedding": list(
                rng.normal(0, 0.1, size=(100, 64)).astype("float32")
            ),
            "label": np.zeros(100, dtype="int32"),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    for name in ("llm_pq_topk", "llm_ivf_pq_topk"):
        with pytest.raises(ValueError, match="codebook needs >= 256"):
            q(name)(spark, str(tmp_path))


def test_ivf_topk_requires_16_vectors(spark, tmp_path):
    """llm_ivf_topk picks its 16 coarse centers through the same
    md5-pick guard: a 10-vector corpus raises instead of building
    fewer cells."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pd.DataFrame(
        {
            "vec_id": np.arange(10, dtype="int64"),
            "embedding": list(
                rng.normal(0, 0.1, size=(10, 64)).astype("float32")
            ),
            "label": np.zeros(10, dtype="int32"),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(ValueError, match="codebook needs >= 16"):
        q("llm_ivf_topk")(spark, str(tmp_path))


def test_fn_array_long_tokens_null_without_long_word(spark, tmp_path):
    """A document with no word longer than four letters has an empty
    long-token list: DuckDB's ARRAY_TO_STRING gives NULL for it, so
    fn_array must too (concat_ws alone gives '')."""
    import duckdb
    import pandas as pd

    from infofarmsparkml_spark.verify import compare_frames

    docs = tmp_path / "documents.parquet"
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a bb ccc dddd", "spark joins large tables"],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [13, 24],
        }
    ).to_parquet(docs, index=False)
    fn, oracle = registry.get("fn_array")
    got = fn(spark, str(tmp_path)).toPandas()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        ok, msg = compare_frames(got, con.execute(oracle).fetchdf())
    assert ok, msg
    assert got.set_index("doc_id")["long_tokens"].isna().tolist() == [True, False]


def test_compaction_writes_fragmented_input_once(spark, sf_dir, duck):
    """etl_compact_small_files caches only its simulated fragmented
    input: the 64-file fragment dir keeps its files across calls,
    while the 4-file compacted output is rewritten on every call, and
    both calls match the oracle."""
    import glob
    import os

    from infofarmsparkml_spark.operators._util import scratch_dir
    from infofarmsparkml_spark.verify import compare_frames

    fn, oracle = registry.get("etl_compact_small_files")

    def parts(tag):
        files = glob.glob(os.path.join(scratch_dir(tag, sf_dir), "part-*"))
        return {os.path.basename(f): os.stat(f).st_mtime_ns for f in files}

    stamps = []
    for _ in range(2):
        ok, msg = compare_frames(
            fn(spark, sf_dir).toPandas(), duck.execute(oracle).fetchdf()
        )
        assert ok, msg
        stamps.append((parts("orders_fragmented"), parts("orders_compacted")))
    (frag1, comp1), (frag2, comp2) = stamps
    assert len(frag1) == 64 and frag2 == frag1
    assert len(comp1) == 4 and len(comp2) == 4
    assert min(comp2.values()) > max(comp1.values())


@pytest.mark.parametrize(
    "name, n_jobs",
    [
        ("sink_parquet", 1),
        ("etl_partition_overwrite", 2),
        ("llm_ivf_pq_partitioned", 3),
    ],
)
def test_sink_build_starts_only_its_writes(spark, sf_dir, name, n_jobs):
    """Building a sink query runs its writes and nothing else: the
    re-read declares the schema just written, so the build starts no
    footer-inference job. llm_ivf_pq_partitioned's 3 jobs are its
    codebook pick, the index write and the probe-cell collect."""
    sc = spark.sparkContext
    group = f"build-jobs-{name}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        q(name)(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs


@pytest.mark.parametrize(
    "name",
    [
        "sql_scalar_subquery",
        "sql_correlated_scalar",
        "sql_exists_in",
        "sql_cte",
        "sql_lateral_view",
        "sql_lateral_join",
        "sql_not_in_null_aware",
        "sql_recursive_cte",
        "sql_parameterized",
        "sql_scripting",
        "sql_udf",
        "fn_collation",
        "udtf_python",
        "udtf_analyze",
    ],
)
def test_sql_queries_leave_no_temp_view(spark, sf_dir, name):
    """A query that runs SQL text over fixture tables binds them as
    DataFrame parameters, so it registers no temp view that would
    shadow a table of the caller's catalog. Run in a fresh session of
    the application, so views left by earlier tests cannot hide one."""
    session = spark.newSession()
    before = session.catalog.listTables()
    assert q(name)(session, sf_dir).collect()
    assert session.catalog.listTables() == before


def test_scoped_confs_unset_what_they_found_unset(spark, sf_dir):
    """A query that scopes a session conf leaves a key it found unset
    unset, instead of writing the default back as an explicit value:
    etl_partition_overwrite's overwrite mode, ps_pandas_api's default
    index type, and the state-partition count a stateful stream
    sets."""
    from infofarmsparkml_spark.streaming.ops import _state_sized

    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.shuffle.partitions",
        "pandas_on_Spark.compute.default_index_type",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.unset(k)
        assert q("etl_partition_overwrite")(spark, sf_dir).count() > 0
        assert q("ps_pandas_api")(spark, sf_dir).count() > 0
        with _state_sized(spark):
            assert spark.conf.get(keys[1]) == str(
                spark.sparkContext.defaultParallelism
            )
        assert {k: spark.conf.get(k, None) for k in keys} == dict.fromkeys(keys)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
