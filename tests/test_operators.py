"""Unit tests for the pipeline operators (dedup / similarity / text /
multimodal) — behaviors the SQL-oracle gate can't see directly:
determinism, invariants, stub gating, session isolation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_datafusion_arrow_flight_spark.operators import (
    dedup, multimodal, similarity)
from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").limit(64).cache()


def test_minhash_signature_deterministic(spark, docs):
    a = dedup.minhash_signature(docs, "doc_id", "text", n_hashes=8)
    b = dedup.minhash_signature(docs, "doc_id", "text", n_hashes=8)
    assert a.collect() == b.collect()


def test_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "something else entirely")], "doc_id long, text string")
    rows = {r["__id"]: r["__sig"] for r in
            dedup.minhash_signature(df, "doc_id", "text", n_hashes=16)
            .collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_simhash_bits_bounded(docs):
    rows = dedup.simhash(docs, "doc_id", "text", bits=32).collect()
    assert rows and all(0 <= r.simhash < (1 << 32) for r in rows)


def test_lsh_pairs_symmetric_ids(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                    n_hashes=16, bands=4).collect()
    assert all(r.id_a < r.id_b for r in pairs)


def test_cosine_self_similarity_is_one(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id long, emb array<double>")
    v = df.select(similarity.cosine(F.col("emb"), F.col("emb"))
                  .alias("c")).head().c
    assert abs(v - 1.0) < 1e-12


def test_topk_cosine_k_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(32).cache()
    out = similarity.topk_cosine(emb.limit(4), emb, k=5)
    counts = (out.groupBy("query_id").count().collect())
    assert counts and all(r["count"] <= 5 for r in counts)


def test_multimodal_stub_decode_runs_without_libs(docs):
    payloads = multimodal.attach_payload(docs)
    out = multimodal.decode_payloads(payloads).collect()
    assert out and all(r.n_bytes > 0 and len(r.checksum) == 32 for r in out)


def test_multimodal_real_decode_gated(docs):
    payloads = multimodal.attach_payload(docs).limit(1)
    with pytest.raises(Exception):  # NotImplementedError inside the executor
        multimodal.decode_payloads(payloads, decode_mode="real").collect()


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.topk_cosine(queries, emb, k=10)
    approx = similarity.ann_ivf_topk(queries, emb, k=10, nprobe=8)
    e = {(r.query_id, r.corpus_id) for r in exact.collect()}
    a = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # determinism
    again = {(r.query_id, r.corpus_id)
             for r in similarity.ann_ivf_topk(queries, emb, k=10,
                                              nprobe=8).collect()}
    assert a == again


def test_salted_join_equals_plain_join(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators.skew import salted_join
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name")
    plain = orders.join(cust, "o_custkey").select(
        "o_orderkey", "c_name").collect()
    salted = salted_join(orders, cust, "o_custkey", salt=4).select(
        "o_orderkey", "c_name").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_aggregate_equals_plain(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators.skew import (
        salted_aggregate)
    orders = load_table(spark, sf_dir, "orders")
    plain = (orders.groupBy("o_orderstatus")
             .agg(F.count("o_orderkey").alias("count_o_orderkey"),
                  F.max("o_totalprice").alias("max_o_totalprice"),
                  F.min("o_custkey").alias("min_o_custkey")))
    salted = salted_aggregate(orders, ["o_orderstatus"],
                              {"o_orderkey": "count",
                               "o_totalprice": "max",
                               "o_custkey": "min"}, salt=8)
    cols = ["o_orderstatus", "count_o_orderkey", "max_o_totalprice",
            "min_o_custkey"]
    assert sorted(map(tuple, plain.select(cols).collect())) == \
        sorted(map(tuple, salted.select(cols).collect()))


def test_multimodal_resize_and_features(docs):
    resized = multimodal.resize_payloads(
        multimodal.attach_payload(docs), 64, 64).collect()
    assert resized and all(r.out_width == 64 and r.scale_x > 0
                           for r in resized)
    feats = multimodal.extract_features(
        multimodal.attach_payload(docs), dim=16).collect()
    assert feats and all(len(r.feature) == 16 and
                         abs(sum(r.feature) - 1.0) < 1e-9 for r in feats)


def test_iterate_fixpoint_matches_native_recursive_cte(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.recursive import (
        iterate_fixpoint)
    native = spark.sql("""
        WITH RECURSIVE series(n, total) AS (
          SELECT 1, 1
          UNION ALL
          SELECT n + 1, total + n + 1 FROM series WHERE n < 20
        ) SELECT n, total FROM series""").collect()
    seed = spark.sql("SELECT 1 AS n, 1 AS total")
    loop = iterate_fixpoint(
        seed, lambda d: d.where("n < 20")
                         .selectExpr("n + 1 AS n", "total + n + 1 AS total"))
    assert sorted(map(tuple, native)) == sorted(map(tuple, loop.collect()))


def test_iterate_fixpoint_transitive_closure(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.recursive import (
        iterate_fixpoint)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src int, dst int").cache()
    seed = edges.selectExpr("src", "dst AS reach")

    def step(frontier):
        f, e = frontier.alias("f"), edges.alias("e")
        return (f.join(e, F.col("f.reach") == F.col("e.src"))
                .select(F.col("f.src").alias("src"),
                        F.col("e.dst").alias("reach")))

    closure = iterate_fixpoint(seed, step, distinct_frontier=True)
    got = {(r.src, r.reach) for r in closure.collect()}
    assert got == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6)}


def test_pandas_cosine_matches_jvm_cosine(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").limit(40).cache()
    a = emb.selectExpr("vec_id AS id_a",
                       "transform(embedding, x -> cast(x as double)) AS va")
    b = emb.selectExpr("vec_id AS id_b",
                       "transform(embedding, x -> cast(x as double)) AS vb")
    pairs = a.crossJoin(b).where("id_a < id_b")
    cos_pd = similarity.cosine_pandas_udf()
    both = pairs.select(
        "id_a", "id_b",
        similarity.cosine(F.col("va"), F.col("vb")).alias("jvm"),
        cos_pd("va", "vb").alias("py"))
    bad = both.where(F.abs(F.col("jvm") - F.col("py")) > 1e-9).count()
    assert bad == 0


def test_asof_join_strict_vs_inclusive(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:00:00")],
        "k int, lts string").selectExpr("k", "CAST(lts AS TIMESTAMP) AS lts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 10:30:00", "b")],
        "k int, rts string, v string") \
        .selectExpr("k", "CAST(rts AS TIMESTAMP) AS rts", "v")
    inclusive = {(r.lts.hour, r.asof_v) for r in
                 asof_join(left, right, "k", "lts", "rts").collect()}
    strict = {(r.lts.hour, r.asof_v) for r in
              asof_join(left, right, "k", "lts", "rts",
                        strict=True).collect()}
    assert inclusive == {(10, "a"), (11, "b")}   # 10:00 sees equal-ts row
    assert strict == {(10, None), (11, "b")}     # strict < excludes it


def test_hll_sketch_merge_identity(spark, sf_dir):
    """Union of per-group sketches must estimate the same as one
    whole-table sketch, and land within 5% of the exact count."""
    e = load_table(spark, sf_dir, "events")
    merged = (e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
              .groupBy().agg(F.hll_union_agg("sk").alias("g"))
              .select(F.hll_sketch_estimate("g").alias("est")).head().est)
    whole = (e.groupBy().agg(F.hll_sketch_agg("user_id").alias("sk"))
             .select(F.hll_sketch_estimate("sk").alias("est")).head().est)
    exact = e.select("user_id").distinct().count()
    assert merged == whole
    assert abs(merged - exact) / exact < 0.05


def test_binned_range_join_equals_naive(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators.range_join import (
        point_interval_range_join)
    orders = (load_table(spark, sf_dir, "orders")
              .selectExpr("o_orderkey", "o_totalprice AS pt"))
    bands = spark.createDataFrame(
        [(1, 0.0, 50000.0), (2, 40000.0, 120000.0), (3, 100000.0, 400000.0)],
        "band_id int, lo double, hi double")
    naive = (orders.crossJoin(bands)
             .where("pt >= lo AND pt <= hi")
             .select("o_orderkey", "band_id"))
    binned = point_interval_range_join(
        orders, bands, "pt", "lo", "hi", bin_width=25000.0) \
        .select("o_orderkey", "band_id")
    assert sorted(map(tuple, naive.collect())) == \
        sorted(map(tuple, binned.collect()))
    # and the plan is a hash join on the bin, not a nested loop
    plan = binned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert "NestedLoop" not in plan
    # Outer variants are refused loudly (ADVICE r8): the residual
    # BETWEEN runs post-join and would silently drop null-extended
    # rows, turning any outer join back into an inner one.
    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner"):
        point_interval_range_join(orders, bands, "pt", "lo", "hi",
                                  bin_width=25000.0, how="left")


def test_embedding_near_dup_lsh_recall(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").cache()
    exact = {(r.id_a, r.id_b) for r in
             similarity.near_dup_pairs(emb, threshold=0.35).collect()}
    approx = {(r.id_a, r.id_b) for r in
              similarity.near_dup_pairs_lsh(emb, threshold=0.35).collect()}
    assert approx <= exact  # verify step guarantees no false positives
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.6, f"LSH near-dup recall too low: {recall:.2f}"


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir):
    import shutil
    from iceberg_datafusion_arrow_flight_spark.operators.compaction import (
        compact_parquet, dataset_bytes)
    src = "/root/repo/.scratch/compact_src"
    dst = "/root/repo/.scratch/compact_dst"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(32).write.mode("overwrite").parquet(src)
    n_in = sum(1 for f in __import__("os").listdir(src)
               if f.endswith(".parquet"))
    assert n_in == 32
    n_out = compact_parquet(spark, src, dst,
                            target_file_bytes=dataset_bytes(src),
                            sort_by=["o_orderkey"])
    assert n_out <= 2  # ~one target-sized file
    assert spark.read.parquet(dst).count() == orders.count()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)


def test_ivf_kmeans_trained_recall(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {(r.query_id, r.corpus_id)
             for r in similarity.topk_cosine(queries, emb, k=10).collect()}

    def recall(train_iters):
        got = {(r.query_id, r.corpus_id)
               for r in similarity.ann_ivf_topk(
                   queries, emb, k=10, nprobe=8,
                   train_iters=train_iters).collect()}
        return len(exact & got) / len(exact)

    untrained, trained = recall(0), recall(2)
    # Lloyd refinement must not hurt, and stays deterministic
    assert trained >= untrained - 0.02, (trained, untrained)
    assert trained >= 0.5, trained
    again = {(r.query_id, r.corpus_id)
             for r in similarity.ann_ivf_topk(queries, emb, k=10, nprobe=8,
                                              train_iters=2).collect()}
    got = {(r.query_id, r.corpus_id)
           for r in similarity.ann_ivf_topk(queries, emb, k=10, nprobe=8,
                                            train_iters=2).collect()}
    assert again == got


def test_ivfpq_trained_recall_and_determinism(spark, sf_dir):
    """Trained-path evidence for the NEWEST ANN family (VERDICT r6 ask
    #6): the composite witness runs untrained (bit-exact by
    construction); this pins that Lloyd-refining BOTH quantizers
    (coarse cells AND PQ codebooks) keeps the composite deterministic
    and does not hurt recall — the same evidence the IVF/PQ/LSH
    families carry."""
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {(r.query_id, r.corpus_id)
             for r in similarity.topk_cosine(queries, emb, k=10).collect()}

    def run(train_iters):
        return {(r.query_id, r.corpus_id)
                for r in similarity.ann_ivfpq_topk(
                    queries, emb, k=10, nprobe=8, n_candidates=64,
                    train_iters=train_iters).collect()}

    untrained, trained = run(0), run(2)
    r_untrained = len(exact & untrained) / len(exact)
    r_trained = len(exact & trained) / len(exact)
    # training both quantizers must not hurt, and a recall floor holds
    assert r_trained >= r_untrained - 0.02, (r_trained, r_untrained)
    assert r_trained >= 0.5, r_trained
    assert run(2) == trained  # Lloyd refinement is deterministic


def test_near_dup_exact_plan_has_no_cartesian(spark, sf_dir):
    """VERDICT r1: the registered exact near-dup must not plan a
    cartesian product — block-pair composite-key equi-join instead."""
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = similarity.near_dup_pairs(emb, threshold=0.35)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_near_dup_exact_input_cap_is_loud(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="near_dup_pairs_lsh"):
        similarity.near_dup_pairs(emb, max_rows=1)


def test_real_image_codecs_roundtrip():
    """PPM/BMP encode→decode round-trips pixel-exactly (incl. BMP row
    padding + bottom-up order, the two classic implementation traps)."""
    import numpy as np
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_bmp, _decode_ppm, _encode_bmp, _encode_ppm)
    rng = np.random.default_rng(7)
    for w, h in [(5, 3), (8, 8), (13, 1)]:  # odd widths exercise padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for enc, dec in [(_encode_ppm, _decode_ppm),
                         (_encode_bmp, _decode_bmp)]:
            w2, h2, out = dec(enc(w, h, px))
            assert (w2, h2) == (w, h)
            assert np.array_equal(out, px), (enc.__name__, w, h)


def test_real_image_decode_rejects_garbage():
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_bmp, _decode_ppm)
    with pytest.raises(ValueError, match="P6"):
        _decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="BMP"):
        _decode_bmp(b"\x89PNG....")


def test_real_decode_pipeline_matches_metadata(spark, sf_dir):
    """Header-derived width/height must equal the generator's metadata —
    only true if the byte parse is real."""
    from iceberg_datafusion_arrow_flight_spark.operators import multimodal as M
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    payloads = M.attach_image_payload(docs)
    decoded = M.decode_image_payloads(payloads)
    joined = payloads.join(decoded, "doc_id")
    bad = joined.where("width != meta_width OR height != meta_height")
    assert bad.count() == 0
    assert decoded.count() == 40


def test_real_resize_matches_bruteforce():
    """Nearest-neighbor index sampling equals the per-pixel brute force."""
    import numpy as np
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _encode_ppm, _decode_ppm)
    w, h, ow, oh = 12, 9, 16, 16
    px = np.arange(w * h * 3, dtype=np.int64).reshape(h, w, 3) % 256
    _, _, dec = _decode_ppm(_encode_ppm(w, h, px))
    iy = (np.arange(oh) * h) // oh
    ix = (np.arange(ow) * w) // ow
    fast = dec[np.ix_(iy, ix)]
    brute = np.empty((oh, ow, 3), dtype=np.uint8)
    for y in range(oh):
        for x in range(ow):
            brute[y, x] = dec[(y * h) // oh, (x * w) // ow]
    assert np.array_equal(fast, brute)


def test_decontaminate_flags_copied_doc(spark):
    """A corpus doc that IS a benchmark doc scores contamination 1.0;
    a doc sharing no 3-grams scores nothing (absent from output)."""
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import decontaminate
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),   # exact copy
         (2, "zeta eta theta iota kappa"),        # disjoint
         (3, "x y alpha beta gamma q r")],        # partial overlap
        "doc_id long, text string")
    rows = {r.doc_id: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert rows[1].contamination == 1.0
    assert 2 not in rows
    assert 0 < rows[3].contamination < 1.0


def test_balanced_sample_equal_strata_and_repartition_stable(spark, sf_dir):
    """Every stratum keeps exactly min-stratum-count rows, and the KEPT
    ID SET is identical under a different input partitioning (the
    determinism contract rand()-sampling cannot give)."""
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import balanced_sample
    docs = load_table(spark, sf_dir, "documents")
    kept = balanced_sample(docs, "lang", "doc_id")
    sizes = {r.lang: r.n for r in
             kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert len(set(sizes.values())) == 1  # all strata equal
    ids_a = {r.doc_id for r in kept.select("doc_id").collect()}
    kept_b = balanced_sample(docs.repartition(13, "source"), "lang", "doc_id")
    ids_b = {r.doc_id for r in kept_b.select("doc_id").collect()}
    assert ids_a == ids_b


def test_redact_pii_removes_every_match(spark):
    """After redaction no PII pattern matches; counts see the originals."""
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import (
        PII_PATTERNS, pii_counts, redact_pii)
    df = spark.createDataFrame(
        [("mail a.b@x.org and c@d.io, call 555-1234, host 10.1.2.3 end",)],
        "s string")
    counts = pii_counts(F.col("s"))
    row = df.select(
        counts["email"].alias("e"), counts["phone"].alias("p"),
        counts["ip"].alias("i"), redact_pii(F.col("s")).alias("red")).first()
    assert (row.e, row.p, row.i) == (2, 1, 1)
    import re
    for pat, _tag in PII_PATTERNS.values():
        assert not re.search(pat, row.red), row.red
    assert "<EMAIL>" in row.red and "<PHONE>" in row.red and "<IP>" in row.red


def test_token_ngrams_short_and_exact(spark):
    """Docs shorter than n yield an empty array, not a descending
    sequence artifact; gram content matches a hand computation."""
    from iceberg_datafusion_arrow_flight_spark.operators.text import token_ngrams
    df = spark.createDataFrame([("a b",), ("a b c",), ("",)], "t string")
    got = [r.g for r in df.select(token_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got[0] == []
    assert got[1] == ["a b c"]
    assert got[2] == []


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ ADC + rerank beats the 0.5 recall floor the other ANN tiers
    are held to, and is deterministic run-to-run (literal codebooks,
    tie-broken argmin/rank orders)."""
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.topk_cosine(queries, emb, k=10)
    approx = similarity.ann_pq_topk(queries, emb, k=10)
    e = {(r.query_id, r.corpus_id) for r in exact.collect()}
    a = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"PQ recall too low: {recall:.2f}"
    again = {(r.query_id, r.corpus_id)
             for r in similarity.ann_pq_topk(queries, emb, k=10).collect()}
    assert a == again


def test_pq_codebook_shape_and_determinism(spark, sf_dir):
    """m codebooks x k codes x D/m dims; retraining reproduces the
    exact same centroids (deterministic init + deterministic Lloyd)."""
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings")
    b1 = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, k=8, iters=1)
    b2 = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, k=8, iters=1)
    assert len(b1) == 4 and all(len(bk) == 8 for bk in b1)
    assert all(len(cent) == 16 for bk in b1 for _c, cent in bk)
    assert b1 == b2


def test_connected_components_chain_and_island(spark):
    """A 5-node path needs multiple propagation rounds to converge on
    one label; an isolated pair stays its own component."""
    from iceberg_datafusion_arrow_flight_spark.operators.dedup import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "id_a long, id_b long")
    got = {(r.node, r.label) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10)}


def test_countmin_merge_and_bounds(spark, sf_dir):
    """Cell-wise merge of two shard sketches equals the whole-corpus
    sketch (the property that lets executors sketch independently), and
    estimates never underestimate."""
    from iceberg_datafusion_arrow_flight_spark.operators import countmin as CM
    from iceberg_datafusion_arrow_flight_spark.operators import text as T
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.ws_tokens(F.col("text"))).alias("v"),
                       F.col("doc_id"))
    a = toks.where(F.col("doc_id") % 2 == 0)
    b = toks.where(F.col("doc_id") % 2 == 1)
    whole = {(r.d, r.bucket): r.c
             for r in CM.countmin_sketch(toks, "v").collect()}
    merged = (CM.countmin_sketch(a, "v").unionAll(CM.countmin_sketch(b, "v"))
              .groupBy("d", "bucket").agg(F.sum("c").alias("c")))
    assert {(r.d, r.bucket): r.c for r in merged.collect()} == whole

    sketch = CM.countmin_sketch(toks, "v")
    exact = {r.v: r.n for r in
             toks.groupBy("v").agg(F.count("*").alias("n")).collect()}
    est = {r.v: r.cm_estimate for r in
           CM.countmin_estimate(sketch, toks, "v").collect()}
    n_total = sum(exact.values())
    for v, n in exact.items():
        assert est[v] >= n, f"{v}: underestimate {est[v]} < {n}"
        assert est[v] - n <= n_total / 256 * 8, f"{v}: overcount too big"


def test_substring_overlap_constructed_runs(spark):
    """Hand-built corpus with KNOWN longest shared runs: the operator
    must report exactly run+k-1 tokens and drop sub-threshold pairs."""
    shared = " ".join(f"w{i}" for i in range(12))          # 12-token run
    df = spark.createDataFrame(
        [(1, "a b " + shared + " tail one"),
         (2, "x y z " + shared + " other end"),
         (3, shared.replace("w5", "DIFF")),                # run broken -> max 6
         (4, "tiny doc"),                                  # shorter than k
         ],
        "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.max_run_tokens
           for r in dedup.substring_overlap_pairs(
               df, "doc_id", "text", k=4, min_tokens=10).collect()}
    assert out == {(1, 2): 12}
    # lowering the bar surfaces the broken-run pair at its true length
    out2 = {(r.id_a, r.id_b): r.max_run_tokens
            for r in dedup.substring_overlap_pairs(
                df, "doc_id", "text", k=4, min_tokens=5).collect()}
    assert out2[(1, 3)] == 6 and out2[(2, 3)] == 6 and out2[(1, 2)] == 12


def test_substring_overlap_posting_cap_drops_boilerplate(spark):
    """With a posting-list cap, a gram shared by every doc stops
    generating candidates (skew guard semantics)."""
    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(i, f"u{i} " + boiler + f" v{i}") for i in range(6)],
        "doc_id long, text string")
    capped = dedup.substring_overlap_pairs(df, "doc_id", "text", k=8,
                                           min_tokens=8,
                                           max_gram_postings=3).count()
    uncapped = dedup.substring_overlap_pairs(df, "doc_id", "text", k=8,
                                             min_tokens=8).count()
    assert uncapped == 15 and capped == 0


def test_semantic_dedup_drops_exact_duplicate_keeps_lower_id(spark):
    """A vector duplicated under a higher id must be pruned; the lower
    id survives.  Trained (Lloyd) variant must also be deterministic."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, list(rows[5][1])))          # exact dup of id 5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = similarity.semantic_dedup(df, n_clusters=4, threshold=0.999)
    ids = {r.vec_id for r in kept.collect()}
    assert 5 in ids and 99 not in ids
    trained_a = similarity.semantic_dedup(df, n_clusters=4, threshold=0.999,
                                          train_iters=2).collect()
    trained_b = similarity.semantic_dedup(df, n_clusters=4, threshold=0.999,
                                          train_iters=2).collect()
    assert sorted(map(tuple, trained_a)) == sorted(map(tuple, trained_b))
    assert {r.vec_id for r in trained_a} <= set(range(40)) | {99}


def test_hdr_sketch_merge_equals_whole(spark, sf_dir):
    """Mergeability: sketch(A) ⊕ sketch(B) == sketch(A ∪ B) exactly, and
    quantiles answered from the merged sketch match the whole-data
    sketch value-for-value."""
    from iceberg_datafusion_arrow_flight_spark.operators.percentile import (
        hdr_merge, hdr_quantiles, hdr_sketch)
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where("l_orderkey % 2 = 0")
    b = li.where("l_orderkey % 2 = 1")
    merged = hdr_merge(hdr_sketch(a, "l_extendedprice", ["l_returnflag"]),
                       hdr_sketch(b, "l_extendedprice", ["l_returnflag"]))
    whole = hdr_sketch(li, "l_extendedprice", ["l_returnflag"])
    key = lambda r: (r.l_returnflag, r.n_digits, r.mantissa, r.bin_count)
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, whole.collect()))
    qm = hdr_quantiles(merged, ["l_returnflag"]).collect()
    qw = hdr_quantiles(whole, ["l_returnflag"]).collect()
    assert sorted(map(tuple, qm)) == sorted(map(tuple, qw))


def test_hdr_quantile_error_bound(spark, sf_dir):
    """Reconstructed p50/p90 within the 2-significant-digit bound (5%
    relative) of the exact percentile."""
    from iceberg_datafusion_arrow_flight_spark.operators.percentile import (
        hdr_quantiles, hdr_sketch)
    li = load_table(spark, sf_dir, "lineitem")
    got = {r.l_returnflag: r for r in hdr_quantiles(
        hdr_sketch(li, "l_extendedprice", ["l_returnflag"]),
        ["l_returnflag"], quantiles=(0.5, 0.9)).collect()}
    exact = {r.l_returnflag: r for r in li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90")).collect()}
    for flag, row in got.items():
        assert abs(row.q5 - exact[flag].p50) / exact[flag].p50 < 0.05
        assert abs(row.q9 - exact[flag].p90) / exact[flag].p90 < 0.05


def test_hdr_sketch_negative_and_zero_domain(spark):
    """Sign-aware binning: negatives and zero are first-class (a signed
    stringify would NULL the mantissa and poison every quantile).  The
    median of a symmetric distribution lands in the exact zero bin; tail
    quantiles respect the 5%-of-|v| bound; no NULL bins exist."""
    from iceberg_datafusion_arrow_flight_spark.operators.percentile import (
        hdr_quantiles, hdr_sketch)
    df = (spark.range(2001)
          .select(((F.col("id") - 1000) * 1.0).alias("v"),
                  F.lit("g").alias("g")))
    sk = hdr_sketch(df, "v", ["g"])
    assert sk.where("sign IS NULL OR n_digits IS NULL OR mantissa IS NULL") \
             .count() == 0
    assert {r.sign for r in sk.select("sign").distinct().collect()} == {-1, 0, 1}
    q = hdr_quantiles(sk, ["g"], quantiles=(0.05, 0.5, 0.95)).collect()[0]
    assert q.n_values == 2001
    assert q.q5 == 0.0                      # exact zero bin
    assert abs(q.q05 - (-900.0)) <= 0.05 * 900.0
    assert abs(q.q95 - 900.0) <= 0.05 * 900.0


def test_bloom_no_false_negatives_and_merge(spark, sf_dir):
    """Every inserted key probes maybe_present; merge(A,B) answers
    exactly like build(A∪B); FPR on disjoint probes stays near the
    analytic rate."""
    from iceberg_datafusion_arrow_flight_spark.operators.countmin import (
        bloom_build, bloom_merge, bloom_probe)
    ords = load_table(spark, sf_dir, "orders")
    members = ords.select("o_custkey").distinct().where("o_custkey % 2 = 0")
    half_a = members.where("o_custkey % 4 = 0")
    half_b = members.where("o_custkey % 4 != 0")
    merged = bloom_merge(bloom_build(half_a, "o_custkey"),
                         bloom_build(half_b, "o_custkey"))
    whole = bloom_build(members, "o_custkey")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))
    present = bloom_probe(whole, members, "o_custkey")
    assert present.where("NOT maybe_present").count() == 0  # no false negs
    absent = ords.select("o_custkey").distinct().where("o_custkey % 2 = 1")
    fpr = (bloom_probe(whole, absent, "o_custkey")
           .where("maybe_present").count() / max(absent.count(), 1))
    import math
    n = members.count()
    expected = (1 - math.exp(-4 * n / 4096)) ** 4
    assert fpr <= max(3 * expected, 0.05)


def test_wav_roundtrip_and_rejects_garbage():
    """WAV encode/parse round-trips sample-exact; non-RIFF and truncated
    payloads fail loudly."""
    import numpy as np
    import pytest as _pytest
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_wav, _encode_wav)
    s = ((np.arange(1000) * 7 + 31) % 4096 - 2048).astype(np.int16)
    rate, back = _decode_wav(_encode_wav(s, 8000))
    assert rate == 8000 and np.array_equal(back, s)
    with _pytest.raises(ValueError):
        _decode_wav(b"not audio at all")
    with _pytest.raises(ValueError):
        _decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks


def test_avro_lite_roundtrip_nulls_and_corruption():
    """Pure-Python Avro OCF: null-union round-trip is value-exact;
    corrupt magic and sync-marker damage fail loudly."""
    import os
    import tempfile
    import pytest as _pytest
    from iceberg_datafusion_arrow_flight_spark.sources import avro_lite
    fields = [("k", "long"), ("x", "double"), ("s", "string")]
    rows = [(1, 1.5, "a"), (None, None, None), (-(2**40), -0.25, "naïve ✓")]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        avro_lite.write_avro(p, fields, rows)
        got_fields, got_rows = avro_lite.read_avro(p)
        assert got_fields == fields and got_rows == rows
        buf = bytearray(open(p, "rb").read())
        bad = os.path.join(d, "bad.avro")
        open(bad, "wb").write(b"XXXX" + bytes(buf[4:]))
        with _pytest.raises(ValueError):
            avro_lite.read_avro(bad)
        buf[-1] ^= 0xFF  # damage the trailing sync marker
        open(bad, "wb").write(bytes(buf))
        with _pytest.raises(ValueError):
            avro_lite.read_avro(bad)


def test_gopher_rules_flags(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import (
        gopher_rules)
    base = "the a " + " ".join(["word"] * 28)        # 30 words, has stops
    short = "the a tiny doc"                          # fails word count
    nostop = " ".join(["word"] * 30)                  # fails stop rule
    df = spark.createDataFrame(
        [(1, base), (2, short), (3, nostop)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            gopher_rules(df, min_mwl=1.0, max_mwl=10.0).collect()}
    assert rows[1]["kept"] and rows[1]["ok_words"] and rows[1]["ok_stop"]
    assert not rows[2]["ok_words"] and not rows[2]["kept"]
    assert rows[3]["ok_words"] and not rows[3]["ok_stop"]
    assert rows[1]["n_words"] == 30
    assert abs(rows[3]["mean_word_len"] - 4.0) < 1e-12


def test_boilerplate_spans_scores(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import (
        boilerplate_spans)
    shared = " ".join(f"w{i}" for i in range(8))      # one shared 8-gram
    uniq = " ".join(f"u{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, shared), (2, shared), (3, uniq), (4, "too short")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            boilerplate_spans(df, n=8, min_freq=2).collect()}
    assert 4 not in rows                              # < n tokens: no spans
    assert rows[1]["boiler_frac"] == 1.0 and rows[2]["boiler_frac"] == 1.0
    assert rows[3]["boiler_frac"] == 0.0
    assert rows[1]["n_grams"] == 1 and rows[1]["n_boiler"] == 1


def test_pixel_signature_matches_across_encodings(spark):
    """The same picture in PPM and BMP (different bytes: headers, BGR,
    bottom-up rows, padding) must produce the SAME pixel signature and
    DIFFERENT payload checksums — content dedup, not byte dedup."""
    from iceberg_datafusion_arrow_flight_spark.operators import multimodal as M
    ids = spark.createDataFrame([(5,), (5 + 1280,)], "doc_id long")
    imgs = M.attach_image_payload(ids, fmt_period=1280)
    rows = {r["doc_id"]: r for r in M.pixel_signatures(imgs).collect()}
    assert rows[5]["fmt"] != rows[5 + 1280]["fmt"]
    assert rows[5]["pix_sig"] == rows[5 + 1280]["pix_sig"]
    byte_sums = {r["doc_id"]: r["checksum"] for r in
                 M.decode_image_payloads(imgs).collect()}
    assert byte_sums[5] != byte_sums[5 + 1280]


def test_incremental_rollup_refresh_noop_and_checkpoint(spark, sf_dir):
    """Empty delta: no merge commit, but the returned checkpoint still
    advances to the current events snapshot."""
    import os
    import tempfile
    from iceberg_datafusion_arrow_flight_spark.operators.rollup_ts import (
        bucket_aggregate, refresh_rollup_incremental)
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog)
    from iceberg_datafusion_arrow_flight_spark.sources.registry import (
        load_table)
    root = tempfile.mkdtemp(prefix="car_noop_")
    cat = SqliteCatalog(os.path.join(root, "cat.db"),
                        warehouse=os.path.join(root, "wh"))
    events = load_table(spark, sf_dir, "events").limit(200)
    ev = cat.create_table("s", "e", events)
    ckpt = ev.append(events)
    init = bucket_aggregate(events, "ts", "1 hour", ["event_type"])
    agg = cat.create_table("a", "h", init)
    agg.append(init)
    pre = agg.current_snapshot_id()
    out = refresh_rollup_incremental(spark, ev, agg, since_snapshot=ckpt,
                                     keys=["event_type"])
    assert out["refreshed"] is False
    assert out["events_snapshot"] == ev.current_snapshot_id()
    assert agg.current_snapshot_id() == pre       # rollup untouched


def test_pagerank_star_graph_semantics(spark):
    """PageRank sanity on a hand-checkable symmetrized star (hub 0,
    leaves 1..4): probability is conserved every round (symmetric
    graph has no dangling mass), the hub strictly dominates every
    leaf, leaves are symmetric, and a re-run is bit-identical (the
    per-round rounding contract makes the result deterministic)."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.graph import pagerank
    leaves = list(range(1, 5))
    edges = ([(0, v) for v in leaves] + [(v, 0) for v in leaves])
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iterations=5).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert abs(sum(got.values()) - 1.0) < 1e-6          # conservation
    assert all(got[0] > got[v] for v in leaves)         # hub dominates
    assert len({got[v] for v in leaves}) == 1           # leaf symmetry
    # a bipartite star OSCILLATES under power iteration (period-2,
    # contraction 0.85² per double-step), so 5 rounds is deliberately
    # NOT asserted against the fixpoint — the invariants above hold at
    # every round; exact per-round values are pinned by the DuckDB
    # oracle of graph_pagerank_supply_chain
    again = {r["node"]: r["rank"]
             for r in pagerank(e, iterations=5).collect()}
    assert again == got                                  # deterministic


def test_personalized_pagerank_matches_exact_simulation(spark):
    """Personalized PageRank on a symmetric path 0-1-2-3 with seed {0}
    equals a plain-Python simulation of the identical recurrence
    BIT-FOR-BIT (4 nodes, power-of-two degrees: every quotient and
    2-term sum is exact in IEEE doubles, so the per-round rounding
    contract collapses to equality), and mass is conserved.  Note rank
    is NOT monotone with seed distance here — node 0 pushes ALL its
    mass to node 1, so the degree asymmetry lifts node 1 above the
    seed; asserting monotonicity would be wrong math."""
    from iceberg_datafusion_arrow_flight_spark.operators.graph import pagerank
    edges = [(i, i + 1) for i in range(3)] + [(i + 1, i) for i in range(3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iterations=8, reset=seeds).collect()}
    from decimal import ROUND_HALF_UP, Decimal

    def r10(x):   # Spark's ROUND is HALF_UP on the decimal value;
        return float(Decimal(x).quantize(Decimal("1e-10"),
                                         rounding=ROUND_HALF_UP))

    base, damp = 1.0 - 0.85, 0.85   # the operator's exact literals
    deg = {0: 1, 1: 2, 2: 2, 3: 1}
    nbrs = {0: [1], 1: [0, 2], 2: [1, 3], 3: [2]}
    reset = {0: 1.0, 1: 0.0, 2: 0.0, 3: 0.0}
    rank = dict(reset)
    for _ in range(8):
        rank = {v: r10(base * reset[v]
                       + damp * sum(rank[u] / deg[u] for u in nbrs[v]))
                for v in deg}
    assert got == rank
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_personalized_pagerank_seed_edge_cases(spark):
    """Seeds not present in the graph are excluded BEFORE normalizing
    (teleport mass stays 1, never silently vanishing); an entirely
    absent seed set fails loudly instead of producing NaN ranks."""
    from iceberg_datafusion_arrow_flight_spark.operators.graph import pagerank
    edges = [(0, 1), (1, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(
        e, iterations=4,
        reset=spark.createDataFrame([(0,), (99,)], "node long")).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6   # 99 didn't eat mass
    with pytest.raises(ValueError, match="no seed"):
        pagerank(e, iterations=2,
                 reset=spark.createDataFrame([(99,)], "node long"))


def test_pagerank_sink_nodes_get_ranks_and_mass_conserves(spark):
    """Directed chain 0→1→2 (node 2 is a SINK, appearing only as a
    destination): the sink is in the output with a rank, and its
    dangling mass is redistributed through the teleport vector every
    round so total probability stays 1 (ADVICE r3 — previously sinks
    were silently absent and their mass vanished).  Values match a
    plain-Python simulation of the identical recurrence bit-for-bit."""
    from iceberg_datafusion_arrow_flight_spark.operators.graph import pagerank
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, iterations=6).collect()}
    assert set(got) == {0, 1, 2}                        # sink present
    assert abs(sum(got.values()) - 1.0) < 1e-6          # conservation
    from decimal import ROUND_HALF_UP, Decimal

    def r10(x):
        return float(Decimal(x).quantize(Decimal("1e-10"),
                                         rounding=ROUND_HALF_UP))

    base, damp = 1.0 - 0.85, 0.85
    reset = {v: r10(1.0 / 3.0) for v in (0, 1, 2)}
    deg, nbrs = {0: 1, 1: 1}, {0: [], 1: [0], 2: [1]}
    rank = dict(reset)
    for _ in range(6):
        dm = rank[2]                                     # dangling mass
        rank = {v: r10(base * reset[v]
                       + damp * (sum(rank[u] / deg[u] for u in nbrs[v])
                                 + dm * reset[v]))
                for v in (0, 1, 2)}
    assert got == rank


def test_lsh_tuning_scurve_properties():
    """The banding auto-tuner: midpoints track the target threshold
    directionally; the S-curve is monotone in similarity and steeper
    (more selective) with more rows per band; the module's hand-tuned
    16×4-for-J≥0.9 geometry is reproduced from its parameters."""
    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        lsh_candidate_probability, lsh_tuning)
    b_lo, r_lo = lsh_tuning(64, 0.3)
    b_hi, r_hi = lsh_tuning(64, 0.9)
    assert b_lo * r_lo == 64 and b_hi * r_hi == 64
    assert r_lo < r_hi                   # low threshold → shallow bands
    assert lsh_tuning(64, 0.9) == (16, 4)   # reproduces the module's
    # geometry: sharpest curve still meeting the 1-1e-6 recall floor
    probs = [lsh_candidate_probability(16, 4, s / 10) for s in range(11)]
    assert probs == sorted(probs)        # monotone
    assert lsh_candidate_probability(16, 4, 0.9) > 0.95
    assert lsh_candidate_probability(16, 4, 0.3) < 0.15
    import pytest as _pt
    with _pt.raises(ValueError):
        lsh_tuning(64, 1.5)


def test_mode_deterministic_tie_break_is_smallest(spark):
    """Pins the tie rule the agg_mode_deterministic oracle assumes:
    Spark's mode(col, deterministic=true) returns the SMALLEST value
    among equally-frequent candidates (the fixture may contain no real
    tie, so the gate alone can't prove this)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c")],
        "k string, v string")
    assert df.groupBy("k").agg(
        F.mode("v", True).alias("m")).head()["m"] == "a"


def test_edit_distance_pairs_boundary_cases(spark):
    """PassJoin candidate generation is lossless at the boundary: a pair
    at distance exactly k is found, one at k+1 is not, and strings
    shorter than k+1 chars are excluded by contract.  Distances mix
    substitutions, insertions, and deletions so the displaced-window
    probe (not just aligned segments) is what finds them."""
    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        edit_distance_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        # 3 substitutions scattered across segments
        (2, base.replace("quick", "quack").replace("lazy", "hazy")
             .replace("dog", "dot")),
        # insertion near the front displaces every later segment
        (3, "x" + base),
        # far string: different text entirely
        (4, "completely unrelated content with nothing shared at all ok"),
        # short-string contract (len < k+1 = 4): excluded outright
        (5, "abc"),
        (6, "abc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.edit_distance
           for r in edit_distance_pairs(df, k=3).collect()}
    assert got[(1, 2)] == 3          # exactly k: kept
    assert got[(1, 3)] == 1          # insertion found via displaced window
    assert got[(2, 3)] == 4 if (2, 3) in got else True
    assert all(4 not in p for p in got)   # k+1-or-worse: absent
    assert all(5 not in p and 6 not in p for p in got)  # short: excluded


def test_edit_distance_pairs_matches_exhaustive_random(spark):
    """PassJoin == the exhaustive O(n²) join on a seeded random corpus
    whose pairs span every length relation (|a|<|b|, =, >) — the
    direction the length-ordered probe sweep (lmax = L) must cover from
    the longer end, plus equal-length pairs that both ends generate."""
    import random

    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rng = random.Random(20260815)
    alpha = "abcd "
    k = 4
    docs = []
    base_pool = ["".join(rng.choice(alpha) for _ in range(rng.randint(6, 28)))
                 for _ in range(12)]
    doc_id = 0
    for b in base_pool:
        docs.append((doc_id, b)); doc_id += 1
        # mutated siblings: substitutions, insertions, deletions in
        # varying counts so true distances straddle k in both length
        # directions
        for _ in range(3):
            s = list(b)
            for _ in range(rng.randint(1, k + 2)):
                op = rng.choice("sid")
                if op == "s" and s:
                    s[rng.randrange(len(s))] = rng.choice(alpha)
                elif op == "i":
                    s.insert(rng.randrange(len(s) + 1), rng.choice(alpha))
                elif s:
                    del s[rng.randrange(len(s))]
            docs.append((doc_id, "".join(s))); doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r.id_a, r.id_b): r.edit_distance
           for r in edit_distance_pairs(df, k=k).collect()}

    lowered = [(i, t.lower()) for i, t in docs if len(t) >= k + 1]
    a = spark.createDataFrame(lowered, "id_a long, sa string")
    b = spark.createDataFrame(lowered, "id_b long, sb string")
    exhaustive = {(r.id_a, r.id_b): r.d
                  for r in a.crossJoin(b)
                  .where(F.col("id_a") < F.col("id_b"))
                  .withColumn("d", F.levenshtein("sa", "sb").cast("int"))
                  .where(F.col("d") <= k)
                  .select("id_a", "id_b", "d").collect()}
    assert got == exhaustive


def test_ngram_jaccard_pairs_matches_exhaustive_random(spark):
    """The PPJoin prefix filter + size filter + checkpointed shingle
    table are lossless: ngram_jaccard_pairs == the exhaustive cross-join
    Jaccard on a seeded random corpus, at both n=1 (token sets) and n=3
    (shingle sets) and two thresholds."""
    import random

    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators import dedup

    rng = random.Random(4407)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    doc_id = 0
    for _ in range(10):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 20))]
        docs.append((doc_id, " ".join(base))); doc_id += 1
        # near-duplicate siblings: light token edits so true Jaccard
        # straddles the thresholds
        for _ in range(2):
            s = list(base)
            for _ in range(rng.randint(0, 4)):
                op = rng.choice("sid")
                if op == "s":
                    s[rng.randrange(len(s))] = rng.choice(vocab)
                elif op == "i":
                    s.insert(rng.randrange(len(s) + 1), rng.choice(vocab))
                elif len(s) > 5:
                    del s[rng.randrange(len(s))]
            docs.append((doc_id, " ".join(s))); doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for n, tn, td in ((1, 8, 10), (3, 7, 10)):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in dedup.ngram_jaccard_pairs(
                   df, "doc_id", "text", n=n,
                   threshold_num=tn, threshold_den=td).collect()}

        # exhaustive twin: the SAME shingle spelling, no prefix filter
        toks = F.split(F.col("text"), r"\s+")
        if n == 1:
            sh = F.array_distinct(toks)
        else:
            idx = F.sequence(F.lit(0), F.size(toks) - n)
            sh = F.array_distinct(F.transform(
                idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")))
        sh = F.array_sort(F.transform(sh, lambda t: F.xxhash64(t)))
        s = df.select("doc_id", sh.alias("sh"))
        a = s.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = s.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        exp = {(r.id_a, r.id_b): r.j
               for r in a.crossJoin(b)
               .where(F.col("id_a") < F.col("id_b"))
               .where(td * inter >= tn * union)
               .select("id_a", "id_b",
                       F.round(inter.cast("double") / union, 6).alias("j"))
               .collect()}
        assert got == exp, f"n={n} t={tn}/{td}"


def test_containment_pairs_matches_exhaustive_random(spark):
    """The containment prefix filter (probe prefix vs full index) and
    size filter are lossless: containment_pairs == the exhaustive
    directed cross-join on a seeded random corpus with planted
    excerpts (short docs cut out of long ones — the case symmetric
    Jaccard misses and containment must catch)."""
    import random

    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators import dedup

    rng = random.Random(7907)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    doc_id = 0
    for _ in range(8):
        base = [rng.choice(vocab) for _ in range(rng.randint(15, 30))]
        docs.append((doc_id, " ".join(base))); doc_id += 1
        # planted excerpt: a contiguous cut of the base doc
        lo = rng.randrange(0, len(base) - 6)
        cut = base[lo:lo + rng.randint(5, len(base) - lo)]
        docs.append((doc_id, " ".join(cut))); doc_id += 1
        # perturbed excerpt: may straddle the threshold
        s = list(cut)
        for _ in range(rng.randint(0, 3)):
            s[rng.randrange(len(s))] = rng.choice(vocab)
        docs.append((doc_id, " ".join(s))); doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r.contained_id, r.container_id): r.containment
           for r in dedup.containment_pairs(
               df, "doc_id", "text", n=2,
               threshold_num=8, threshold_den=10).collect()}

    # exhaustive twin: same shingle spelling, full directed cross join
    toks = F.split(F.col("text"), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    grams = F.when(
        F.size(toks) >= 2,
        F.array_distinct(F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, 2), " ")))
    ).otherwise(F.array().cast("array<string>"))
    sh = F.array_sort(F.transform(grams, lambda t: F.xxhash64(t)))
    s = df.select("doc_id", sh.alias("sh")).where(F.size("sh") > 0)
    a = s.select(F.col("doc_id").alias("contained_id"),
                 F.col("sh").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("container_id"),
                 F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exhaustive = {(r.contained_id, r.container_id): r.c
                  for r in a.crossJoin(b)
                  .where(F.col("contained_id") != F.col("container_id"))
                  .where(10 * inter >= 8 * F.size("sh_a"))
                  .select("contained_id", "container_id",
                          F.round(inter.cast("double")
                                  / F.size("sh_a"), 6).alias("c"))
                  .collect()}
    assert got == exhaustive
    assert got  # the planted excerpts must actually surface


def test_mmr_and_kcenter_are_deterministic_and_sane(spark, sf_dir):
    """Selection ledgers re-run identically; MMR's first pick is the
    relevance argmax; k-center coverage radius is non-increasing
    (greedy max-min can only shrink the farthest distance)."""
    from iceberg_datafusion_arrow_flight_spark.operators import similarity
    from iceberg_datafusion_arrow_flight_spark.sources.registry import (
        load_table)

    emb = load_table(spark, sf_dir, "embeddings")
    m1 = similarity.mmr_diverse_topk(emb, k=5).collect()
    m2 = similarity.mmr_diverse_topk(emb, k=5).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    assert len(m1) == 5 and len({r.vec_id for r in m1}) == 5
    # round 1 has no diversity penalty: max relevance, zero max_sim
    assert m1[0].max_sim_selected == 0.0
    assert m1[0].relevance == max(r.relevance for r in m1)

    k1 = similarity.kcenter_coreset(emb, k=5).collect()
    k2 = similarity.kcenter_coreset(emb, k=5).collect()
    assert [tuple(r) for r in k1] == [tuple(r) for r in k2]
    radii = [r.coverage_radius for r in k1][1:]  # round 1 is the seed
    assert all(radii[i] >= radii[i + 1] for i in range(len(radii) - 1))


def test_ahash_flags_near_identical_images():
    """A one-pixel perturbation keeps the aHash within a few bits;
    structurally different images differ in many bits — the property
    banded near-dup search relies on."""
    import numpy as np

    from iceberg_datafusion_arrow_flight_spark.operators import multimodal

    w, h = 16, 16
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    near = px.copy()
    near[3, 3] = (int(px[3, 3][0]) + 40) % 256  # one pixel nudged
    other = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)

    def ahash_bits(arr):
        gray = arr.reshape(-1, 3).astype(np.int64).sum(axis=1) // 3
        k = np.arange(w * h)
        b = ((k // w) * 8 // h) * 8 + ((k % w) * 8 // w)
        bs = np.zeros(64, dtype=np.int64)
        np.add.at(bs, b, gray)
        cnt = np.bincount(b, minlength=64).astype(np.int64)
        return bs * (w * h) > int(gray.sum()) * cnt

    base, nearb, otherb = ahash_bits(px), ahash_bits(near), ahash_bits(other)
    assert int(np.sum(base != nearb)) <= 2
    assert int(np.sum(base != otherb)) >= 10


def test_kmv_sketch_merges_and_bounds_error(spark, sf_dir):
    """KMV mergeability: the k smallest hashes of a UNION equal the k
    smallest of the union of each shard's k smallest — so per-shard
    sketches fold without rescanning.  And with k=64 the estimate
    lands within 30% of exact on the fixture (KMV's ~1/sqrt(k)
    relative error)."""
    from pyspark.sql.window import Window

    from iceberg_datafusion_arrow_flight_spark.operators.countmin import (
        kmv_distinct, kmv_hash)

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    k = 64
    # shard by parity, sketch each, merge, compare to whole-input sketch
    shards = [e.where(F.col("user_id") % 2 == i) for i in (0, 1)]
    per_shard_topk = []
    for s in shards:
        h = (s.select("event_type",
                      kmv_hash(F.col("user_id")).alias("h")).distinct())
        w = Window.partitionBy("event_type").orderBy("h")
        per_shard_topk.append(
            h.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= k).select("event_type", "h"))
    merged = per_shard_topk[0].unionByName(per_shard_topk[1]).distinct()
    wm = Window.partitionBy("event_type").orderBy("h")
    merged_topk = {(r.event_type, r.h)
                   for r in merged.withColumn("rn", F.row_number().over(wm))
                   .where(F.col("rn") <= k).select("event_type", "h")
                   .collect()}
    whole = (e.select("event_type",
                      kmv_hash(F.col("user_id")).alias("h")).distinct())
    whole_topk = {(r.event_type, r.h)
                  for r in whole.withColumn("rn", F.row_number().over(wm))
                  .where(F.col("rn") <= k).select("event_type", "h")
                  .collect()}
    assert merged_topk == whole_topk

    est = {r.event_type: r.kmv_estimate
           for r in kmv_distinct(e, "user_id", ["event_type"], k=k)
           .collect()}
    exact = {r.event_type: r.n for r in
             e.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, n in exact.items():
        assert abs(est[t] - n) / n <= 0.30, (t, est[t], n)


def test_kmv_intersection_exact_regime_and_error(spark, sf_dir):
    """Theta-style KMV intersection: when BOTH sides hold fewer than k
    distinct hashes the sketches are complete sets and the estimate
    must equal the exact intersection (theta = 2^60 degenerates the
    formula to the plain common count).  In the estimation regime
    (k below the set sizes) the estimate stays within 50% of exact —
    intersection error compounds two sketches' noise, so the band is
    looser than the single-set 30%."""
    from iceberg_datafusion_arrow_flight_spark.operators.countmin import (
        kmv_intersect_pairs)

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    pairs = [("click", "purchase"), ("view", "signup")]
    exact = {}
    for a, b in pairs:
        ua = {r.user_id for r in
              e.where(F.col("event_type") == a).distinct().collect()}
        ub = {r.user_id for r in
              e.where(F.col("event_type") == b).distinct().collect()}
        exact[(a, b)] = len(ua & ub)

    # exact regime: k far above every per-type distinct count
    big = {(r.type_a, r.type_b): r.kmv_inter_estimate
           for r in kmv_intersect_pairs(e, "user_id", "event_type",
                                        pairs, k=100000).collect()}
    for p, n in exact.items():
        assert big[p] == n, (p, big[p], n)

    # estimation regime: k=32 under the ~150 distinct users per type
    est = {(r.type_a, r.type_b): r.kmv_inter_estimate
           for r in kmv_intersect_pairs(e, "user_id", "event_type",
                                        pairs, k=32).collect()}
    for p, n in exact.items():
        assert abs(est[p] - n) / max(n, 1) <= 0.50, (p, est[p], n)


def test_bfs_layers_path_graph(spark):
    """Hand-checkable BFS invariants on the path 1-2-3-4-5 with seed
    {1}: layer d holds exactly node d+1 for d in 0..3, node 5 is
    unreached at the depth-3 cap, and every depth row is emitted even
    for this minimal graph."""
    from iceberg_datafusion_arrow_flight_spark.operators.graph import (
        bfs_layers)

    und = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u bigint, v bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r.depth: r.n_nodes
           for r in bfs_layers(und, seeds, max_depth=3).collect()}
    assert got == {-1: 1, 0: 1, 1: 1, 2: 1, 3: 1}

    # seed in the middle: both directions expand (undirected edges)
    seeds_mid = spark.createDataFrame([(3,)], "node bigint")
    got_mid = {r.depth: r.n_nodes
               for r in bfs_layers(und, seeds_mid, max_depth=3).collect()}
    assert got_mid == {-1: 0, 0: 1, 1: 2, 2: 2, 3: 0}


def test_kcore_peel_cycle_plus_tail(spark):
    """k=2 on a triangle with a pendant path: the tail peels in
    cascade order (one layer per round — removing the outer node drops
    the next one's degree below 2), the triangle survives as the
    2-core, and rounds after the fixpoint are identical pad rows."""
    from iceberg_datafusion_arrow_flight_spark.operators.graph import (
        kcore_peel)

    # triangle 1-2-3 plus path 3-4-5
    und = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u bigint, v bigint")
    got = [(r.round, r.n_removed, r.n_remaining)
           for r in kcore_peel(und, k=2, rounds=4).collect()]
    got.sort()
    assert got == [(0, 0, 5), (1, 1, 4), (2, 1, 3), (3, 0, 3), (4, 0, 3)]


def test_intensity_histogram_matches_generator_formula(spark):
    """Per-image histogram counts recomputed in plain Python from the
    pixel generator formula (value = (7*id + k) % 256): bins must agree
    exactly and per-doc counts must sum to 3*w*h."""
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        attach_image_payload, intensity_histogram)

    ids = [0, 3, 7, 12]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {}
    for r in intensity_histogram(attach_image_payload(docs)).collect():
        got[(r.doc_id, r.bin)] = r.n_pixels
    for did in ids:
        w, h = 8 + (did % 8) * 4, 8 + (did % 5) * 4
        expect = [0] * 8
        for k in range(3 * w * h):
            expect[((7 * did + k) % 256) // 32] += 1
        for b in range(8):
            assert got.get((did, b), 0) == expect[b], (did, b)
        assert sum(expect) == 3 * w * h


def test_ewma_daily_matches_python_fold(spark, sf_dir):
    """The EWMA series entry's folds re-run as a plain Python loop over
    the same ordered daily counts — every smoothed value must be
    bit-identical (same left fold, same IEEE doubles)."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY

    rows = REGISTRY["events_ewma_daily"].build(spark, sf_dir).collect()
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r)
    for typ, rs in series.items():
        s = 0.0
        for r in rs:
            s = s * 0.7 + float(r.n_events) * 0.3
            assert r.ewma == s, (typ, r.day, r.ewma, s)


def test_welch_ttest_matches_python(spark, sf_dir):
    """The Welch entry's t statistic and df recomputed in plain Python
    from the collected per-user integer metric — identical expression
    tree on identical integers means bit-identical doubles."""
    import math

    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    from iceberg_datafusion_arrow_flight_spark.plans.events import (
        events_welch)

    row = events_welch(spark, sf_dir).collect()[0]
    # recompute the per-user integer metric + arms independently
    import hashlib
    e = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "value").collect()
    per_user: dict[int, int] = {}
    for r in e:
        x = (math.floor(r.value * 100 + 0.5)
             if r.event_type == "purchase" else 0)
        per_user[r.user_id] = per_user.get(r.user_id, 0) + x
    arms: dict[str, list[int]] = {"A": [], "B": []}
    for uid, x in per_user.items():
        h = int(hashlib.md5(f"ab|{uid}".encode()).hexdigest()[:15], 16)
        arms["A" if h % 2 == 0 else "B"].append(x)
    n_a, n_b = len(arms["A"]), len(arms["B"])
    s1a, s1b = sum(arms["A"]), sum(arms["B"])
    s2a = sum(float(x) * float(x) for x in arms["A"])
    s2b = sum(float(x) * float(x) for x in arms["B"])
    ma, mb = s1a / (n_a * 1.0), s1b / (n_b * 1.0)
    va = (s2a - ma * s1a) / ((n_a - 1) * 1.0)
    vb = (s2b - mb * s1b) / ((n_b - 1) * 1.0)
    se2 = va / n_a + vb / n_b
    t = (ma - mb) / math.sqrt(se2)
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.mean_a_centi == ma and row.mean_b_centi == mb
    assert abs(row.t_stat - t) < 1e-12, (row.t_stat, t)


def test_welch_s2_exactness_margin(sf_dir):
    """The Welch entry's bit-exactness argument rests on the QUADRATIC
    accumulator s2 = SUM(x²), not the linear s1 (r7 advice): each
    addend x² and every running partial sum must stay below 2^53 for
    the DOUBLE summation to be exact and hence order-independent
    across engines.  Re-measure both in exact HUGEINT arithmetic and
    fail with 8x of margin to spare, so data-scale growth trips this
    test long before the oracle hash turns flaky."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    s2_total, x_max = con.execute("""
        WITH per_user AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS x
          FROM events GROUP BY user_id)
        SELECT SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)), MAX(x)
        FROM per_user""").fetchone()
    margin = 2.0 ** 53 / 8.0
    assert float(s2_total) < margin, (
        f"s2 total {float(s2_total):.3e} within 8x of 2^53 — shrink the "
        f"centi-unit in events_ab_test_welch before exactness breaks")
    assert float(x_max) ** 2 < margin, (
        f"largest per-user x² {float(x_max)**2:.3e} within 8x of 2^53")


def test_image_phash_matches_python_reference(spark, sf_dir):
    """The fixed-point DCT pHash recomputed with PLAIN Python loops (no
    numpy) from the pixel generator formula — every 63-bit hash must be
    identical: same grid sampling, same integer basis, same lower
    median, same bit order."""
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        attach_image_payload, image_phash, phash_basis)

    ids = [0, 5, 15, 40, 1280, 2555]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.phash
           for r in image_phash(attach_image_payload(docs)).collect()}
    basis = phash_basis()

    def cu(u, i):
        return basis[u * 32 + i]

    for did in ids:
        w, h = 8 + (did % 8) * 4, 8 + (did % 5) * 4
        gray = [[sum((7 * did + 3 * (((j * h) // 32) * w + (i * w) // 32)
                      + c) % 256 for c in range(3))
                 for i in range(32)] for j in range(32)]
        coef = [[sum(gray[j][i] * cu(u, i) * cu(v, j)
                     for i in range(32) for j in range(32))
                 for v in range(8)] for u in range(8)]
        ac = [coef[u][v] for u in range(8) for v in range(8)
              if not (u == 0 and v == 0)]
        med = sorted(ac)[31]
        want = sum(1 << k for k, c in enumerate(ac) if c > med)
        assert got[did] == want, did


def test_duckdb_struct_fold_hazard():
    """Pins the DuckDB 1.0.0 footgun events_holt_linear's oracle works
    around: list_reduce with a STRUCT accumulator evaluates the result
    struct field-by-field IN PLACE, so a later field's acc.<f> sees the
    value just computed for <f> this step — while a LIST accumulator
    folds honestly.  If a DuckDB upgrade fixes struct folds, this test
    fails and the oracle can be simplified back to structs."""
    import duckdb

    struct_r = duckdb.sql("""
        SELECT list_reduce(
          [{'l': CAST(1.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
           {'l': CAST(2.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
           {'l': CAST(3.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)}],
          (acc, e) -> {'l': acc.l * 10 + e.l, 'b': acc.l})
    """).fetchone()[0]
    # honest left fold would give b = 12 (the PRE-update l)
    assert struct_r == {"l": 123.0, "b": 123.0}, struct_r
    list_r = duckdb.sql("""
        SELECT list_reduce(
          [[CAST(1.0 AS DOUBLE), 0.0],
           [CAST(2.0 AS DOUBLE), 0.0],
           [CAST(3.0 AS DOUBLE), 0.0]],
          (acc, e) -> [acc[1] * 10 + e[1], acc[1]])
    """).fetchone()[0]
    assert list_r == [123.0, 12.0], list_r


def test_holt_linear_matches_python_fold(spark, sf_dir):
    """The Holt entry's (level, trend) series re-run as a plain Python
    loop over the same ordered daily counts — bit-identical doubles
    (same fold, same inlined l_t expression)."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY

    rows = REGISTRY["events_holt_linear"].build(spark, sf_dir).collect()
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r)
    for typ, rs in series.items():
        lvl, trend = 0.0, 0.0
        for r in rs:
            x = float(r.n_events)
            new_lvl = x * 0.3 + (lvl + trend) * 0.7
            trend = ((x * 0.3 + (lvl + trend) * 0.7) - lvl) * 0.2 \
                + trend * 0.8
            lvl = new_lvl
            assert r.level == lvl and r.trend == trend, (typ, r.day)


def test_audio_spectrogram_matches_python_reference(spark, sf_dir):
    """The framed fixed-point DFT recomputed with PLAIN Python loops
    (no numpy) from the waveform formula — every (doc, bin) energy must
    be identical: same framing, same integer basis, same squares."""
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        attach_audio_payload, audio_spectrogram_energy, dft_basis)

    ids = [0, 5, 10, 15, 20, 2555]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {(r.doc_id, r.bin): r.energy
           for r in audio_spectrogram_energy(
               attach_audio_payload(docs)).collect()}
    cos_t, sin_t = dft_basis()
    for did in ids:
        n = 800 + (did % 5) * 160
        samples = [((did * 31 + 7 * i) % 4096) - 2048 for i in range(n)]
        for b in range(1, 9):
            total = 0
            for f in range(n // 64):
                re = sum(samples[f * 64 + t] * cos_t[(b - 1) * 64 + t]
                         for t in range(64))
                im = sum(samples[f * 64 + t] * sin_t[(b - 1) * 64 + t]
                         for t in range(64))
                total += re * re + im * im
            assert got[(did, b)] == total, (did, b)
            assert total < 2 ** 53  # the exactness budget, measured


def test_distributed_ntile_matches_window_form(spark):
    """distributed_ntile (range partition + parallel local ranks +
    broadcast offsets) must be BIT-IDENTICAL to the single-partition
    window NTILE for any total order — checked across tile counts that
    divide, underfill, and straggle the row count."""
    from pyspark.sql.window import Window

    from iceberg_datafusion_arrow_flight_spark.operators.ranking import (
        distributed_ntile)

    df = (spark.range(997)
          .select(F.col("id"),
                  ((F.col("id") * 2654435761) % 104729).alias("v"))
          .cache())
    for n in (4, 10, 7, 997, 1500):
        want = {r.id: r.t for r in df.select(
            "id", F.ntile(n).over(Window.orderBy("v", "id")).alias("t"))
            .collect()}
        got = {r.id: r.t for r in distributed_ntile(
            df, [F.col("v"), F.col("id")], n, "t").collect()}
        assert got == want, f"ntile({n}) diverged"


def test_rfm_and_equi_depth_have_no_single_partition_window(spark, sf_dir):
    """The RFM and equi-depth plans must not contain the
    Exchange SinglePartition a global window would force — the
    distributed-ntile rewrite is the point."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY

    for name in ("events_rfm_segmentation", "agg_equi_depth_histogram"):
        df = REGISTRY[name].build(spark, sf_dir)
        jvm = df.sparkSession._jvm
        em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        plan = df._jdf.queryExecution().explainString(em)
        assert "SinglePartition" not in plan, name


def _jaccard_brute(token_sets: dict, num: int, den: int):
    """Exhaustive token-set Jaccard pairs (id_a < id_b) at >= num/den."""
    ids = sorted(token_sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(token_sets[a] & token_sets[b])
            union = len(token_sets[a] | token_sets[b])
            if union and den * inter >= num * union:
                out.add((a, b))
    return out


def test_minhash_lsh_skew_guard_under_hot_template(spark):
    """Adversarial-skew fixture (VERDICT r8 ask #5): one template
    dominates the corpus, so its band buckets go pathologically hot —
    the exact shape that makes unguarded LSH quadratic at 100 TB.  Pins
    that (a) the pathology is real (an unguarded bucket holds most of
    the hot docs, candidate volume collapses >=20x under the cap),
    (b) max_bucket_size bounds every surviving bucket, and (c) the
    guarded output still equals the exhaustive pair set, because true
    near-dups live in cold buckets while hot buckets hold only
    below-threshold template kin (the guard is recall-safe whenever
    capped buckets contain no qualifying pairs)."""
    import itertools

    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signature)

    template = [f"tmpl{i}" for i in range(60)]
    rows, toksets = [], {}
    did = 0
    for _ in range(120):  # hot group: pairwise J = 60/68 ≈ 0.88 < 0.9
        extra = [f"u{did}_{j}" for j in range(4)]
        rows.append((did, " ".join(template + extra)))
        toksets[did] = set(template) | set(extra)
        did += 1
    for k in range(30):  # true dups, disjoint vocab per pair: J = 30/31
        base = [f"p{k}_{j}" for j in range(30)]
        rows.append((did, " ".join(base)))
        toksets[did] = set(base)
        rows.append((did + 1, " ".join(base + [f"x{k}"])))
        toksets[did + 1] = set(base) | {f"x{k}"}
        did += 2
    for _ in range(40):  # unrelated noise
        uniq = [f"n{did}_{j}" for j in range(25)]
        rows.append((did, " ".join(uniq)))
        toksets[did] = set(uniq)
        did += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    want = _jaccard_brute(toksets, 9, 10)
    assert len(want) == 30  # hot-group kin must NOT qualify

    got_uncapped = {(r.id_a, r.id_b)
                    for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    got_capped = {(r.id_a, r.id_b)
                  for r in minhash_lsh_pairs(df, "doc_id", "text",
                                             max_bucket_size=10).collect()}
    assert got_uncapped == want
    assert got_capped == want  # the guard dropped no qualifying pair

    # Reconstruct the documented banding (16 bands x 4 sig rows) to
    # measure the pathology and the bound the guard enforces.
    sigs = minhash_signature(df, "doc_id", "text", 64)
    bands = sigs.select(
        "__id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.hash(*[F.element_at("__sig", b * 4 + r + 1)
                              for r in range(4)]).alias("bh"))
            for b in range(16)])).alias("e")
    ).select("__id", "e.band", "e.bh")
    sizes = (bands.groupBy("band", "bh").count()
             .agg(F.max("count").alias("mx"),
                  F.sum(F.expr("count * (count - 1) / 2")).alias("cand"))
             .first())
    assert sizes.mx >= 50, "fixture not pathological — hot bucket too small"
    capped_cand = (bands.groupBy("band", "bh").count()
                   .where(F.col("count") <= 10)
                   .agg(F.sum(F.expr("count * (count - 1) / 2"))).first()[0])
    assert capped_cand * 20 <= sizes.cand, (
        f"guard saved too little: {capped_cand} vs {sizes.cand}")
    # every surviving bucket emits at most C(cap,2) pairs
    assert capped_cand <= 45 * bands.select("band", "bh").distinct().count()


def test_containment_skew_bounded_under_hot_shingle(spark):
    """Containment twin of the hot-template test: EVERY doc shares one
    leading bigram (a boilerplate header), so one posting list covers
    the whole corpus — unguarded, the probe join would touch all
    ordered pairs.  Pins that (a) the pathology is real (the hot
    shingle's posting list == corpus size), (b) the prefix + lossless
    size filters keep the candidate join at a fraction of the ordered-
    pair space, and (c) the output still equals exhaustive directed
    containment."""
    import math

    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        containment_pairs)

    rows, shsets = [], {}

    def _bigrams(tokens):
        return {" ".join(tokens[i:i + 2]) for i in range(len(tokens) - 1)}

    did = 0
    for k in range(60):  # contained/container pairs with shared header
        core = [f"c{k}_{j}" for j in range(12)]
        small = ["hdr", "common"] + core
        big = small + [f"pad{k}_{j}" for j in range(30)]
        rows.append((did, " ".join(small)))
        shsets[did] = _bigrams(small)
        rows.append((did + 1, " ".join(big)))
        shsets[did + 1] = _bigrams(big)
        did += 2
    for _ in range(80):  # header-only kin: share just the hot bigram
        uniq = ["hdr", "common"] + [f"z{did}_{j}" for j in range(20)]
        rows.append((did, " ".join(uniq)))
        shsets[did] = _bigrams(uniq)
        did += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    n_docs = len(rows)

    want = set()
    for a in shsets:
        for b in shsets:
            if a == b:
                continue
            inter = len(shsets[a] & shsets[b])
            if 10 * inter >= 8 * len(shsets[a]):
                want.add((a, b))
    got = {(r.contained_id, r.container_id)
           for r in containment_pairs(df, "doc_id", "text",
                                      n=2, threshold_num=8,
                                      threshold_den=10).collect()}
    assert got == want and len(want) >= 60

    # Pathology + bound: replicate the documented probe/index shape to
    # count candidates the exact-verify join would receive.
    toks = F.split(F.col("text"), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    grams = F.array_distinct(F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, 2), " ")))
    sh = F.array_sort(F.transform(grams, lambda t: F.xxhash64(t)))
    plen = (F.size(sh) - F.ceil(F.size(sh) * 8 / 10) + 1).cast("int")
    base = df.select(F.col("doc_id").alias("__id"), sh.alias("__sh"),
                     F.slice(sh, 1, plen).alias("__prefix"))
    hot_postings = (base.select(F.explode("__sh").alias("g"))
                    .groupBy("g").count().agg(F.max("count")).first()[0])
    assert hot_postings == n_docs  # the hot shingle reaches every doc
    probe = base.select(F.col("__id").alias("ca"),
                        F.size("__sh").alias("na"),
                        F.explode("__prefix").alias("g"))
    index = base.select(F.col("__id").alias("cb"),
                        F.size("__sh").alias("nb"),
                        F.explode("__sh").alias("g"))
    n_cand = (probe.join(index, (probe["g"] == index["g"])
                         & (F.col("ca") != F.col("cb"))
                         & (10 * F.col("nb") >= 8 * F.col("na")))
              .select("ca", "cb").distinct().count())
    assert n_cand <= 0.4 * n_docs * (n_docs - 1), (
        f"candidate join saw {n_cand} of {n_docs * (n_docs - 1)} "
        f"ordered pairs — prefix/size filters not bounding the hot key")


def test_asof_forward_tolerance_matches_naive(spark):
    """Forward as-of semantics pinned against a naive join: earliest
    right row at-or-after (>= includes exact-equal timestamps), nulls
    past the tolerance, left-outer rows preserved."""
    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.asof import (
        asof_join_forward)

    left = spark.createDataFrame(
        [(1, "a", "2024-01-01 10:00:00"),
         (2, "a", "2024-01-01 11:30:00"),
         (3, "a", "2024-01-01 23:00:00"),   # next snap beyond tolerance
         (4, "b", "2024-01-01 10:00:00"),   # no right rows for key b2
         (5, "c", "2024-01-01 10:00:00")],  # exact-equal ts match
        "id int, k string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("a", "2024-01-01 10:15:00", 100),
         ("a", "2024-01-01 12:00:00", 200),
         ("a", "2024-01-02 09:00:00", 300),
         ("c", "2024-01-01 10:00:00", 400)],
        "k string, rts string, v int").withColumn(
            "rts", F.col("rts").cast("timestamp"))
    out = {r.id: (r.asof_rts, r.asof_v)
           for r in asof_join_forward(left, right, "k", "ts", "rts",
                                      right_cols=["v"],
                                      tolerance_seconds=3600).collect()}
    assert out[1][1] == 100          # nearest following within 1h
    assert out[2][1] == 200
    assert out[3] == (None, None)    # 10h gap > tolerance -> nulled
    assert out[4] == (None, None)    # no right rows at all
    assert out[5][1] == 400          # ts == rts counts (>= bound)
    assert len(out) == 5             # left-outer: every left row kept


def test_range_frame_count_matches_window_form(spark):
    """with_range_frame_count must be BIT-IDENTICAL to the single-
    partition RANGE window it replaces, across randomized values
    (duplicates included) and asymmetric bounds."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.ranking import (
        with_range_frame_count)

    rng = random.Random(7)
    for lo, hi in ((-10.0, 10.0), (-25.0, 5.0), (0.0, 15.0)):
        rows = [(i, float(rng.choice([rng.uniform(0, 100),
                                      rng.randrange(0, 100)])))
                for i in range(300)]
        df = spark.createDataFrame(rows, "id bigint, v double")
        df.createOrReplaceTempView("rf_prop_t")
        # fractional RANGE bounds need the SQL spelling (pyspark's
        # rangeBetween only takes integral offsets)
        start = "CURRENT ROW" if lo == 0 else f"{abs(lo)} PRECEDING"
        want = {r.id: r.n for r in spark.sql(
            f"SELECT id, COUNT(*) OVER (ORDER BY v RANGE BETWEEN "
            f"{start} AND {hi} FOLLOWING) AS n FROM rf_prop_t")
            .collect()}
        got = {r.id: r.n_within for r in
               with_range_frame_count(df, "v", ["id"], lo, hi,
                                      out_col="n_within").collect()}
        assert got == want, f"bounds ({lo}, {hi}) diverged"


def test_cn_jaccard_and_local_cc_no_cartesian(spark, sf_dir):
    """The r9 graph entries must keep the bounded-wedge shape: hashed
    equi-joins only, no nested loop anywhere in either plan."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    for name in ("graph_common_neighbors_jaccard",
                 "graph_local_clustering_coefficient"):
        df = REGISTRY[name].build(spark, sf_dir)
        jvm = spark._jvm
        em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple")
        plan = df._jdf.queryExecution().explainString(em)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_png_codec_roundtrip_and_filters():
    """The pure numpy+zlib PNG codec: (a) encode->decode roundtrips
    pixel-exactly across sizes; (b) the decoder undoes ALL five
    scanline filter types — a hand-built PNG applies Sub/Up/Average/
    Paeth per row (forward-filtered from known pixels) and must decode
    back to those exact pixels; (c) corrupt CRC and unsupported
    profiles raise loudly."""
    import zlib

    import numpy as np
    import pytest as _pytest

    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _PNG_SIG, _decode_png, _encode_png, _png_chunk)

    for did in (0, 3, 17, 1234):
        w = 8 + (did % 8) * 4
        h = 8 + (did % 5) * 4
        px = ((7 * did + np.arange(w * h * 3)) % 256).reshape(h, w, 3)
        gw, gh, got = _decode_png(_encode_png(w, h, px))
        assert (gw, gh) == (w, h)
        assert np.array_equal(got, px.astype(np.uint8))

    # forward-filter known pixels with each filter type, per the spec
    w, h, bpp = 5, 5, 3
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    flat = px.reshape(h, w * 3).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * 3, np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        filt = np.zeros(w * 3, np.int32)
        for i in range(w * 3):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
            filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(filt.astype(np.uint8).tobytes())
        prev = cur
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    buf = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _png_chunk(b"IEND", b""))
    gw, gh, got = _decode_png(buf)
    assert np.array_equal(got, px)

    # corrupt CRC raises
    bad = bytearray(_encode_png(8, 8, np.zeros((8, 8, 3), np.uint8)))
    bad[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    with _pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(bad))
    # unsupported profile (16-bit depth) raises
    ihdr16 = ((8).to_bytes(4, "big") + (8).to_bytes(4, "big")
              + bytes([16, 2, 0, 0, 0]))
    buf16 = (_PNG_SIG + _png_chunk(b"IHDR", ihdr16)
             + _png_chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="unsupported PNG profile"):
        _decode_png(buf16)
    # nonzero IHDR compression-method / filter-method bytes raise the
    # codec's loud error, not an opaque zlib one (ADVICE r9)
    for pos, label in ((11, "compression"), (12, "filter")):
        hdr = bytearray(bytes([8, 2, 0, 0, 0]))
        hdr[pos - 8] = 1
        bufm = (_PNG_SIG
                + _png_chunk(b"IHDR", (8).to_bytes(4, "big")
                             + (8).to_bytes(4, "big") + bytes(hdr))
                + _png_chunk(b"IEND", b""))
        with _pytest.raises(ValueError, match="unsupported PNG profile"):
            _decode_png(bufm)
    # chunk length overrunning the buffer raises loudly, not IndexError
    good = _encode_png(8, 8, np.zeros((8, 8, 3), np.uint8))
    overrun = bytearray(good)
    overrun[8:12] = (10 ** 6).to_bytes(4, "big")  # IHDR length lies
    with _pytest.raises(ValueError, match="overruns buffer"):
        _decode_png(bytes(overrun))
    # truncated mid-chunk-header raises loudly
    with _pytest.raises(ValueError, match="truncated PNG chunk"):
        _decode_png(good[:len(_PNG_SIG) + 4])
    # inflated payload shorter than height*(stride+1) raises loudly
    short = (_PNG_SIG
             + _png_chunk(b"IHDR", (8).to_bytes(4, "big")
                          + (8).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0]))
             + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
             + _png_chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="inflated size"):
        _decode_png(short)


def test_jpeg_codec_tile_exact_and_roundtrip():
    """Baseline JPEG codec (operators/multimodal.py): the 16x16-tile
    fixture class decodes EXACTLY (DC-only path, both subsamplings);
    random full-color images roundtrip within the quantization bound
    on the 4:4:4 path (the AC Huffman path); malformed/unsupported
    streams raise the codec's loud ValueError."""
    import numpy as np
    import pytest as _pytest
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_jpeg, _encode_jpeg, _jpeg_rgb_to_ycbcr,
        _jpeg_tile_image, _jpeg_ycbcr_to_rgb)

    # 1. tile-constant exactness — every (w, h, subsampling) combo
    for did in range(12):
        w, h, px = _jpeg_tile_image(did)
        ycc = _jpeg_rgb_to_ycbcr(px)
        expect = _jpeg_ycbcr_to_rgb(ycc[..., 0], ycc[..., 1], ycc[..., 2])
        for sub in ("420", "444"):
            dw, dh, out = _decode_jpeg(_encode_jpeg(w, h, px, sub))
            assert (dw, dh) == (w, h)
            assert np.array_equal(out, expect), (did, sub)

    # 2. random images exercise the AC run-length/Huffman path; with
    #    AC quant step 16 the 4:4:4 reconstruction error is bounded
    #    (observed max 31; assert a safe ceiling), including an image
    #    needing edge padding (non-multiple-of-8 size)
    rng = np.random.RandomState(7)
    for (w, h) in ((32, 16), (17, 13)):
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        dw, dh, out = _decode_jpeg(_encode_jpeg(w, h, px, "444"))
        assert (dw, dh) == (w, h)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 48

    # 3. smooth image under 4:2:0: subsampling loss small (the noise
    #    case is dominated by chroma decimation, not codec error)
    xx, yy = np.meshgrid(np.arange(48), np.arange(32))
    smooth = np.stack([(xx * 3) % 256, (yy * 5) % 256,
                       ((xx + yy) * 2) % 256], axis=-1).astype(np.uint8)
    _, _, out = _decode_jpeg(_encode_jpeg(48, 32, smooth, "420"))
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 16

    # 4. loud failures
    good = _encode_jpeg(16, 16, np.zeros((16, 16, 3), np.uint8))
    with _pytest.raises(ValueError, match="missing SOI"):
        _decode_jpeg(b"\x00" + good)
    prog = bytearray(good)
    sof = prog.find(b"\xFF\xC0")
    prog[sof + 1] = 0xC2             # rewrite SOF0 -> SOF2 progressive
    with _pytest.raises(ValueError, match="baseline sequential"):
        _decode_jpeg(bytes(prog))
    with _pytest.raises(ValueError, match="truncated"):
        _decode_jpeg(good[:-20])
    dri = good[:2] + b"\xFF\xDD\x00\x04\x00\x08" + good[2:]
    with _pytest.raises(ValueError, match="restart intervals"):
        _decode_jpeg(dri)


def test_jpeg_header_scan_fields_and_guards():
    """_jpeg_header reads dims/subsampling/quant step from the marker
    stream without entropy decode, resolves DQT placed after SOF, and
    raises loudly on junk."""
    import numpy as np
    import pytest as _pytest
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _encode_jpeg, _jpeg_header, _jpeg_tile_image)

    for did in (0, 1, 5):
        w, h, px = _jpeg_tile_image(did)
        sub = "420" if did % 2 == 0 else "444"
        hd = _jpeg_header(_encode_jpeg(w, h, px, sub))
        assert (hd["width"], hd["height"]) == (w, h)
        assert hd["n_components"] == 3
        assert hd["subsampling"] == sub
        assert hd["dc_step_luma"] == 8

    # DQT after SOF still resolves (re-order the segments)
    buf = _encode_jpeg(16, 16, np.zeros((16, 16, 3), np.uint8))
    def seg_at(b, marker):
        i = b.find(bytes([0xFF, marker]))
        ln = int.from_bytes(b[i + 2:i + 4], "big")
        return i, b[i:i + 2 + ln]
    i_dqt, dqt1 = seg_at(buf, 0xDB)
    rest = buf[:i_dqt] + buf[i_dqt + len(dqt1):]
    i_sof, sof = seg_at(rest, 0xC0)
    reordered = (rest[:i_sof + len(sof)] + dqt1 + rest[i_sof + len(sof):])
    assert _jpeg_header(reordered)["dc_step_luma"] == 8

    with _pytest.raises(ValueError, match="missing SOI"):
        _jpeg_header(b"nope")
    with _pytest.raises(ValueError, match="missing SOF0"):
        _jpeg_header(b"\xFF\xD8\xFF\xDA\x00\x02")


def test_with_global_cumsum_matches_single_window(spark):
    """Distributed prefix sum == the single-partition window form for
    any total order, at any partition count."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from iceberg_datafusion_arrow_flight_spark.operators.ranking import (
        with_global_cumsum)
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 7 % 13 + 1).alias("w"))
    got = {r["id"]: r["c"] for r in
           with_global_cumsum(df, [F.col("id")], "w", "c",
                              num_partitions=7).collect()}
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {r["id"]: r["c"] for r in
            df.withColumn("c", F.sum("w").over(w)).collect()}
    assert got == want


def test_gif_lzw_spec_vector():
    """Cross-validate the GIF LZW decoder against a THIRD-PARTY stream:
    the canonical 10x10 sample image from the GIF89a literature
    (Flickinger, "What's in a GIF" — widely mirrored), min code size 2.
    This pins spec conformance (LSB-first packing, width bump at table
    size 2^w, KwKwK case) independently of our own encoder — and then
    checks our encoder reproduces the identical code stream for the
    same input, byte for byte."""
    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _lzw_decode, _lzw_encode)

    spec = bytes.fromhex("8C2D99872A1CDC33A00275EC95FAA8DE608C04914C01")
    expected = bytes(
        [1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 1, 1, 2, 2, 2, 2, 2,
         1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
         1, 1, 1, 0, 0, 0, 0, 2, 2, 2,
         2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
         2, 2, 2, 0, 0, 0, 0, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1,
         2, 2, 2, 2, 2, 1, 1, 1, 1, 1])
    assert _lzw_decode(spec, 2, 100) == expected
    assert _lzw_encode(expected, 2) == spec


def test_gif_codec_roundtrip_and_guards():
    """GIF89a container + LZW: single- and multi-frame roundtrips are
    index-exact (including a 200x300 random image that forces the
    12-bit table cap and CLEAR reset), GCE delays survive, and
    malformed payloads raise loudly."""
    import numpy as np
    import pytest as _pytest

    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_gif, _decode_gif_rgb, _encode_gif, _gif_palette,
        _lzw_decode)

    pal = _gif_palette()
    rng = np.random.default_rng(3)
    for (w, h) in [(8, 8), (36, 24), (200, 300)]:
        fr = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        gw, gh, gpal, frames, delays = _decode_gif(
            _encode_gif(w, h, [fr], pal))
        assert (gw, gh) == (w, h)
        assert np.array_equal(gpal, pal)
        assert len(frames) == 1 and np.array_equal(frames[0], fr)
        assert delays == [0]

    # animation: 4 frames, frames 0/1 identical, delays carried by GCE
    offs = (0, 0, 11, 29)
    frames_in = [((7 * 9 + np.arange(64) + o) % 256)
                 .astype(np.uint8).reshape(8, 8) for o in offs]
    gw, gh, _p, frames, delays = _decode_gif(
        _encode_gif(8, 8, frames_in, pal, delay_cs=10))
    assert delays == [10, 10, 10, 10]
    assert np.array_equal(frames[0], frames[1])
    assert not np.array_equal(frames[1], frames[2])
    for a, b in zip(frames_in, frames):
        assert np.array_equal(a, b)

    # palette maps through the rgb wrapper: channel c of pixel k is
    # the affine palette row of its index
    w, h = 8, 8
    fr = ((7 * 4 + np.arange(w * h)) % 256).astype(np.uint8).reshape(h, w)
    _w, _h, px = _decode_gif_rgb(_encode_gif(w, h, [fr], pal))
    assert np.array_equal(px[:, :, 0], fr)
    assert np.array_equal(px[:, :, 1], (2 * fr.astype(int)) % 256)
    assert np.array_equal(px[:, :, 2], (3 * fr.astype(int)) % 256)
    with _pytest.raises(ValueError):
        _decode_gif_rgb(_encode_gif(8, 8, [fr, fr], pal))  # multi-frame

    buf = bytearray(_encode_gif(w, h, [fr], pal))
    with _pytest.raises(ValueError):
        _decode_gif(b"NOTGIF" + bytes(buf[6:]))
    with _pytest.raises(ValueError):
        _decode_gif(bytes(buf[:40]))              # truncated mid-table
    ib = 6 + 7 + 768            # header + LSD + 256-entry GCT =
    assert buf[ib] == 0x2C      # ... the image descriptor offset
    bad = bytes(buf[:ib + 9]) + bytes([buf[ib + 9] | 0x40]) \
        + bytes(buf[ib + 10:])
    with _pytest.raises(ValueError, match="interlaced"):
        _decode_gif(bad)
    with _pytest.raises(ValueError):
        _lzw_decode(b"\x00", 8, 64)               # stream underrun


def test_cdc_chunks_matches_reference_and_resyncs(spark):
    """cdc_chunks == a direct Python transcription of the docstring's
    recurrence on adversarial strings (short/empty/unicode/random), and
    the property that motivates CDC holds: inserting a prefix re-syncs
    chunk boundaries so most chunks still dedup against the original."""
    import random

    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        cdc_chunks)

    def ref(t):
        n, h, cand = len(t), 0, []
        for k in range(1, n):
            h = (2 * h + (ord(t[k - 1]) * 2654435761) % 1048576) % 1048576
            if k >= 16 and h % 64 == 0:
                cand.append(k)
        cuts = [0]
        for k in cand:
            if k - cuts[-1] >= 16:
                cuts.append(k)
        b = cuts + [n]
        return [t[b[i]:b[i + 1]] for i in range(len(cuts))]

    rng = random.Random(11)
    base = "".join(rng.choice("abcdefgh ") for _ in range(400))
    texts = ["", "x", "short doc", "é" * 30 + " ünïcødé " + "字" * 25,
             base, "INSERTED PREFIX " + base]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk,
                                             r.chunk_len))
    for i, t in enumerate(texts):
        expect = [(j, c, len(c)) for j, c in enumerate(ref(t))]
        assert sorted(got[i]) == expect, f"doc {i}"

    # re-sync: the prefixed doc shares most chunk content with the base
    orig = set(c for _, c, _ in got[4])
    pref = set(c for _, c, _ in got[5])
    shared = sum(len(c) for c in orig & pref)
    assert shared >= 0.6 * len(base)


def test_tiff_codec_spec_vector_roundtrip_and_guards():
    """PackBits pinned to the TIFF 6.0 spec's published example (a
    third-party byte vector, not a self-roundtrip), random roundtrips
    across both compressions and byte orders, and loud failures."""
    import numpy as np
    import pytest as _pytest

    from iceberg_datafusion_arrow_flight_spark.operators.multimodal import (
        _decode_tiff, _encode_tiff, _packbits_decode, _packbits_encode)

    unpacked = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA")
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    assert _packbits_decode(packed, len(unpacked)) == unpacked
    assert _packbits_decode(_packbits_encode(unpacked),
                            len(unpacked)) == unpacked

    rng = np.random.default_rng(3)
    for trial in range(12):
        w, h = int(rng.integers(1, 40)), int(rng.integers(1, 30))
        if trial % 3 == 0:
            px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        else:  # row-constant: PackBits strips carry real runs
            px = (rng.integers(0, 256, (h, 1, 3))
                  * np.ones((1, w, 1), int) % 256).astype(np.uint8)
        for comp in (1, 32773):
            for be in (False, True):
                w2, h2, px2 = _decode_tiff(_encode_tiff(
                    w, h, px, comp,
                    rows_per_strip=int(rng.integers(1, 8)),
                    big_endian=be))
                assert (w2, h2) == (w, h) and np.array_equal(px, px2)

    with _pytest.raises(ValueError, match="byte-order"):
        _decode_tiff(b"XX" + b"\0" * 20)
    buf = bytearray(_encode_tiff(8, 8, np.zeros((8, 8, 3), np.uint8)))
    bad = bytes(buf).replace(b"II*\x00", b"II+\x00", 1)
    with _pytest.raises(ValueError, match="magic"):
        _decode_tiff(bad)
    with _pytest.raises(ValueError):
        _packbits_decode(b"\x05AA", 6)        # literal overrun
    with _pytest.raises(ValueError):
        _packbits_decode(b"\xfe", 3)          # run missing repeat byte


def test_mulaw_matches_audioop_reference():
    """The μ-law encoder/decoder must equal CPython's audioop (the
    Sun/CCITT reference implementation) over the FULL 16-bit input
    range and all 256 codes — a third-party vector, not a
    self-roundtrip.  audioop is deprecated (removal in 3.13); skip
    gracefully when absent, the closed-form oracle still pins the
    algorithm cross-engine."""
    import numpy as np
    import pytest as _pytest

    audioop = _pytest.importorskip("audioop")
    th14 = np.array([63, 127, 255, 511, 1023, 2047, 4095, 8191],
                    dtype=np.int64)
    s = np.arange(-32768, 32768, dtype=np.int64)
    p = s >> 2
    mask = np.where(p < 0, 0x7F, 0xFF)
    pb = np.minimum(np.abs(p), 8159) + 33
    seg = (pb[:, None] > th14[None, :]).sum(axis=1)
    uval = np.where(seg >= 8, 0x7F, (seg << 4) | ((pb >> (seg + 1)) & 0xF))
    code = uval ^ mask
    ref = np.frombuffer(audioop.lin2ulaw(s.astype("<i2").tobytes(), 2),
                        dtype=np.uint8).astype(np.int64)
    assert (code == ref).all()

    c = np.arange(256, dtype=np.int64)
    u = (~c) & 0xFF
    t = (((u & 15) << 3) + 132) << ((u >> 4) & 7)
    dec = np.where(u & 0x80, 132 - t, t - 132)
    refd = np.frombuffer(audioop.ulaw2lin(c.astype(np.uint8).tobytes(), 2),
                         dtype="<i2").astype(np.int64)
    assert (dec == refd).all()


def test_lsh_bucket_kernel_matches_expression_forest(spark):
    """r11 optimization guard: the Arrow-batched numpy bucket kernel
    must reproduce the Catalyst lsh_bucket() expression bit-for-bit —
    including Catalyst's irregular-input semantics (NULL vector, NULL
    element, wrong length ⇒ every plane's fold is NULL ⇒ bucket 0)."""
    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        lsh_bucket, lsh_bucket_columns)

    dims, n_planes, n_tables = 8, 3, 4
    rows = [(i, [((i * 31 + j * 7) % 97) / 13.0 - 3.0 for j in range(dims)])
            for i in range(50)]
    rows += [(100, None),                              # NULL vector
             (101, [1.0] * (dims - 1)),                # short
             (102, [1.0] * (dims + 2)),                # long
             (103, [1.0] * 4 + [None] + [1.0] * 3),    # NULL element
             (104, [float("nan")] + [1.0] * (dims - 1))]  # NaN fold
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<DOUBLE>")
    expr_df = df.select(
        "id", *[lsh_bucket(F.col("v"), n_planes, dims, t).alias(f"__b{t}")
                for t in range(n_tables)])
    kern_df = lsh_bucket_columns(df, "v", n_planes, dims,
                                 n_tables).drop("v")
    a = sorted(map(tuple, expr_df.collect()))
    b = sorted(map(tuple, kern_df.collect()))
    assert a == b


def test_pq_kernels_match_expression_forest(spark):
    """r11 optimization guard: pq_code_columns / pq_lut_columns must
    reproduce the _sq_l2_sql/_argmin_code_sql projections bit-for-bit,
    including the irregular-input degenerations (incomplete or
    NULL-carrying subspace slice ⇒ NULL fold ⇒ code 1 / NULL LUT
    entry)."""
    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        _argmin_code_sql, _sq_l2_sql, pq_code_columns, pq_lut_columns)

    m, k, d = 2, 3, 4
    books = [[(j + 1, [((s * 13 + j * 7 + i) % 11) / 7.0 for i in range(d)])
              for j in range(k)] for s in range(m)]
    rows = [(i, [((i * 17 + j * 5) % 23) / 9.0 for j in range(m * d)])
            for i in range(40)]
    rows += [(100, None),                                    # NULL vector
             (101, [1.0] * (m * d - 2)),                     # short (2nd subspace incomplete)
             (102, [1.0] * 3 + [None] + [1.0] * 4),          # NULL in 1st subspace
             (103, [float("nan")] + [1.0] * (m * d - 1))]    # NaN distances (1st subspace)
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<DOUBLE>")

    code_exprs = []
    lut_exprs = []
    for s, book in enumerate(books):
        sub = f"slice(v,{s * d + 1},{d})"
        dists = [_sq_l2_sql(sub, cent) for _c, cent in book]
        code_exprs.append(F.expr(_argmin_code_sql(dists)).alias(f"__code{s}"))
        lut_exprs.append(F.expr("array(" + ",".join(dists) + ")")
                         .alias(f"__lut{s}"))
    want_codes = sorted(map(tuple, df.select("id", *code_exprs).collect()))
    got_codes = sorted(map(tuple,
                           pq_code_columns(df, "v", books).drop("v").collect()))
    assert want_codes == got_codes

    def canon(rows):
        # NaN != NaN breaks raw tuple equality; compare NaNs positionally
        # (both engines produce NaN from the same NaN input — the values
        # themselves are still asserted equal elsewhere in the row).
        import math

        def c(v):
            if isinstance(v, list):
                return tuple(c(x) for x in v)
            if isinstance(v, float) and math.isnan(v):
                return "NaN"
            return v
        return sorted(tuple(c(x) for x in r) for r in rows)

    want_luts = canon(df.select("id", *lut_exprs).collect())
    got_luts = canon(pq_lut_columns(df, "v", books).drop("v").collect())
    assert want_luts == got_luts


def test_pq_lloyd_kernel_assignment_matches_join_minby(spark):
    """r12 optimization guard: pq_codebooks' Lloyd loop now assigns
    subvectors to codes through the pq_code_columns numpy kernel instead
    of the r11 broadcast-join + min_by(struct(__d2, code)) aggregate.
    The assignment (which subvector lands in which (s, code) mean group)
    must be IDENTICAL under both spellings for every iteration's books —
    that is the semantic content of a Lloyd pass.  The recomputed means
    are the same avg() aggregate over the same groups; their partial-sum
    grouping differs (base partitions vs the old (id, s)-hash
    partitions), so they are compared to 1e-12 — the r12 round notes
    record row-exact end-to-end ann_pq_topk equality at all three SFs."""
    import numpy as np
    from pyspark.sql import functions as F

    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        pq_code_columns, pq_codebooks)

    m, k, d = 2, 3, 4
    rows = [(i, [((i * 17 + j * 5) % 23) / 9.0 - 1.2 for j in range(m * d)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    # New spelling end-to-end.
    books_new = pq_codebooks(df, "vec_id", "embedding", m=m, k=k, iters=2)

    # Old spelling, reconstructed verbatim (r11 tree), sharing the same
    # deterministic init.
    from iceberg_datafusion_arrow_flight_spark.operators.partitioning import (
        checkpoint_partitioned, fan_out)
    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        _as_double, _normed)
    base = fan_out(df).select(F.col("vec_id").alias("__id"),
                              _normed(_as_double(F.col("embedding")))
                              .alias("__nv")).cache()
    init = base.orderBy("__id").limit(k).collect()
    books_old = [[(j + 1, list(r["__nv"][s * d:(s + 1) * d]))
                  for j, r in enumerate(init)] for s in range(m)]
    subs = checkpoint_partitioned(
        base.select("__id", F.explode(F.array(*[
            F.struct(F.lit(s).cast("int").alias("s"),
                     F.slice("__nv", s * d + 1, d).alias("sub"))
            for s in range(m)])).alias("e")).select("__id", "e.s", "e.sub"),
        "__id", "s")
    d2 = F.aggregate(F.zip_with("sub", "cent", lambda a, b: (a - b) * (a - b)),
                     F.lit(0.0), lambda acc, x: acc + x)
    for _ in range(2):
        cents = spark.createDataFrame(
            [(s, c, [float(x) for x in cent])
             for s in range(m) for c, cent in books_old[s]],
            "s int, code int, cent array<double>")
        # The assignment the old spelling derives from the current books
        # must equal the kernel's (bit-exact: same fold, same tie-break).
        join_assign = (subs.join(F.broadcast(cents), "s")
                       .withColumn("__d2", d2)
                       .groupBy("__id", "s")
                       .agg(F.min_by("code", F.struct(F.col("__d2"),
                                                      F.col("code")))
                            .alias("code")))
        kern_assign = (pq_code_columns(base, "__nv", books_old)
                       .select("__id", F.explode(F.array(*[
                           F.struct(F.lit(s).cast("int").alias("s"),
                                    F.col(f"__code{s}").alias("code"))
                           for s in range(m)])).alias("e"))
                       .select("__id", "e.s", "e.code"))
        assert (sorted(map(tuple, join_assign.collect()))
                == sorted(map(tuple, kern_assign.collect())))
        best = (subs.join(F.broadcast(cents), "s")
                .withColumn("__d2", d2)
                .groupBy("__id", "s")
                .agg(F.min_by(F.struct(F.col("code"), F.col("sub")),
                              F.struct(F.col("__d2"), F.col("code")))
                     .alias("b")))
        new = (best.groupBy(F.col("s"), F.col("b.code").alias("code"))
               .agg(F.array(*[F.avg(F.col("b.sub")[i]) for i in range(d)])
                    .alias("__mean"))
               .collect())
        for r in new:
            books_old[r["s"]][r["code"] - 1] = (r["code"], list(r["__mean"]))
    base.unpersist()

    for s in range(m):
        for j in range(k):
            assert books_old[s][j][0] == books_new[s][j][0]
            a = np.array(books_old[s][j][1])
            b = np.array(books_new[s][j][1])
            assert np.allclose(a, b, rtol=0.0, atol=1e-12), (s, j, a, b)
