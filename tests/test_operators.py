"""Operator-level invariants beyond the oracle gate: MinHash recall,
LSH-ANN recall vs brute force, multimodal plumbing, ES-DSL unit
behavior."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup, esdsl, similarity
from parquet_generator_spark.operators.multimodal import (
    decode_image,
    extract_features,
    frame_sample,
    synthesize_media,
    HAVE_PIL,
)
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_exact_dedup_removes_copies(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], "id long, t string")
    kept = dedup.exact_dedup(df, "id", "t").collect()
    assert sorted(r["id"] for r in kept) == [1, 2]
    groups = {r["keep_id"]: r["n_copies"]
              for r in dedup.exact_dedup_groups(df, "id", "t").collect()}
    assert groups == {1: 3, 2: 1}


def test_minhash_recall_equals_exact(spark):
    docs = load_table(spark, "documents", SF)
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.jaccard_pairs(docs, "doc_id", "text", 0.5)
             .collect()}
    mh = {(r["id_a"], r["id_b"])
          for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.5)
          .collect()}
    assert mh == exact  # 64 bands x 2 rows: recall ~1 at j>=0.5
    assert len(exact) > 0, "test data should contain planted near-dups"


def test_simhash_banding_is_complete(spark):
    docs = load_table(spark, "documents", SF)
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", 3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert all(r["hamming"] <= 3 for r in pairs)

    # the guaranteed invariant: banding finds EXACTLY the hamming<=3
    # pairs (pigeonhole: 3 flipped bits can't touch all 4 bands)
    sig = docs.select(F.col("doc_id").alias("id"),
                      dedup.simhash_spark("text").alias("sig"))
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    brute = {(r["id_a"], r["id_b"])
             for r in a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"), ham.alias("h"))
             .filter("h <= 3").collect()}
    assert found == brute
    assert len(found) > 0, "test data should contain simhash near-dups"


def test_lsh_ann_is_subset_and_reports_recall(spark):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter("vec_id < 10")
    brute = similarity.brute_force_topk(emb, queries, 5).collect()
    planes = similarity.make_hyperplanes(64, n_planes=8)
    approx = similarity.lsh_topk(emb, queries, 5, planes).collect()

    bset = {(r["qid"], r["nid"]) for r in brute}
    aset = {(r["qid"], r["nid"]) for r in approx}
    recall = len(aset & bset) / len(bset)
    # near-random embeddings: recall is structurally limited, but the
    # pipeline must produce *some* true neighbors deterministically
    assert recall > 0.0
    assert len(approx) <= len(brute)
    # deterministic: second run identical
    again = {(r["qid"], r["nid"])
             for r in similarity.lsh_topk(emb, queries, 5, planes)
             .collect()}
    assert again == aset


def test_multimodal_plumbing(spark):
    docs = load_table(spark, "documents", SF).limit(50)
    media = synthesize_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "media_type", "payload", "meta"]
    feats = extract_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["features"])
        assert r["n_bytes"] > 0

    frames = frame_sample(media, every_ms=100)
    vids = media.filter("media_type = 'video'").count()
    assert frames.select("media_id").distinct().count() == vids

    if not HAVE_PIL:
        # decode is REAL for BMP/PNG/baseline-JPEG (round 9); a
        # malformed JPEG now fails the numpy decoder's validation
        # (ValueError), and non-image formats stay lib-gated
        with pytest.raises(ValueError):
            decode_image(b"\xff\xd8\xff\xe0jpeg-magic-no-decoder")
        with pytest.raises(NotImplementedError):
            decode_image(b"GIF89a-not-decodable-here")
        # and a REAL baseline JPEG decodes without PIL
        import numpy as np

        from parquet_generator_spark.operators.jpeg_codec import (
            QUANT_FLAT,
            encode_jpeg_baseline,
        )
        img = np.full((8, 8), 77, dtype=np.uint8)
        assert np.array_equal(
            decode_image(encode_jpeg_baseline(img, QUANT_FLAT)), img)


def test_esdsl_minimum_should_match_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "a", 50)], "id long, k string, v long")
    # should + must: should is optional (msm=0) -> must alone filters
    got = esdsl.search(df, {"query": {"bool": {
        "must": [{"range": {"v": {"lte": 10}}}],
        "should": [{"term": {"k": "a"}}],
    }}}).count()
    assert got == 2
    # standalone should: msm=1 -> filters
    got = esdsl.search(df, {"query": {"bool": {
        "should": [{"term": {"k": "a"}}],
    }}}).count()
    assert got == 2


def test_esdsl_match_phrase_tokenization(spark):
    df = spark.createDataFrame(
        [(1, "Big Data, Query Engine"), (2, "query big data engine"),
         (3, "data engine")], "id long, t string")
    got = sorted(r["id"] for r in
                 df.filter(esdsl.match_phrase("t", "big DATA")).collect())
    assert got == [1, 2]  # punctuation/case-insensitive token sequence


def test_ivf_full_probe_equals_brute_force(spark):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter("vec_id < 10")
    cents = similarity.make_centroids_from_corpus(emb, 8)
    brute = [(r["qid"], r["nid"], r["cos"], r["rank"])
             for r in similarity.brute_force_topk(emb, queries, 5).collect()]
    # probing every cell = scanning the whole corpus = exact
    full = [(r["qid"], r["nid"], r["cos"], r["rank"])
            for r in similarity.ivf_topk(emb, queries, 5, cents,
                                         n_probe=8).collect()]
    assert full == brute


def test_ivf_partial_probe_recall(spark):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter("vec_id < 10")
    cents = similarity.make_centroids_from_corpus(emb, 8)
    brute = {(r["qid"], r["nid"])
             for r in similarity.brute_force_topk(emb, queries, 5).collect()}
    approx = similarity.ivf_topk(emb, queries, 5, cents, n_probe=2).collect()
    aset = {(r["qid"], r["nid"]) for r in approx}
    assert len(aset & brute) / len(brute) > 0.0
    # each query still returns at most k candidates
    per_q = {}
    for r in approx:
        per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
    assert all(n <= 5 for n in per_q.values())


def test_ivf_kmeans_centroids_full_probe_still_exact(spark):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter("vec_id < 10")
    cents = similarity.make_centroids_kmeans(emb, 8, n_iter=3)
    brute = [(r["qid"], r["nid"], r["cos"], r["rank"])
             for r in similarity.brute_force_topk(emb, queries, 5).collect()]
    full = [(r["qid"], r["nid"], r["cos"], r["rank"])
            for r in similarity.ivf_topk(emb, queries, 5, cents,
                                         n_probe=8).collect()]
    # exactness is a property of probing every cell, independent of
    # centroid quality
    assert full == brute


def test_embedding_dup_pairs_block_equals_gemm(spark):
    """The distributed triangle-block all-pairs must equal the
    driver-side GEMM baseline row for row (exact semantics are a
    property of the partitioning, not the kernel)."""
    emb = load_table(spark, "embeddings", SF)
    block = [tuple(r) for r in
             similarity.embedding_dup_pairs(emb, 0.3, n_blocks=5).collect()]
    gemm = [tuple(r) for r in
            similarity.embedding_dup_pairs_gemm(emb, 0.3).collect()]
    assert len(block) > 0
    assert block == gemm


def test_embedding_dup_pairs_lsh_precision_and_recall(spark):
    """LSH variant: precision 1 by construction (exact verify);
    recall vs the exact baseline bounded below by the banding math
    (~0.97 expected at cos>=0.3 with 8 bands x 2 bits)."""
    emb = load_table(spark, "embeddings", SF)
    planes = similarity.make_hyperplanes(64, 16, seed=7)
    lsh = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_dup_pairs_lsh(
               emb, 0.3, planes, 8).collect()}
    exact = {(r["id_a"], r["id_b"])
             for r in similarity.embedding_dup_pairs(emb, 0.3).collect()}
    assert lsh <= exact            # precision 1
    assert len(lsh & exact) / len(exact) >= 0.9


def test_embedding_dup_pairs_lsh_planted_dups_full_recall(spark):
    """True near-duplicates (cos ~ 0.999) agree on almost every
    hyperplane sign, so every planted pair must survive banding."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # planted twin: tiny perturbation => cos ~ 0.9998
        rows.append((1000 + i, [float(x) for x in v + rng.standard_normal(64) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    planes = similarity.make_hyperplanes(64, 16, seed=7)
    got = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_dup_pairs_lsh(
               df, 0.99, planes, 8).collect()}
    assert {(i, 1000 + i) for i in range(40)} <= got


def test_embedding_lsh_hi_planted_full_recall(spark):
    """Tuned production config (64 planes, 8 bands x 8 bits): every
    planted twin pair (cos ~ 0.9995) must survive the 8-bit bands
    (p ~ 0.99 per sign bit => band match p^8 ~ 0.92, miss-all-8
    probability ~ 1e-9), while 256 buckets/band keep the bucket GEMM
    at n^2/32 -- the sf1-measured scale configuration (SCALE.md)."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.standard_normal((60, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i,
                     [float(x) for x in v * (1 + rng.standard_normal(64) * 0.03)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    planes = similarity.make_hyperplanes(64, 64, seed=9)
    got = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_dup_pairs_lsh(
               df, 0.95, planes, 8).collect()}
    assert {(i, 1000 + i) for i in range(60)} <= got


def test_band_buckets_np_matches_sql(spark):
    """The numpy band-bucket kernel (round 13) must be BIT-IDENTICAL
    to the SQL expression form it replaced: same left-to-right
    float64 fold per plane dot, so every sign bit — and therefore
    every bucket id — agrees on float32-sourced vectors, including
    near-zero dots from a zero vector."""
    import numpy as np

    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((200, 64)).astype(np.float32)
    vecs[0] = 0.0                      # zero vector: dot exactly 0.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for n_planes, n_bands, seed in ((16, 8, 7), (64, 8, 9)):
        planes = similarity.make_hyperplanes(64, n_planes, seed=seed)
        cols = similarity.lsh_band_buckets(
            "transform(embedding, x -> cast(x AS DOUBLE))",
            planes, n_bands)
        sql_rows = df.select(
            "vec_id", F.array(*cols).alias("bks")).collect()
        sql = {r["vec_id"]: list(r["bks"]) for r in sql_rows}
        got = similarity.band_buckets_np(
            np.array([list(v) for v in vecs], dtype=np.float64),
            planes, n_bands)
        for i in range(len(vecs)):
            assert sql[i] == list(got[i]), f"row {i} diverges"


def test_lsh_bucket_cap_skips_hot_bucket(spark):
    """A degenerate bucket (many docs sharing every band signature)
    is skipped above the cap — its pairs disappear, everything else
    is untouched, and nothing is silently truncated (uncapped run
    still reports them)."""
    hot = [(i, "the same exact text repeated") for i in range(30)]
    normal = [(100, "a genuinely unique document about spark"),
              (101, "a genuinely unique document about sparks")]
    df = spark.createDataFrame(hot + normal, "doc_id bigint, text string")

    capped = dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.5,
                                     bucket_cap=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)

    uncapped = dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.5,
                                       bucket_cap=None)
    full = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (0, 1) in full and (100, 101) in full

    sim_capped = dedup.simhash_pairs(df, "doc_id", "text", 3,
                                     bucket_cap=10)
    sgot = {(r["id_a"], r["id_b"]) for r in sim_capped.collect()}
    assert not any(a < 100 and b < 100 for a, b in sgot)


_DEGENERATE_DOCS = {
    "zero_rows": [],
    "all_null_text": [(i, None) for i in range(4)],
    "all_empty_text": [(i, "") for i in range(4)],
    "one_row": [(7, "a single short document about spark")],
}


@pytest.mark.parametrize("case", sorted(_DEGENERATE_DOCS))
@pytest.mark.parametrize("op", ["simhash", "minhash"])
def test_near_dup_degenerate_inputs_match_oracle(spark, op, case):
    """Both LSH pipelines are total on degenerate corpora and give
    exactly their DuckDB oracle's pairs over the same rows: an empty
    batch must come back as a correctly typed empty frame, and NULL
    or empty text must vote like the oracle does."""
    rows = _DEGENERATE_DOCS[case]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    if op == "simhash":
        got = dedup.simhash_pairs(df, "doc_id", "text", 3)
        sql = dedup.simhash_pairs_duck_sql("documents", "doc_id", "text", 3)
    else:
        got = dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.5)
        sql = dedup.minhash_lsh_pairs_duck_sql(
            "documents", "doc_id", "text", 0.5)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    if rows:
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert sorted(tuple(r) for r in got.collect()) \
        == sorted(con.sql(sql).fetchall())


def test_star_cc_matches_min_label_on_real_pairs(spark):
    docs = load_table(spark, "documents", SF)
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.5) \
        .localCheckpoint()
    a = {(r["id"], r["cluster"])
         for r in dedup.connected_components(pairs).collect()}
    b = {(r["id"], r["cluster"])
         for r in dedup.connected_components_star(pairs).collect()}
    assert len(a) > 0
    assert a == b


def test_min_label_falls_back_to_star_on_long_chain(spark):
    """A 40-node path has diameter 40: min-label with max_iter=3
    cannot finish, and must hand off to star contraction instead of
    returning half-propagated labels."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a bigint, id_b bigint")
    got = {r["id"]: r["cluster"]
           for r in dedup.connected_components(chain,
                                               max_iter=3).collect()}
    assert got == {i: 0 for i in range(41)}


def test_star_cc_handles_multiple_components(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["cluster"]
           for r in dedup.connected_components_star(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_bmp_roundtrip_and_png_decode():
    """The stdlib decoders are real: BMP encode->decode is identity
    (incl. non-multiple-of-4 widths exercising row padding), and a
    hand-built PNG using every scanline filter decodes to the source
    pixels."""
    import struct
    import zlib

    import numpy as np

    from parquet_generator_spark.operators.multimodal import (
        _decode_png,
        decode_image,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_bmp(arr)), arr)

    # PNG: 5 rows RGB, one per filter type 0..4
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    raw = bytearray()
    prev = np.zeros(12, np.int64)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        line = px[y].reshape(-1).astype(np.int64)
        enc = np.zeros(12, np.int64)
        for i in range(12):
            a = line[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (line[i] - pred) % 256
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert np.array_equal(_decode_png(png), px)
    assert np.array_equal(decode_image(png), px)


def test_resize_images_real(spark):
    """Nearest-neighbor resize decodes real BMPs, resamples, and
    re-encodes — the corner pixels of the source survive."""
    import numpy as np

    from parquet_generator_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        resize_images,
    )

    arr = np.zeros((4, 6, 3), np.uint8)
    arr[0, 0] = (10, 20, 30)
    arr[3, 5] = (200, 150, 100)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(arr)))],
        "media_id long, payload binary")
    out = resize_images(df, width=2, height=2).collect()
    got = decode_image(bytes(out[0]["payload"]))
    assert got.shape == (2, 2, 3)
    assert tuple(got[0, 0]) == (10, 20, 30)        # top-left survives
    assert tuple(got[1, 1]) == tuple(arr[2, 3])     # nn index map


def test_fuzzy_transpositions_parity_and_semantics(spark):
    """Opt-in ES fuzzy_transpositions: the OSA distance matches
    DuckDB's damerau_levenshtein on random word pairs, and the
    canonical transposition case ('paln' vs 'plan') matches at
    fuzziness 1 with the option on and not with it off."""
    import random
    import string

    import duckdb

    from parquet_generator_spark.operators.esdsl import osa_distance

    rng = random.Random(13)
    con = duckdb.connect()
    for _ in range(200):
        a = "".join(rng.choices(string.ascii_lowercase[:6],
                                k=rng.randint(0, 8)))
        b = "".join(rng.choices(string.ascii_lowercase[:6],
                                k=rng.randint(0, 8)))
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert osa_distance(a, b) == want, (a, b)

    df = spark.createDataFrame(
        [(1, "paln"), (2, "plan"), (3, "plant")], "id long, w string")
    on = esdsl.search(df, {"query": {"fuzzy": {"w": {
        "value": "plan", "fuzziness": 1,
        "fuzzy_transpositions": True}}}})
    assert sorted(r["id"] for r in on.collect()) == [1, 2, 3]
    off = esdsl.search(df, {"query": {"fuzzy": {"w": {
        "value": "plan", "fuzziness": 1}}}})
    assert sorted(r["id"] for r in off.collect()) == [2, 3]


def test_nested_bool_should_is_scoring_only_beside_must(spark):
    """ES default minimum_should_match inside a NESTED bool mirrors
    the top level: with must/filter present, should clauses score but
    never filter — a parent whose matching element fails every should
    clause still matches (round-6 advice regression)."""
    df = spark.createDataFrame(
        [(1, [("purchase", 10.0)]),
         (2, [("purchase", 2000.0)]),
         (3, [("click", 2000.0)])],
        "id long, items array<struct<event_type string, value double>>")
    q = {"nested": {"path": "items", "query": {"bool": {
        "must": [{"term": {"items.event_type": "purchase"}}],
        "should": [{"range": {"items.value": {"gte": 1000.0}}}]}}}}
    got = sorted(r["id"] for r in esdsl.search(df, {"query": q}).collect())
    assert got == [1, 2]
    # should standing alone still filters (msm defaults to 1)
    q2 = {"nested": {"path": "items", "query": {"bool": {
        "should": [{"range": {"items.value": {"gte": 1000.0}}}]}}}}
    got2 = sorted(r["id"] for r in esdsl.search(df, {"query": q2}).collect())
    assert got2 == [2, 3]
    # explicit minimum_should_match=2 (k-of-m) inside the element
    q3 = {"nested": {"path": "items", "query": {"bool": {
        "should": [{"range": {"items.value": {"gte": 1000.0}}},
                   {"term": {"items.event_type": "purchase"}}],
        "minimum_should_match": 2}}}}
    got3 = sorted(r["id"] for r in esdsl.search(df, {"query": q3}).collect())
    assert got3 == [2]


def test_nested_term_backslash_value(spark):
    """_sql_lit must double backslashes: a term value containing (or
    ending in) a backslash must produce a valid, exact predicate
    inside the exists() lambda (round-6 advice regression)."""
    df = spark.createDataFrame(
        [(1, [("a\\b",)]), (2, [("a\\\\b",)]), (3, [("c\\",)])],
        "id long, items array<struct<tag string>>")
    q = {"nested": {"path": "items",
                    "query": {"term": {"items.tag": "a\\b"}}}}
    assert [r["id"] for r in esdsl.search(df, {"query": q}).collect()] == [1]
    q2 = {"nested": {"path": "items",
                     "query": {"term": {"items.tag": "c\\"}}}}
    assert [r["id"] for r in esdsl.search(df, {"query": q2}).collect()] == [3]


def test_decode_stats_and_resize_null_payload(spark):
    """Null payloads are in-contract: decode_image_stats emits a
    null-stats row and resize_images passes the null through instead
    of crashing the Arrow batch (round-6 advice regression)."""
    import numpy as np

    from parquet_generator_spark.operators.multimodal import (
        decode_image_stats,
        encode_bmp,
        resize_images,
    )

    arr = np.full((3, 3, 3), 7, np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(arr))), (2, None)],
        "media_id long, payload binary")
    stats = {r["media_id"]: r for r in decode_image_stats(df).collect()}
    assert stats[1]["width"] == 3 and stats[1]["mean_px"] == 7.0
    assert stats[2]["width"] is None and stats[2]["mean_px"] is None
    out = {r["media_id"]: r["payload"]
           for r in resize_images(df, 2, 2).collect()}
    assert out[1] is not None and out[2] is None


def test_jaccard_pairs_quadratic_guard(spark):
    """The deliberately-O(n^2) exact-Jaccard baseline refuses inputs
    above its documented row bound (so it can't be pointed at a real
    corpus by accident) and still works under it / with the opt-out."""
    df = spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta "),
                 F.col("id").cast("string")).alias("text"))
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        dedup.jaccard_pairs(df, "doc_id", "text", 0.5, max_rows=10)
    under = dedup.jaccard_pairs(df.limit(5), "doc_id", "text", 0.5,
                                max_rows=10)
    forced = dedup.jaccard_pairs(df, "doc_id", "text", 0.5,
                                 max_rows=None)
    assert under.count() >= 0 and forced.count() >= 0


def test_palette_png_decodes_via_plte_lookup():
    """Indexed (color type 3) PNG: the index plane unfilters like a
    1-channel image and maps through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    from parquet_generator_spark.operators.multimodal import (
        _decode_png,
    )

    rng = np.random.default_rng(5)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 9), dtype=np.uint8)
    # filter 0 on every row (index planes rarely benefit from others)
    raw = bytearray()
    for y in range(6):
        raw.append(0)
        raw.extend(idx[y].tobytes())

    def chunk(typ, data):
        body = typ + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 6, 8, 3,
                                        0, 0, 0))
           + chunk(b"PLTE", palette.tobytes())
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    got = _decode_png(png)
    assert got.shape == (6, 9, 3)
    assert np.array_equal(got, palette[idx])


@pytest.mark.parametrize("n_scalar_rows", [0, 1])
def test_broadcast_scalars_matches_duckdb_scalar_subquery(spark,
                                                          n_scalar_rows):
    """broadcast_scalars is an uncorrelated scalar subquery: one row
    attaches its values to every row, and ZERO rows attach NULLs —
    what DuckDB's ``(SELECT ...)`` gives for the same frames."""
    from parquet_generator_spark.operators.util import broadcast_scalars

    rows = [(1, "a"), (2, "b"), (3, None)]
    df = spark.createDataFrame(rows, "k int, s string")
    scalars = (df.filter(F.col("k") <= n_scalar_rows)
               .select((F.col("k") * 10).alias("m"),
                       F.lit("x").alias("tag")))
    got = sorted(tuple(r) for r in broadcast_scalars(df, scalars)
                 .collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(con.execute(f"""
        WITH sc AS (SELECT k * 10 AS m, 'x' AS tag FROM t
                    WHERE k <= {n_scalar_rows})
        SELECT t.*, (SELECT m FROM sc) AS m, (SELECT tag FROM sc) AS tag
        FROM t""").fetchall())
    assert got == want
    assert (got[0][2] is None) == (n_scalar_rows == 0)
