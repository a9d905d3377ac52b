"""Unit tests for dedup / similarity / text / multimodal / streaming /
engine lifecycle beyond what the oracle parity suite covers."""

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.operators import dedup, multimodal, similarity, text
from recdb_postgresql_spark.streaming import StreamingMaintainer


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (4, "completely different text about spark engines running fast"),
        (5, "!!! ??? ..."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {(r.doc_id, r.canonical_id)
           for r in dedup.exact_duplicates(docs).collect()}
    assert out == {(1, 1), (3, 1)}


def test_minhash_lsh_finds_near_dups(docs):
    sh = dedup.word_shingles(docs)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = {(r.id1, r.id2)
             for r in dedup.lsh_candidate_pairs(sig, bands=4, rows_per_band=2).collect()}
    assert (1, 3) in pairs          # identical -> all bands collide
    assert (1, 2) in pairs or (2, 3) in pairs  # near-dup likely caught


def test_jaccard_exact_dup_is_one(docs):
    sh = dedup.word_shingles(docs)
    j = {(r.id1, r.id2): r.jaccard
         for r in dedup.jaccard_pairs(sh, threshold=0.2).collect()}
    assert j[(1, 3)] == pytest.approx(1.0)
    assert 0.2 <= j[(1, 2)] < 1.0


def test_simhash_similar_docs_close(docs):
    h = {r.id: r.simhash for r in dedup.simhash(docs, bits=32).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(h[1], h[3]) == 0                 # identical text
    assert hamming(h[1], h[2]) < hamming(h[1], h[4])  # near-dup closer


def test_connected_components_topology(spark):
    # chain 1-2-3-4 and separate clique 10-11-12
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id1 long, id2 long")
    cc = {r.id: r.component
          for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_brute_force_topk_self_excluded(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.limit(1).select(F.col("vec_id").alias("qid"),
                             F.col("embedding").alias("qvec"))
    out = similarity.brute_force_topk(emb, qs, k=2).collect()
    assert all(r.vec_id != r.qid for r in out)
    assert len(out) == 2


def test_ivf_assign_nearest(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [0.1, 0.9])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.first_k_centroids(emb, k=2)
    cells = {r.vec_id: r.cell for r in similarity.ivf_assign(emb, cents).collect()}
    assert cells[2] == 0 and cells[3] == 1


def test_text_quality_ranges(docs):
    q = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[1] > q[5]  # real sentence beats punctuation soup


def test_lang_id_markers(spark):
    rows = [(1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, "xyzzy plugh")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in text.lang_id(d).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_multimodal_features_deterministic(spark):
    media = multimodal.synthetic_media(spark, n=12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in feats)
    again = multimodal.extract_features(media).collect()
    assert sorted(map(repr, feats)) == sorted(map(repr, again))


def test_frame_sample_metadata_only(spark):
    media = multimodal.synthetic_media(spark, n=12)
    frames = multimodal.frame_sample(media, every_ms=1000)
    rows = frames.collect()
    assert all(r.ts_ms % 1000 == 0 for r in rows)
    # payload column must not appear in the scan (column pruning check)
    assert "payload" not in frames.columns


def test_streaming_maintenance_threshold(spark):
    rows = [(u, i, float(u + i)) for u in range(1, 5) for i in range(1, 5)]
    events = spark.createDataFrame(rows, "userid long, itemid long, ratingval double")
    eng = RecEngine(spark, update_threshold=0.5)
    eng.create_recommender("s1", events, "userid", "itemid", "ratingval", "itemcoscf")
    maint = StreamingMaintainer(eng, "s1", events, "userid", "itemid", "ratingval")
    # 16 base events; threshold = 8 new events triggers retrain
    small = spark.createDataFrame([(9, 1, 5.0)], "userid long, itemid long, ratingval double")
    maint.on_batch(small)
    assert eng.catalog.get("s1").update_counter == 1
    big = spark.createDataFrame([(9, i, 1.0) for i in range(2, 10)],
                                "userid long, itemid long, ratingval double")
    maint.on_batch(big)
    info = eng.catalog.get("s1")
    assert info.update_counter == 0          # retrained + reset
    assert info.event_total == 16 + 9
    eng.drop_recommender("s1")


def test_catalog_workdir_roundtrip(spark, tmp_path):
    rows = [(1, 10, 4.0), (2, 10, 3.0), (1, 20, 5.0), (2, 20, 2.0)]
    events = spark.createDataFrame(rows, "userid long, itemid long, ratingval double")
    eng = RecEngine(spark, workdir=str(tmp_path))
    eng.create_recommender("p1", events, "userid", "itemid", "ratingval", "itemcoscf")
    # a fresh engine over the same workdir sees the persisted model
    eng2 = RecEngine(spark, workdir=str(tmp_path))
    out = eng2.recommend(events, "userid", "itemid", "ratingval", name="p1",
                         user_where=F.col("userid") == 1, k=2, round_to=6)
    assert out.count() == 2


def test_catalog_manifest_survives_crash_mid_dump(spark, tmp_path,
                                                  monkeypatch):
    """A crash inside the manifest dump leaves the previous catalog
    loadable and serving the same rows."""
    import json

    from recdb_postgresql_spark import catalog as catalog_mod

    rows = [(1, 10, 4.0), (2, 10, 3.0), (1, 20, 5.0), (2, 20, 2.0),
            (3, 30, 1.0)]
    events = spark.createDataFrame(rows, "userid long, itemid long, ratingval double")
    eng = RecEngine(spark, workdir=str(tmp_path))
    eng.create_recommender("p1", events, "userid", "itemid", "ratingval", "itemcoscf")

    def serve(engine):
        return sorted(tuple(r) for r in engine.recommend(
            events, "userid", "itemid", "ratingval", name="p1",
            round_to=6).collect())

    before = serve(RecEngine(spark, workdir=str(tmp_path)))

    def crash(obj, f, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(catalog_mod.json, "dump", crash)
    with pytest.raises(OSError):
        eng.create_recommender("p2", events, "userid", "itemid",
                               "ratingval", "usercoscf")
    monkeypatch.undo()
    survivor = RecEngine(spark, workdir=str(tmp_path))
    assert survivor.catalog.get("p1") is not None
    assert survivor.catalog.get("p2") is None
    assert serve(survivor) == before
    assert len(before) > 0


def test_ivf_multiprobe_improves_recall(spark):
    """nprobe is the IVF recall knob: top-k hits vs brute force must
    not decrease with nprobe=2, and multi-probe candidates strictly
    widen the search."""
    from recdb_postgresql_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    cents = similarity.first_k_centroids(emb, k=8)
    truth = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(emb, qs, k=10).collect()}
    one = {(r.qid, r.vec_id)
           for r in similarity.ivf_topk(emb, qs, cents, k=10).collect()}
    two = {(r.qid, r.vec_id)
           for r in similarity.ivf_topk(emb, qs, cents, k=10,
                                        nprobe=2).collect()}
    assert len(two & truth) >= len(one & truth)
    assert len(two) >= len(one)


def test_neardup_multiassign_superset(spark):
    """n_assign=2 pairs are a superset of single-assignment pairs and
    a subset of the exact all-pairs result (same scores where found)."""
    from recdb_postgresql_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.first_k_centroids(emb, k=16)
    exact = {(r.id1, r.id2) for r in dedup.embedding_near_duplicates(
        emb, threshold=0.30).collect()}
    one = {(r.id1, r.id2) for r in dedup.embedding_near_duplicates_ivf(
        emb, cents, threshold=0.30).collect()}
    two = {(r.id1, r.id2) for r in dedup.embedding_near_duplicates_ivf(
        emb, cents, threshold=0.30, n_assign=2).collect()}
    assert one <= two <= exact
    assert len(two) > len(one)      # the knob actually buys recall here


def test_redact_pii(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org or call 555-123-4567"),
        (2, "ssn 123-45-6789 twice 123-45-6789"),
        (3, "nothing sensitive here 12345"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.redact_pii(d).collect()}
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert "[EMAIL]" in out[1].clean_text and "[PHONE]" in out[1].clean_text
    assert "@" not in out[1].clean_text
    assert out[2].n_ssn == 2 and out[2].clean_text == "ssn [SSN] twice [SSN]"
    assert out[3].clean_text == rows[2][1]      # untouched text survives
    assert (out[3].n_email, out[3].n_ssn, out[3].n_phone) == (0, 0, 0)


def test_repetition_stats_flags_looping_text(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),          # one gram repeated
        (2, "every word here is used exactly once"),   # no repeats
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_stats(d, n=2).collect()}
    assert out[1].dup_ngram_ratio > 0.7 and out[1].top_ngram_ratio == 1.0
    assert out[2].dup_ngram_ratio == 0.0
    assert out[2].top_ngram_ratio == round(1 / out[2].n_ngrams, 6)


def test_chunk_documents_reconstructs(docs):
    """Chunking is lossless on the token stream: concatenating a doc's
    chunks in order reproduces its whitespace-normalized text, and the
    chunk token counts sum to the doc's token count."""
    out = text.chunk_documents(docs, chunk_tokens=4).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for r in docs.collect():
        chunks = by_doc[r.doc_id]
        assert " ".join(c.chunk_text for c in chunks) == \
            " ".join(r.text.strip().split())
        toks = len(r.text.strip().split())
        assert sum(c.n_tokens for c in chunks) == toks
        assert all(c.n_tokens == 4 for c in chunks[:-1])  # only tail short


def test_hash_sample_composes_and_is_deterministic(spark):
    """Hash sampling commutes with union/repartition and is stable
    across calls — the properties df.sample lacks."""
    from pyspark.sql import functions as SF

    from recdb_postgresql_spark.functions import sampling

    df = spark.range(0, 2000).select(SF.col("id").alias("doc_id"))
    a = df.where(SF.col("doc_id") < 1000)
    b = df.where(SF.col("doc_id") >= 1000)
    whole = {r.doc_id for r in
             sampling.hash_sample(df, SF.col("doc_id"), 0.3).collect()}
    parts = {r.doc_id for r in
             sampling.hash_sample(a, SF.col("doc_id"), 0.3).collect()} | \
            {r.doc_id for r in
             sampling.hash_sample(b, SF.col("doc_id"), 0.3).collect()}
    again = {r.doc_id for r in
             sampling.hash_sample(df.repartition(7), SF.col("doc_id"),
                                  0.3).collect()}
    assert whole == parts == again
    assert 0.2 < len(whole) / 2000 < 0.4          # ~fraction sized


def test_group_cap_bounds_and_determinism(spark):
    from pyspark.sql import functions as SF

    from recdb_postgresql_spark.functions import sampling

    df = spark.range(0, 500).select(
        SF.col("id").alias("doc_id"), (SF.col("id") % 3).alias("grp"))
    out1 = sampling.group_cap(df, "grp", SF.col("doc_id"), 20)
    out2 = sampling.group_cap(df.repartition(5), "grp", SF.col("doc_id"), 20)
    counts = {r.grp: r.n for r in
              out1.groupBy("grp").agg(SF.count(SF.lit(1)).alias("n")).collect()}
    assert all(n == 20 for n in counts.values())
    assert {r.doc_id for r in out1.collect()} == \
        {r.doc_id for r in out2.collect()}


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing's defining property: two documents sharing a
    substring of >= k+w-1 words (here 6) MUST share a fingerprint;
    disjoint texts share none."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta shared tail one"),
        (2, "totally different prefix alpha beta gamma delta epsilon zeta"),
        (3, "nothing in common with the others at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in text.winnow_fingerprints(docs, k=3, w=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2]          # 6-word shared run -> shared fp
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_sq8_quantized_topk_high_recall(spark):
    """int8 quantization distorts cosine by <~1%: top-10 overlap with
    float brute force stays high, and qvec components are in range."""
    from recdb_postgresql_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    truth = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(emb, qs, k=10).collect()}
    got = {(r.qid, r.vec_id)
           for r in similarity.sq8_topk(emb, qs, k=10).collect()}
    assert len(got & truth) >= 45, len(got & truth)  # >=90% overlap
    qz = similarity.sq8_quantize(emb)
    stats = qz.select(
        F.max(F.array_max("qvec")).alias("mx"),
        F.min(F.array_min("qvec")).alias("mn"),
        # every non-zero vector quantizes its max-|x| component to +/-127
        F.min(F.array_max(F.transform("qvec", lambda x: F.abs(x))))
        .alias("peak")).collect()[0]
    assert stats.mx <= 127 and stats.mn >= -127 and stats.peak == 127


def test_lsh_multiprobe_improves_recall(spark):
    """Multi-probe LSH hits vs brute force must not decrease, and the
    probe expansion must widen the candidate set."""
    from recdb_postgresql_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    truth = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(emb, qs, k=10).collect()}
    single = {(r.qid, r.vec_id)
              for r in similarity.lsh_topk(emb, qs, k=10,
                                           multi_probe=False).collect()}
    multi = {(r.qid, r.vec_id)
             for r in similarity.lsh_topk(emb, qs, k=10,
                                          multi_probe=True).collect()}
    assert len(multi & truth) >= len(single & truth)
    assert len(multi) > len(single)


def test_multimodal_resize_plan_and_execute_agree(spark):
    media = multimodal.synthetic_media(spark, n=12)
    plan = {r.media_id: (r.out_width, r.out_height)
            for r in multimodal.resize_plan(media, max_side=40).collect()}
    done = {r.media_id: (r.out_width, r.out_height)
            for r in multimodal.resize_image(media, max_side=40).collect()}
    assert plan and plan == done                  # plan == execution dims
    # aspect ratio preserved within floor rounding; long side <= max
    for r in multimodal.resize_plan(media, max_side=40).collect():
        assert max(r.out_width, r.out_height) <= 40
    # images already small enough keep their dims (scale 1.0)
    small = {r.media_id: r.scale
             for r in multimodal.resize_plan(media, max_side=4096).collect()}
    assert all(s == 1.0 for s in small.values())
    # deterministic fake resize bytes
    p1 = {r.media_id: bytes(r.payload)
          for r in multimodal.resize_image(media, max_side=40).collect()}
    p2 = {r.media_id: bytes(r.payload)
          for r in multimodal.resize_image(media, max_side=40).collect()}
    assert p1 == p2


def test_multimodal_resize_excludes_null_dims(spark):
    """ADVICE r2: rows with missing width/height must be excluded by
    BOTH halves of the resize stage — previously the execution half
    floored NaN to INT_MIN garbage instead of dropping the row."""
    rows = [(1, "image", bytearray(b"x"),
             {"mime": "image/png", "width": 100, "height": 50,
              "duration_ms": None}),
            (2, "image", bytearray(b"y"),
             {"mime": "image/png", "width": None, "height": 50,
              "duration_ms": None}),
            (3, "image", bytearray(b"z"),
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": None})]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    plan_ids = {r.media_id for r in
                multimodal.resize_plan(media, max_side=40).collect()}
    exec_rows = multimodal.resize_image(media, max_side=40).collect()
    assert plan_ids == {1}
    assert {r.media_id for r in exec_rows} == {1}
    assert all(r.out_width > 0 and r.out_height > 0 for r in exec_rows)


def test_hash_seam_xxhash64(docs):
    """The production hash seam (VERDICT r3 #5): the dedup flows accept
    hash_fn=xxhash64_long, and every hash-agnostic output — exact-dup
    groups, true-Jaccard scores, per-doc fingerprint stability — is
    identical to the md5 run (the hash is only a join/bucket key)."""
    from recdb_postgresql_spark.functions.hashing import (md5_long,
                                                          xxhash64_long)

    md5_groups = {(r.doc_id, r.canonical_id)
                  for r in dedup.exact_duplicates(docs).collect()}
    xx_groups = {(r.doc_id, r.canonical_id)
                 for r in dedup.exact_duplicates(
                     docs, hash_fn=xxhash64_long).collect()}
    assert md5_groups == xx_groups == {(1, 1), (3, 1)}

    sh = dedup.word_shingles(docs)
    md5_j = {(r.id1, r.id2): round(r.jaccard, 9)
             for r in dedup.jaccard_pairs(
                 None, 0.3, hashed=dedup.hash_shingles(sh)).collect()}
    xx_j = {(r.id1, r.id2): round(r.jaccard, 9)
            for r in dedup.jaccard_pairs(
                None, 0.3,
                hashed=dedup.hash_shingles(sh, xxhash64_long)).collect()}
    assert md5_j == xx_j and md5_j

    # the full verified flow runs end-to-end on the production hash and
    # its scores agree with exact Jaccard wherever candidates surface
    xx_ver = {(r.id1, r.id2): round(r.jaccard, 9)
              for r in dedup.lsh_verified_pairs(
                  sh, threshold=0.3, num_hashes=8, bands=4,
                  rows_per_band=2, hash_fn=xxhash64_long).collect()}
    assert set(xx_ver) <= set(xx_j)
    for k, v in xx_ver.items():
        assert xx_j[k] == v

    # simhash on the production hash: exact dups identical, output runs
    xx_sim = {r.id: r.simhash
              for r in dedup.simhash(docs, hash_fn=xxhash64_long).collect()}
    assert xx_sim[1] == xx_sim[3]


def test_kmeans_ivf_trained_path(spark):
    """The production ANN path (VERDICT r3 #6): MLlib-KMeans centroids
    feed the same ivf_topk plan, and on well-separated clusters the
    trained cells recover the exact brute-force top-k (each query's
    true neighbors all live in its own cell)."""
    import random

    rng = random.Random(3)
    axes = ([1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0])
    rows = [(i, [c + rng.uniform(-0.05, 0.05) for c in axes[i % 3]])
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.kmeans_centroids(emb, k=3, max_iter=10)
    assert cents.count() == 3
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    ivf = {(r.qid, r.vec_id)
           for r in similarity.ivf_topk(emb, qs, cents, k=5).collect()}
    brute = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(emb, qs, k=5).collect()}
    assert ivf == brute and len(ivf) == 15


def test_winnow_overlap_stop_fingerprint_cap(spark):
    """max_doc_freq (VERDICT r3 #4): a boilerplate fingerprint shared
    by many docs contributes ZERO pairs once capped, while genuine
    low-frequency overlaps survive untouched."""
    boiler = "all rights reserved contact us for terms of service"
    rows = [(i, f"{boiler} page {i}") for i in range(10)]       # template
    rows += [(100, "alpha beta gamma delta epsilon zeta eta unique one"),
             (101, "prefix alpha beta gamma delta epsilon zeta eta tail")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = text.winnow_fingerprints(docs, k=3, w=4)

    uncapped = {(r.id1, r.id2)
                for r in text.winnow_overlap_pairs(fps, min_shared=1).collect()}
    capped = {(r.id1, r.id2)
              for r in text.winnow_overlap_pairs(
                  fps, min_shared=1, max_doc_freq=5).collect()}
    # the 10-doc template fans out 45 pairs uncapped; all of them die
    assert sum(1 for a, b in uncapped if a < 100 and b < 100) == 45
    assert not any(a < 100 and b < 100 for a, b in capped)
    # the genuine 2-doc overlap survives the cap
    assert (100, 101) in capped and (100, 101) in uncapped
