"""Scale stress: synthetically amplify the sf0.1 tables in-plan
(union with shifted ids — no files written, testdata untouched) and
time the scale-critical operators at ~10-30x equivalents. This is the
'would the plan survive a scale-up' probe battery: exact-vs-bucketed
dedup, brute-vs-IVF ANN, path-graph connected components, CF training,
and the as-of join under a degenerate hot key.

Every probe's numbers are written to STRESS.json next to this file
(probe -> {scale, seconds, rows}) so the asymptotic claims cited in
COVERAGE.md are machine-readable round over round, not prose.

Run: python stress.py [multiplier ...]
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import get_spark
from recdb_postgresql_spark.functions import mat
from recdb_postgresql_spark.operators import cf
from recdb_postgresql_spark.sources.readers import load_table, ratings_from_events

RESULTS: dict[str, dict] = {}


def record(probe: str, **fields) -> None:
    """Accumulate + flush STRESS.json after every probe so a crashed
    run still records everything that finished; merges with what's
    already on disk so a single-probe rerun updates its row without
    clobbering the rest of the battery."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "STRESS.json")
    if not RESULTS and os.path.exists(path):
        with open(path) as f:
            RESULTS.update(json.load(f))
    RESULTS[probe] = {k: (round(v, 2) if isinstance(v, float) else v)
                      for k, v in fields.items()}
    # every row is stamped so a merged file can't silently cite a
    # probe from an older battery/codebase as current
    RESULTS[probe]["recorded_at"] = (
        datetime.datetime.now(datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%MZ"))
    with open(path, "w") as f:
        json.dump(RESULTS, f, indent=1)
    msg = " ".join(f"{k}={v}" for k, v in RESULTS[probe].items())
    print(f"{probe}: {msg}", flush=True)


@contextlib.contextmanager
def forced_policy(form: str):
    """Force every ``mat.policy`` decision to ``form``; ``auto`` keeps
    the program's own size-aware policy (its default)."""
    own = mat.policy
    if form != "auto":
        mat.policy = lambda kind, size: form
    try:
        yield
    finally:
        mat.policy = own


def amplified_ratings(spark, sf_dir: str, mult: int):
    ev = ratings_from_events(load_table(spark, sf_dir, "events"))
    parts = [ev.select((F.col("userid") + F.lit(i * 1_000_000)).alias("userid"),
                       "itemid", "ratingval") for i in range(mult)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return cf.normalize_events(out, "userid", "itemid", "ratingval")


def amplified_docs(spark, sf_dir: str, mult: int):
    """mult copies of the documents table with distinct ids and a
    per-copy suffix token so copies are near- but not exact-duplicates
    of each other (keeps the shingle space growing like real data)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [docs.select(
        (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
        F.concat_ws(" ", "text", F.lit(f"copytag{i}")).alias("text"))
        for i in range(mult)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dedup_probe(spark, sf_dir: str, mult: int,
                scale_only: bool = False) -> None:
    """Exact inverted-index Jaccard vs the LSH-verified flow at
    amplified doc counts: exact grows with co-shingling pairs
    (superlinear), verified with candidates x shingles/doc (linear-ish)
    — the asymptotic proof behind VERDICT r1 fix #1 that sf0.1 alone
    is too small to show. ``scale_only`` (decade battery) times the
    verified path alone — at x100 the exact shadow is hours."""
    from recdb_postgresql_spark.operators import dedup

    docs = amplified_docs(spark, sf_dir, mult)
    sh = dedup.word_shingles(docs)
    if not scale_only:
        t0 = time.perf_counter()
        n_exact = dedup.jaccard_pairs(sh, threshold=0.5).count()
        t_exact = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_ver = dedup.lsh_verified_pairs(sh, threshold=0.5, num_hashes=8,
                                     bands=4, rows_per_band=2).count()
    t_ver = time.perf_counter() - t0
    if scale_only:
        # decade probe: the exact inverted-index shadow is the
        # measured-quadratic baseline (490 s at x30) — at x100 it is
        # hours and proves nothing new; only the scale path is timed
        record(f"dedup_verified_x{mult}", mult=mult,
               lsh_verified_pairs=n_ver, verified_s=t_ver,
               exact_shadow="skipped (quadratic, 490s@x30)")
    else:
        record(f"dedup_exact_vs_verified_x{mult}", mult=mult,
               exact_pairs=n_exact, exact_s=t_exact,
               lsh_verified_pairs=n_ver, verified_s=t_ver,
               speedup_x=t_exact / max(t_ver, 1e-9))


def prefix_probe(spark, sf_dir: str, mult: int,
                 scale_only: bool = False) -> None:
    """EXACT Jaccard: inverted-index baseline vs prefix filtering on a
    BOILERPLATE-heavy corpus — every doc carries the same template
    header (the web-corpus shape: shared nav/footer text) while the
    body is salted per copy so true near-dup pairs stay sparse. The
    template shingles give the plain inverted index quadratic buckets
    (every doc joins every doc); rarest-first prefix ordering puts
    those hot shingles in the SUFFIX, so they never enter the prefix
    self-join. Counts are asserted identical — prefix filtering is an
    exact algorithm, the speedup is free. (The duplicate-heavy copytag
    shape in dedup_probe is the OPPOSITE regime — nearly all
    co-shingling pairs are true pairs, nothing is prunable, and prefix
    filtering's extra stages make it ~0.6x there; measured x8/x16
    2026-08-14. Use LSH when the corpus is dup-dominated, prefix
    filtering when boilerplate-dominated and exactness is required.)"""
    from recdb_postgresql_spark.operators import dedup

    template = ("terms of service privacy policy all rights reserved "
                "copyright navigation home about contact subscribe "
                "newsletter")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = spark.range(mult).select(F.col("id").alias("rep"))
    amp = (docs.crossJoin(rep)
           .select((F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                   F.concat(
                       F.lit(template + " "),
                       F.array_join(
                           F.transform(
                               F.split(F.col("text"), r"\s+"),
                               lambda w: F.concat(
                                   w, F.lit("~"),
                                   F.col("rep").cast("string"))),
                           " ")).alias("text")))
    sh = dedup.word_shingles(amp).localCheckpoint(eager=True)
    if not scale_only:
        t0 = time.perf_counter()
        n_exact = dedup.jaccard_pairs(sh, threshold=0.5).count()
        t_exact = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pref = dedup.prefix_filtered_pairs(sh, threshold=0.5).count()
    t_pref = time.perf_counter() - t0
    if scale_only:
        # decade probe: the plain inverted index is measured-quadratic
        # on boilerplate (39.5 s at x32) — prefix path only
        record(f"dedup_prefix_x{mult}", mult=mult, shape="boilerplate",
               prefix_pairs=n_pref, prefix_s=t_pref,
               exact_shadow="skipped (quadratic, 39.5s@x32)")
        return
    assert n_pref == n_exact, (n_pref, n_exact)
    record(f"dedup_exact_vs_prefix_x{mult}", mult=mult,
           shape="boilerplate", exact_pairs=n_exact, exact_s=t_exact,
           prefix_pairs=n_pref, prefix_s=t_pref,
           speedup_x=t_exact / max(t_pref, 1e-9))


def amplified_embeddings(spark, sf_dir: str, mult: int):
    emb = load_table(spark, sf_dir, "embeddings")
    parts = [emb.select((F.col("vec_id") + F.lit(i * 10_000_000))
                        .alias("vec_id"), "embedding")
             for i in range(mult)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ann_probe(spark, sf_dir: str, mult: int) -> None:
    """Brute-force vs IVF vs multi-probe LSH top-k at amplified vector
    counts: brute force grows O(n) per query (all-pairs scored), the
    bucketed paths grow with candidates-per-bucket only — the
    'would the ANN survive 100x vectors' probe."""
    from recdb_postgresql_spark.operators import similarity

    emb = amplified_embeddings(spark, sf_dir, mult).localCheckpoint()
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = {"mult": mult}
    t0 = time.perf_counter()
    out["brute_rows"] = similarity.brute_force_topk(emb, qs, k=10).count()
    out["brute_s"] = time.perf_counter() - t0
    cents = similarity.first_k_centroids(emb, k=16)
    t0 = time.perf_counter()
    out["ivf_np2_rows"] = similarity.ivf_topk(emb, qs, cents, k=10,
                                              nprobe=2).count()
    out["ivf_np2_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    out["lsh_mp_rows"] = similarity.lsh_topk(emb, qs, k=10).count()
    out["lsh_mp_s"] = time.perf_counter() - t0
    record(f"ann_brute_vs_bucketed_x{mult}", **out)


def cc_probe(spark, n_chain: int) -> None:
    """Star connected components on a PATH graph of n nodes — the
    worst case (diameter = n) where label propagation needs n shuffle
    rounds and a boilerplate-chained 100 TB corpus would stall; the
    alternating large-star/small-star path must finish in O(log n)
    rounds regardless."""
    from recdb_postgresql_spark.operators import dedup

    pairs = (spark.range(n_chain - 1)
             .select(F.col("id").alias("id1"),
                     (F.col("id") + 1).alias("id2")))
    t0 = time.perf_counter()
    n_comp = (dedup.connected_components_star(pairs)
              .select("component").distinct().count())
    t = time.perf_counter() - t0
    assert n_comp == 1, f"path graph must collapse to 1 component, got {n_comp}"
    record("star_cc_path_graph", chain=n_chain, components=n_comp,
           star_cc_s=t)


def asof_hotkey_probe(spark, n_right: int = 16_000_000,
                      n_left: int = 3_200_000,
                      time_bucket: int = 250_000) -> None:
    """VERDICT r5 Missing #4: one key owning ~ALL rows. The flat
    union+window shape must sort that key's entire history in ONE task
    (windows never split a partition key the way AQE splits skewed
    joins), so wall-clock is single-core no matter how many executors
    exist; the two-pass bucketed variant caps the per-task sort at one
    time bucket and parallelizes across buckets. Both answers are
    asserted identical (row count + sum of matched values — the full
    bit-parity lives in tests/test_temporal.py; here the point is the
    timing gap at a size where it shows). On local[32] the measured
    gap understates the cluster reality: the flat path's OTHER stages
    still parallelize here, so wall-clock ratio ~1.5x at 16M rows —
    but the flat window's one-task share grows linearly with hot-key
    size while the bucketed variant's stays flat, and on a 1000-core
    cluster the ratio approaches the core count."""
    from recdb_postgresql_spark.operators import temporal

    # every row on key 0 — the degenerate null-ish-default-id shape
    right = spark.range(n_right).select(
        F.lit(0).alias("k"), (F.col("id") * 2).alias("ts"),
        (F.col("id") % 997).cast("long").alias("val"),
        F.col("id").alias("rid")).localCheckpoint()
    left = spark.range(n_left).select(
        F.lit(0).alias("k"), (F.col("id") * 10 + 1).alias("ts")) \
        .localCheckpoint()

    def _probe(df, reps=2):
        """min-over-reps, same convention as bench.py — single runs at
        this size swing +/-30% with JIT/GC state."""
        best, ans = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            agg = df.agg(F.count("*").alias("n"),
                         F.sum("val").alias("s")).collect()[0]
            t = time.perf_counter() - t0
            best = t if best is None else min(best, t)
            ans = (int(agg["n"]), int(agg["s"]))
        return ans, best

    flat, t_flat = _probe(temporal.asof_join(left, right, "k",
                                             right_tiebreak="rid"))
    bucketed, t_bucketed = _probe(temporal.asof_join_bucketed(
        left, right, "k", time_bucket=time_bucket, right_tiebreak="rid"))
    assert flat == bucketed, f"parity broke: {flat} != {bucketed}"
    record("asof_hotkey", right_rows=n_right, left_rows=n_left,
           hot_keys=1, time_bucket=time_bucket,
           flat_s=t_flat, bucketed_s=t_bucketed,
           speedup_x=t_flat / max(t_bucketed, 1e-9),
           rows=flat[0], checksum=flat[1])


def funnel_hotkey_probe(spark, n_events: int = 8_000_000) -> None:
    """One user owning ALL events: the sorted-array fold collects that
    user's whole filtered history into one task (collect_list +
    array_sort, single-core, memory = history); the multipass variant
    is N map-side-combined min aggregates + AQE-splittable joins.
    Both answers asserted identical. Same caveat as asof_hotkey: on
    local[32] the gap understates a cluster, where the fold's one task
    IS the wall-clock."""
    from recdb_postgresql_spark.operators import funnel

    steps = ["a", "b", "c", "d"]
    ev = spark.range(n_events).select(
        F.lit(0).alias("user_id"),
        F.element_at(F.array(*[F.lit(s) for s in steps]),
                     (F.col("id") % 4 + 1).cast("int")).alias("event_type"),
        (F.col("id") * 3).alias("ts"),
        F.col("id").alias("event_id")).localCheckpoint()

    def _probe(df, reps=2):
        best, ans = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = sorted(tuple(r) for r in df.collect())
            t = time.perf_counter() - t0
            best = t if best is None else min(best, t)
            ans = rows
        return ans, best

    fold, t_fold = _probe(funnel.funnel_user_depth(ev, steps))
    multi, t_multi = _probe(funnel.funnel_user_depth_multipass(ev, steps))
    assert fold == multi, f"parity broke: {fold} != {multi}"
    record("funnel_hotkey", events=n_events, hot_keys=1,
           fold_s=t_fold, multipass_s=t_multi,
           speedup_x=t_fold / max(t_multi, 1e-9),
           depth=fold[0][-1])


def theilsen_grouped_probe(spark, n_groups: int = 64,
                           n_per: int = 128) -> None:
    """Grouped Theil-Sen pair blowup is Σ_g n_g², and one fat group is
    the AQE-invisible CPU-heavy stage (per-group join output is
    byte-proportional, so AQE never splits it). Two measurements:
    (a) balanced layout vs (b) same TOTAL rows with one group holding
    half of them — pair count (b)/(a) is ~(n_groups/4)x, and runtime
    should track pairs, not rows. Then confirm the r9 guard trips when
    a single group crosses the 2^22-pair budget instead of silently
    burning a core for minutes."""
    from recdb_postgresql_spark.operators.regression import \
        theil_sen_grouped

    def series(sizes):
        rows = [(g, float(x), 2.0 * x + (x % 7))
                for g, m in enumerate(sizes) for x in range(m)]
        return spark.createDataFrame(rows, "g int, x double, y double") \
            .repartition(32).localCheckpoint()

    total = n_groups * n_per
    flat = series([n_per] * n_groups)
    theil_sen_grouped(series([16] * 8), ["g"], "x", "y").count()  # warm
    t0 = time.perf_counter()
    n_flat = theil_sen_grouped(flat, ["g"], "x", "y").count()
    t_flat = time.perf_counter() - t0
    fat_n = 2048                    # 2^22 pairs — at the guard edge
    skew = series([fat_n] + [max(2, (total - fat_n) // (n_groups - 1))]
                  * (n_groups - 1))
    t0 = time.perf_counter()
    n_skew = theil_sen_grouped(skew, ["g"], "x", "y").count()
    t_skew = time.perf_counter() - t0
    over = series([3000])
    guard = False
    try:
        theil_sen_grouped(over, ["g"], "x", "y").count()
    except ValueError:
        guard = True
    record("theilsen_grouped_fatgroup", rows=total, n_groups=n_groups,
           pairs_flat=n_groups * n_per * (n_per - 1) // 2,
           pairs_skew=fat_n * (fat_n - 1) // 2, s_flat=t_flat,
           groups_flat=n_flat, s_skew=t_skew, groups_skew=n_skew,
           guard_trips_past_budget=guard)


def main():
    if sys.argv[1:2] == ["cfshare"]:
        # on-the-fly CF sharing crossover rows (merge into STRESS.json)
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        for mult in [int(x) for x in sys.argv[2:]] or [16, 64]:
            cf_share_probe(spark, "/root/testdata/sf0.1", mult)
        return
    if sys.argv[1:2] == ["matpolicy"]:
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        mult = int(sys.argv[2]) if sys.argv[2:] else 64
        matpolicy_probe(spark, "/root/testdata/sf0.1", mult)
        return
    if sys.argv[1:2] == ["matpolicy2"]:
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        mult = int(sys.argv[2]) if sys.argv[2:] else 64
        matpolicy2_probe(spark, "/root/testdata/sf0.1", mult)
        return
    if sys.argv[1:2] == ["graphdecade"]:
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        graph_iter_decade_probe(spark, 64)
        return
    if sys.argv[1:2] == ["cpuscale"]:
        # run twice: SPARK_GRAFT_CPUS=8 / =32 (rows keyed by cpus)
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        mult = int(sys.argv[2]) if sys.argv[2:] else 16
        cpuscale_probe(spark, "/root/testdata/sf0.1", mult)
        return
    if sys.argv[1:2] == ["decade"]:
        # x100 flagship-family battery (r10 verdict next #5): MERGES
        # into the existing STRESS.json (the x10/x30 rows are the
        # slope's other points — wiping them would orphan the decade)
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
        spark = get_spark("recdb_stress")
        spark.sparkContext.setLogLevel("ERROR")
        decade_battery(spark)
        return
    mults = [int(x) for x in sys.argv[1:]] or [10, 30]
    # a full battery starts a FRESH record — the merge in record() is
    # only for ad-hoc single-probe reruns on top of a complete battery,
    # never for rows from abandoned multipliers or older code to
    # survive a fresh run
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "STRESS.json")
    if os.path.exists(path):
        os.remove(path)
    # the hot-key probes DELIBERATELY materialize one key's whole
    # history in single tasks (that is the thing being measured); give
    # the battery more heap than the library default so the probe
    # measures the algorithm, not GC death (128 GiB machine)
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("recdb_stress")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.1"
    cc_probe(spark, 100_000)
    asof_hotkey_probe(spark)
    funnel_hotkey_probe(spark)
    graph_probe(spark)
    editjoin_probe(spark, sf_dir, mult=4)
    shortstring_residue_probe(spark)
    theilsen_grouped_probe(spark)
    lcs_probe(spark, sf_dir, mult=8)
    merge_probe(spark, sf_dir, mult=10)
    label_prop_probe(spark)
    unigram_probe(spark, sf_dir)
    hits_sssp_probe(spark)
    keyness_probe(spark, sf_dir)
    pq_probe(spark, sf_dir, mult=10)
    jw_kernel_probe(spark)
    dbscan_probe(spark)
    bootstrap_probe(spark, sf_dir)
    covisit_probe(spark, sf_dir)
    covisit_fatuser_probe(spark)
    recview_tail_probe(spark, sf_dir)
    for mult in mults:
        dedup_probe(spark, sf_dir, mult)
    # probe flat-ish vs corpus (batch-driven), from-scratch linear in
    # corpus: 2.1x at x16 and widening (x4 is overhead-dominated)
    for mult in (8, 16):
        lsh_index_probe(spark, sf_dir, mult)
    # prefix probe runs on sf0.01 — the boilerplate shape makes the
    # exact baseline quadratic in N (90s at sf0.01 x32 already)
    for mult in (16, 32):
        prefix_probe(spark, "/root/testdata/sf0.01", mult)
    for mult in mults:
        ann_probe(spark, sf_dir, mult)
    for mult in mults:
        cf_probe(spark, sf_dir, mult)


def cf_probe(spark, sf_dir: str, mult: int) -> None:
    """Item-cos + capped user-cos training at amplified user counts
    (users grow with mult, items fixed — co-rater counts per item grow
    linearly, exactly the axis that breaks uncapped user-CF). The
    amplified frame is localCheckpoint'ed: train_user_cos consumes its
    input 3x (norms + both pair-join sides) and without the pin each
    consumer re-executes the mult-way union + normalize shuffle — at
    x100 that lineage re-execution dominated (385 s) and measured the
    data GENERATOR, not the operator (a real pipeline reads ratings
    from a table)."""
    r = amplified_ratings(spark, sf_dir, mult).localCheckpoint()
    n = r.count()
    t0 = time.perf_counter()
    n_model = cf.train_item_cos(r).count()
    t_item = time.perf_counter() - t0
    # exact user-CF is quadratic in raters-per-item (infeasible past
    # ~2000 raters/item); the capped variant is the scale lever.
    t0 = time.perf_counter()
    n_user = cf.train_user_cos(r, max_coraters=500).count()
    t_user = time.perf_counter() - t0
    record(f"cf_training_x{mult}", mult=mult, ratings=n,
           item_model_pairs=n_model, item_train_s=t_item,
           capped_user_pairs=n_user, user_train_capped_s=t_user)


def cf_share_probe(spark, sf_dir: str, mult: int, reps: int = 3) -> None:
    """On-the-fly RECOMMEND sharing crossover: the plan consumes the
    normalized ratings 8-21x; on small inputs the duplicated stages
    overlap on idle cores and every materialization barrier LOSES,
    but that overlap argument dies once one copy of the build
    saturates the cores. This probe times the lazy arm (``none``),
    the shared arm (``local``) and the program's size-aware default
    (``auto``) on the identical amplified corpus (users grow with
    mult, pinned to a real parquet table first — a pipeline reads a
    table, and the lazy arm must re-scan a table, not re-run the
    generator), interleaved so machine weather hits every arm
    equally. ``*_spread_s`` is max - min over the reps."""
    from recdb_postgresql_spark.engine import RecEngine

    path = os.path.join(tempfile.gettempdir(),
                        f"cf_share_events_x{mult}.parquet")
    amplified_ratings(spark, sf_dir, mult).write.mode(
        "overwrite").parquet(path)
    ev = spark.read.parquet(path)  # (user, item, rating)
    n = ev.count()
    size = mat.size_of(cf.normalize_events(ev, "user", "item", "rating"))
    eng = RecEngine(spark, verbose_queries=False)
    arms = ("none", "local", "auto")
    methods = {"itemcos": ("itemcoscf", mat.ITEM_CF),
               "usercos": ("usercoscf", mat.USER_CF)}
    out = {m: {a: [] for a in arms} for m in methods}
    for _ in range(reps):
        for m, (method, _kind) in methods.items():
            for arm in arms:
                with forced_policy(arm):
                    t0 = time.perf_counter()
                    eng.recommend(ev, "user", "item", "rating", method,
                                  user_where=F.col("user") < 20, k=50,
                                  round_to=6).count()
                    out[m][arm].append(time.perf_counter() - t0)
    row = dict(mult=mult, ratings=n, source_bytes=size, reps=reps,
               cpus=spark.sparkContext.defaultParallelism)
    for m, (_method, kind) in methods.items():
        best = {a: min(ts) for a, ts in out[m].items()}
        row[f"{m}_auto_form"] = mat.policy(kind, size)
        for a in arms:
            row[f"{m}_{a}_s"] = best[a]
            row[f"{m}_{a}_spread_s"] = max(out[m][a]) - best[a]
        row[f"{m}_mat_speedup_x"] = round(best["none"] / best["local"], 2)
        row[f"{m}_auto_vs_best_x"] = round(best["auto"] / min(best.values()),
                                           2)
    record(f"cf_share_x{mult}", **row)


def graph_iter_decade_probe(spark, mult: int = 64,
                            base_edges: int = 200_000) -> None:
    """r12 verdict next #6: extend the graph decade beyond pagerank —
    label propagation (4 rounds) and modularity over the SAME
    disjoint-replica pseudo-random graph as pagerank_decade_probe, so
    the checkpoint-per-round / checkpoint-before-consumers patterns
    have slope evidence on a second and third operator."""
    from recdb_postgresql_spark.operators import graph

    n_nodes = base_edges // 4
    for m in (1, mult):
        e = (spark.range(base_edges * m).select(
                (F.col("id") % base_edges).alias("i"),
                (F.floor(F.col("id") / base_edges)
                 * 10_000_000).alias("off"))
             .select(
                (F.pmod(F.xxhash64("i", F.lit(1)), F.lit(n_nodes))
                 + F.col("off")).alias("id1"),
                (F.pmod(F.xxhash64("i", F.lit(2)), F.lit(n_nodes))
                 + F.col("off")).alias("id2"))
             .localCheckpoint())
        n_e = e.count()
        t0 = time.perf_counter()
        lp = graph.label_propagation(e, rounds=4)
        n_comm = lp.select("community").distinct().count()
        t_lp = time.perf_counter() - t0
        t0 = time.perf_counter()
        q = graph.modularity(e, lp).collect()[0]["modularity"]
        t_mod = time.perf_counter() - t0
        record(f"graph_iter_x{m}", mult=m, edges=n_e,
               lp_rounds=4, lp_communities=n_comm, lp_seconds=t_lp,
               lp_us_per_edge_round=t_lp / (n_e * 4) * 1e6,
               modularity=float(q), mod_seconds=t_mod)


def matpolicy_probe(spark, sf_dir: str, mult: int = 64,
                    reps: int = 2) -> None:
    """r12 verdict next #3: the corpus-scale shared frames (the
    (id,sh) shingle-hash table, the (doc,term,tf) table) now route
    through materialize(); this measures localCheckpoint vs
    persist(DISK_ONLY) head-to-head at the x``mult`` decade on one
    dedup and one tfidf entry shape, interleaved with the program's
    size-aware default (``auto``), so each mat.policy threshold is
    evidence-based."""
    from recdb_postgresql_spark.operators import dedup, text

    docs = amplified_docs(spark, sf_dir, mult).localCheckpoint()
    n_docs = docs.count()
    arms = ("local", "disk", "auto")
    out = {a: {"dedup": [], "tfidf": []} for a in arms}
    for _ in range(reps):
        for arm in arms:
            with forced_policy(arm):
                sh = dedup.word_shingles(docs)
                t0 = time.perf_counter()
                dedup.lsh_verified_pairs(sh, threshold=0.5).count()
                out[arm]["dedup"].append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                text.tfidf_top_terms(docs, k=5).count()
                out[arm]["tfidf"].append(time.perf_counter() - t0)
    record(f"mat_policy_x{mult}", mult=mult, docs=n_docs,
           **{f"{shape}_{arm}_s": min(out[arm][shape])
              for shape in ("dedup", "tfidf") for arm in arms})


def matpolicy2_probe(spark, sf_dir: str, mult: int = 64,
                     reps: int = 2) -> None:
    """r13 carried item: per-site local-vs-disk A/B for the remaining
    corpus-scale materialize() sites — the IVF near-dup pair join
    (assign + normalized-vector frames, operators/dedup.py) and kmv's
    distinct (type,user) self-join (events_kmv_overlap shape) — at
    the x``mult`` decade, interleaved. Centroid count scales with
    ``mult`` (first_k is deterministic: the amplified frame's lowest
    vec_ids are the distinct base vectors) so cell sizes stay at the
    sf0.1 level and the probe times the assign-and-store shape, not
    an artificially quadratic within-cell join that replication would
    otherwise create (every replica shares its base's cell)."""
    from recdb_postgresql_spark.operators import dedup, similarity

    emb = amplified_embeddings(spark, sf_dir, mult).localCheckpoint()
    n_emb = emb.count()
    cents = similarity.first_k_centroids(emb, k=16 * mult) \
        .localCheckpoint()
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("event_type", "user_id"))
    parts = [ev.select("event_type",
                       (F.col("user_id") + F.lit(i * 1_000_000))
                       .alias("user_id")) for i in range(mult)]
    evx = parts[0]
    for p in parts[1:]:
        evx = evx.unionByName(p)
    evx = evx.localCheckpoint()
    n_ev = evx.count()

    def kmv_exact():
        du = mat.materialize(evx.select(F.col("event_type").alias("g"),
                                        F.col("user_id").alias("u"))
                             .distinct())
        sizes = du.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        inter = (du.alias("a").join(du.alias("b"),
                                    (F.col("a.u") == F.col("b.u"))
                                    & (F.col("a.g") < F.col("b.g")))
                 .groupBy(F.col("a.g").alias("grp1"),
                          F.col("b.g").alias("grp2"))
                 .agg(F.count(F.lit(1)).alias("i")))
        return (inter.join(sizes.withColumnRenamed("g", "grp1")
                           .withColumnRenamed("n", "n1"), "grp1")
                .join(sizes.withColumnRenamed("g", "grp2")
                      .withColumnRenamed("n", "n2"), "grp2"))

    arms = ("local", "disk", "auto")
    out = {a: {"ivf": [], "kmv": []} for a in arms}
    for _ in range(reps):
        for arm in arms:
            with forced_policy(arm):
                t0 = time.perf_counter()
                dedup.embedding_near_duplicates_ivf(
                    emb, cents, threshold=0.95).count()
                out[arm]["ivf"].append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                kmv_exact().count()
                out[arm]["kmv"].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    record(f"mat_policy2_x{mult}", mult=mult, vectors=n_emb, events=n_ev,
           **{f"{shape}_{arm}_s": min(out[arm][shape])
              for shape in ("ivf", "kmv") for arm in arms})


def cpuscale_probe(spark, sf_dir: str, mult: int = 16) -> None:
    """r12 verdict next #5: a measured CPU-scaling point. The sf0.1
    bench is overhead-bound (8-core total ~= 32-core total), so the
    parallelism claim needs amplified inputs where compute dominates:
    one dedup (LSH verify over mult x docs) and one CF (item-cos
    train over mult x ratings) probe, each timed at THIS session's
    core count. Run twice — SPARK_GRAFT_CPUS=8 and =32 — and compare
    the recorded rows (keyed by core count)."""
    from recdb_postgresql_spark.operators import dedup

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs = amplified_docs(spark, sf_dir, mult).localCheckpoint()
    n_docs = docs.count()
    sh = dedup.word_shingles(docs)
    t0 = time.perf_counter()
    n_pairs = dedup.lsh_verified_pairs(sh, threshold=0.5).count()
    t_dedup = time.perf_counter() - t0
    # CF leg: capped user-cos — the genuinely compute-bound CF shape
    # (pair fan-out ~12M value multiplications at x16; item-cos at
    # this multiplier is a 5 s many-small-stage job whose wall is
    # scheduling, not CPU, and cannot show core scaling)
    r = amplified_ratings(spark, sf_dir, mult).localCheckpoint()
    n_r = r.count()
    t0 = time.perf_counter()
    n_model = cf.train_user_cos(r, max_coraters=500).count()
    t_cf = time.perf_counter() - t0
    record(f"cpu_scaling_x{mult}_c{cpus}", mult=mult, cpus=cpus,
           docs=n_docs, dedup_pairs=n_pairs, dedup_s=t_dedup,
           ratings=n_r, usercos_pairs=n_model, usercos_capped_s=t_cf)


def decade_battery(spark, sf_dir: str = "/root/testdata/sf0.1") -> None:
    """r10 verdict next #5: one more measured decade for the five
    flagship families — x100 against the x10/x30 battery rows (x64
    for the LSH-index probe whose prior points are x8/x16). Each runs
    its SCALE PATH only; the quadratic shadows already have measured
    baselines at x16-x32 and would add hours, not information. Slopes
    land in SCALING.md next to the x30 rows. Invoke:
    ``python stress.py decade``.

    Partition-sizing protocol (measured, both ways): a GLOBAL bump to
    256 shuffle partitions made the output-bound probes WORSE (dedup
    x100 703->1188 s, lsh probe 7.7->16.4 s — per-task overhead on
    modest shuffles) while helping only the x64 index BUILD's ~400M-row
    minhash shuffle (330->236 s, spill relief). So sizing is per-stage
    — cluster_conf's 200MB rule applied to each stage's volume, which
    is what build_partitions does below — never a blanket setting."""
    lsh_index_probe(spark, sf_dir, 64, build_partitions=256)
    ann_probe(spark, sf_dir, 100)
    cf_probe(spark, sf_dir, 100)
    dedup_probe(spark, sf_dir, 100, scale_only=True)
    prefix_probe(spark, "/root/testdata/sf0.01", 100, scale_only=True)
    pagerank_decade_probe(spark, 64)


def pagerank_decade_probe(spark, mult: int = 64,
                          base_edges: int = 200_000) -> None:
    """The graph family's measured decade (r11 verdict next #5): the
    checkpoint-per-round iteration pattern (pagerank, 10 fixed
    rounds) at x1 vs x``mult`` edges. The edge sets are DISJOINT
    replicas of one pseudo-random base graph (node ids offset per
    replica), so degree structure and per-node work are identical
    across scales and the true total is exactly mult x base — any
    superlinear residue is the iteration pattern's own (per-round
    checkpoint materialization + shuffle), the failure mode the LSH
    decade caught in its build path. x1 is scheduler-overhead-bound
    (~20 tiny jobs), so the wall ratio is expected far BELOW mult;
    the assert only fails on genuinely superlinear growth."""
    from recdb_postgresql_spark.operators import graph

    n_nodes = base_edges // 4
    times = {}
    for m in (1, mult):
        e = (spark.range(base_edges * m).select(
                (F.col("id") % base_edges).alias("i"),
                (F.floor(F.col("id") / base_edges)
                 * 10_000_000).alias("off"))
             .select(
                (F.pmod(F.xxhash64("i", F.lit(1)), F.lit(n_nodes))
                 + F.col("off")).alias("id1"),
                (F.pmod(F.xxhash64("i", F.lit(2)), F.lit(n_nodes))
                 + F.col("off")).alias("id2"))
             .localCheckpoint())
        n_e = e.count()
        t0 = time.perf_counter()
        pr = graph.pagerank(e, damping=0.85, iterations=10)
        total, n_nodes_out = pr.agg(F.sum("rank"),
                                    F.count(F.lit(1))).collect()[0]
        t = time.perf_counter() - t0
        # mass conservation: ranks sum to 1 regardless of components,
        # up to the operator's 6dp output quantization (±5e-7/node)
        assert abs(total - 1.0) < 5e-7 * n_nodes_out + 1e-9, total
        times[m] = (t, n_e)
        record(f"pagerank_x{m}", mult=m, edges=n_e, nodes=n_nodes_out,
               rounds=10, seconds=t,
               us_per_edge_round=t / (n_e * 10) * 1e6)
    t1, _ = times[1]
    tm, _ = times[mult]
    assert tm <= t1 * mult * 1.5, times


def label_prop_probe(spark, n_cliques: int = 2000,
                     clique_size: int = 30) -> None:
    """Label propagation at community scale: 2000 planted 30-cliques
    (60k nodes, ~870k edges), 4 synchronous rounds. Correctness
    asserted (every clique converges to its min id — exactly n_cliques
    communities); the timed cost is the designed shape: 4x (one
    source-keyed join + one (dst,label) aggregate + one argmax window)
    over the static checkpointed edge list."""
    from recdb_postgresql_spark.operators import graph

    nodes = spark.range(n_cliques * clique_size).select(
        F.col("id"), (F.col("id") / clique_size).cast("long").alias("c"))
    a = nodes.select(F.col("id").alias("id1"), F.col("c").alias("c1"))
    b = nodes.select(F.col("id").alias("id2"), F.col("c").alias("c2"))
    edges = (a.join(b, (F.col("c1") == F.col("c2"))
                    & (F.col("id1") < F.col("id2")))
             .select("id1", "id2").localCheckpoint())
    n_edges = edges.count()
    t0 = time.perf_counter()
    out = graph.label_propagation(edges, rounds=4)
    n_comm = out.select("community").distinct().count()
    t = time.perf_counter() - t0
    assert n_comm == n_cliques, (n_comm, n_cliques)
    record("label_prop_cliques", nodes=n_cliques * clique_size,
           edges=n_edges, rounds=4, communities=n_comm, seconds=t)


def unigram_probe(spark, sf_dir: str) -> None:
    """The unigram trainer's scale contract, measured: EM cost is a
    function of the DISTINCT-WORD table, not the corpus — training on
    8x the rows (amplified near-copies) must cost about the same as
    1x after the single groupBy(word) pass. Encode stays distributed
    (Arrow Viterbi map), so it scales with rows as expected."""
    from recdb_postgresql_spark.operators import text as text_ops

    times = {}
    for mult in (1, 8):
        docs = amplified_docs(spark, sf_dir, mult).localCheckpoint()
        n = docs.count()
        t0 = time.perf_counter()
        pieces = text_ops.unigram_train(docs, vocab_size=80, em_iters=3)
        t_train = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_enc = text_ops.unigram_encode(docs, pieces).count()
        t_enc = time.perf_counter() - t0
        assert n_enc == n
        times[mult] = (t_train, t_enc)
        record(f"unigram_x{mult}", mult=mult, docs=n,
               pieces=len(pieces), train_s=t_train, encode_s=t_enc)
    # train time must NOT scale with the corpus (allow 2x for the
    # bigger groupBy + the handful of copytag words)
    assert times[8][0] < max(2.0 * times[1][0], times[1][0] + 2.0), times


def lsh_index_probe(spark, sf_dir: str, mult: int,
                    build_partitions: int | None = None) -> None:
    """The persisted LSH index's amortized claim, measured: with an
    indexed corpus of mult x base size, probing a FIXED small batch
    costs ~the batch (band join + candidate verify against bucketed
    tables), while the no-index alternative — a full lsh_verified_pairs
    pass over corpus+batch — re-pays the whole corpus every ingest.
    Both paths must agree on the cross (batch x corpus) match set."""
    from recdb_postgresql_spark.operators import dedup

    # amplification must NOT multiply the batch's match set (matches
    # would grow with mult and hide the probe's flatness): extra copies
    # get token-REVERSED text (+ per-copy tag), whose 3-shingles are
    # disjoint from the originals' — corpus grows, cross matches don't
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev = base.select(
        "doc_id",
        F.array_join(F.reverse(F.split(F.lower(F.trim("text")), r"\s+")),
                     " ").alias("text"))
    parts = [base] + [
        rev.select((F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                   F.concat_ws(" ", "text", F.lit(f"revtag{i}")).alias("text"))
        for i in range(1, mult)]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    corpus = corpus.localCheckpoint()
    # batch ids must clear EVERY corpus copy's offset (mult copies at
    # +i*10M reach 630M at x64 — a 500M threshold misclassified them
    # as batch docs and the cross filter exploded; found at x64)
    BATCH_OFF = 10_000_000_000
    batch = (base.where(F.col("doc_id") % 4 == 0)
             .select((F.col("doc_id") + BATCH_OFF).alias("doc_id"), "text")
             .localCheckpoint())
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for pre in ("file://", "file:"):
        if wh.startswith(pre):
            wh = wh[len(pre):]
            break
    for suf in ("_bands", "_sh"):
        spark.sql(f"DROP TABLE IF EXISTS stress_lsh{suf}")
        # a crashed prior run leaves the data dir without a metastore
        # row; saveAsTable then fails LOCATION_ALREADY_EXISTS
        shutil.rmtree(os.path.join(wh, "stress_lsh" + suf),
                      ignore_errors=True)
    # the build's minhash explode is the probe's one huge shuffle
    # (corpus shingles x num_hashes); size it by the 200MB rule and
    # restore the session default for the probe/from-scratch legs
    # (measured: a blanket bump slows the output-bound legs down)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if build_partitions:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(build_partitions))
        t0 = time.perf_counter()
        dedup.write_lsh_index(corpus, "stress_lsh")
        t_build = time.perf_counter() - t0
    finally:
        # ALWAYS restore: a throw here (e.g. a stale
        # LOCATION_ALREADY_EXISTS) must not leak build_partitions into
        # every later decade probe (ADVICE r11)
        if build_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    t0 = time.perf_counter()
    n_idx = dedup.neardup_against_index(batch, spark, "stress_lsh").count()
    t_probe = time.perf_counter() - t0
    t0 = time.perf_counter()
    pairs = dedup.lsh_verified_pairs(
        dedup.word_shingles(corpus.unionByName(batch)), threshold=0.5)
    n_scratch = pairs.where(
        (F.col("id1") >= BATCH_OFF) != (F.col("id2") >= BATCH_OFF)).count()
    t_scratch = time.perf_counter() - t0
    assert n_idx == n_scratch, (n_idx, n_scratch)
    record(f"lsh_index_probe_x{mult}", mult=mult,
           corpus_rows=corpus.count(), batch_rows=batch.count(),
           cross_matches=n_idx, index_build_s=t_build, probe_s=t_probe,
           from_scratch_s=t_scratch,
           speedup_x=t_scratch / max(t_probe, 1e-9))
    for suf in ("_bands", "_sh"):
        spark.sql(f"DROP TABLE stress_lsh{suf}")


def editjoin_probe(spark, sf_dir: str, mult: int = 4) -> None:
    """Exact edit-distance join: deletion-neighborhood vs gram-prefix
    strategy on the id-like name corpus (the gram filter's documented
    worst case — every q-gram is common). Replicas get distinct
    DOUBLE-letter tags so cross-replica distances are >= 2 (> d) and
    the true pair set scales exactly linearly; the probe then measures
    each strategy's candidate behavior at the same output. The prefix
    strategy runs at x1 only — its candidate set is already ~10M there
    (vs ~0.5M for deletion) and grows quadratically in bucket size."""
    from recdb_postgresql_spark.operators.linkage import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    parts = []
    for i in range(mult):
        tag = chr(65 + i) * 2
        parts.append(cust.select(
            (F.col("c_custkey") + i * 1_000_000).alias("id"),
            F.concat(F.lit(tag), F.col("c_name")).alias("name")))
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big = big.localCheckpoint()
    n = big.count()
    t0 = time.perf_counter()
    n_del = edit_distance_join(big, "id", "name", max_dist=1,
                               strategy="deletion").count()
    t_del = time.perf_counter() - t0
    one = parts[0].localCheckpoint()
    t0 = time.perf_counter()
    n_pref = edit_distance_join(one, "id", "name", max_dist=1,
                                strategy="prefix").count()
    t_pref = time.perf_counter() - t0
    record(f"editjoin_x{mult}", names=n, pairs_deletion=n_del,
           deletion_s=t_del, prefix_x1_pairs=n_pref,
           prefix_x1_s=t_pref)


def shortstring_residue_probe(spark, n: int = 18_000) -> None:
    """Prefix-strategy edit join on a corpus that is ~ALL residue
    (every string has <= q*d distinct 2-grams): n DISTINCT 2-3 char
    tokens (injective base-26 enumeration — distinctness matters:
    duplicate strings would make the TRUE pair set itself quadratic
    and hide the plan's behavior). Each short string has a bounded
    edit-distance-1 neighborhood, so true pairs grow ~linearly in n;
    the old cross-join residue verified n²/2 pairs regardless (162M
    at n=18k). The deletion-routed residue (r8 fix) generates
    candidates via the variant equi-join, so runtime tracks the true
    match volume — recorded at n/4 and n to show the slope the cross
    join could never have."""
    from recdb_postgresql_spark.operators.linkage import edit_distance_join

    def corpus(m):
        two = F.concat(F.chr(F.lit(97) + (F.col("id") % 26)),
                       F.chr(F.lit(97) + (F.expr("id div 26") % 26)))
        rest = F.col("id") - 676
        three = F.concat(F.chr(F.lit(97) + (rest % 26)),
                         F.chr(F.lit(97) + (F.expr("(id - 676) div 26")
                                            % 26)),
                         F.chr(F.lit(97) + (F.expr("(id - 676) div 676")
                                            % 26)))
        return spark.range(m).select(
            F.col("id"),
            F.when(F.col("id") < 676, two).otherwise(three)
            .alias("name")).localCheckpoint()

    small = corpus(n // 4)
    t0 = time.perf_counter()
    p_small = edit_distance_join(small, "id", "name", max_dist=1,
                                 strategy="prefix").count()
    t_small = time.perf_counter() - t0
    big = corpus(n)
    t0 = time.perf_counter()
    p_big = edit_distance_join(big, "id", "name", max_dist=1,
                               strategy="prefix").count()
    t_big = time.perf_counter() - t0
    record("shortstring_residue", n_small=n // 4, s_small=t_small,
           pairs_small=p_small, n_big=n, s_big=t_big, pairs_big=p_big,
           old_crossjoin_pairs=n * (n - 1) // 2)


def lcs_probe(spark, sf_dir: str, mult: int = 8) -> None:
    """Exact LCS span dedup at amplified duplication: amplified_docs
    makes every document a near-dup of its mult-1 siblings (whole-body
    shared spans — TRUE output grows C(mult,2) per doc group, the
    worst honest case for span discovery). Records seconds for span
    discovery and the applied strip at two mults, plus the df-cut
    approximation (`strip_common_spans`) on the same corpus for the
    cost-of-exactness comparison."""
    from recdb_postgresql_spark.operators import text as t

    for m in (max(2, mult // 4), mult):
        docs = amplified_docs(spark, sf_dir, m).localCheckpoint()
        t0 = time.perf_counter()
        n_spans = t.common_span_pairs(docs, k=5, min_span=6).count()
        t_spans = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_strip = t.strip_duplicate_spans(docs, k=5, min_span=6) \
            .where(F.col("n_removed") > 0).count()
        t_strip = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_df = t.strip_common_spans(docs, n=3, max_doc_freq=50) \
            .where(F.col("n_removed") > 0).count()
        t_df = time.perf_counter() - t0
        record(f"lcs_spans_x{m}", mult=m, spans=n_spans,
               spans_s=t_spans, stripped_docs=n_strip, strip_s=t_strip,
               dfcut_stripped_docs=n_df, dfcut_s=t_df)


def merge_probe(spark, sf_dir: str, mult: int = 10) -> None:
    """MERGE upsert at amplified scale: ~1M-row target, 10% CDC batch
    (half updates, quarter tombstones, quarter inserts) — one
    key-shuffle join + codegen CASE; the probe pins that the merged
    count algebra holds exactly at scale."""
    from recdb_postgresql_spark.operators.dml import merge_into

    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", "value")
    parts = [ev.select((F.col("event_id") + i * 10_000_000)
                       .alias("event_id"), "event_type", "value")
             for i in range(mult)]
    tgt = parts[0]
    for p in parts[1:]:
        tgt = tgt.unionByName(p)
    tgt = tgt.localCheckpoint()
    n = tgt.count()
    upd = (tgt.where(F.col("event_id") % 10 == 1)
           .select("event_id", F.lit("upd").alias("event_type"),
                   "value", F.lit(False).alias("is_del")))
    dele = (tgt.where(F.col("event_id") % 20 == 2)
            .select("event_id", "event_type", "value",
                    F.lit(True).alias("is_del")))
    ins = (tgt.where(F.col("event_id") % 20 == 3)
           .select((F.col("event_id") + 900_000_000).alias("event_id"),
                   F.lit("ins").alias("event_type"), "value",
                   F.lit(False).alias("is_del")))
    src = upd.unionByName(dele).unionByName(ins).localCheckpoint()
    n_del = dele.count()
    n_ins = ins.count()
    t0 = time.perf_counter()
    n_merged = merge_into(tgt, src, ["event_id"],
                          delete_col="is_del").count()
    t = time.perf_counter() - t0
    assert n_merged == n - n_del + n_ins, (n_merged, n, n_del, n_ins)
    record(f"merge_x{mult}", target_rows=n, cdc_rows=src.count(),
           merged_rows=n_merged, merge_s=t)


def pq_probe(spark, sf_dir: str, mult: int = 10) -> None:
    """PQ at amplified vector scale: encode is one linear Arrow pass;
    ADC top-k touches m code-bytes per vector where brute force reads
    d floats — the memory-traffic ratio the method exists for. Both
    paths score the SAME amplified corpus and the planted verbatim
    duplicate of the query must surface at rank 1 through ADC."""
    from recdb_postgresql_spark.operators import similarity

    emb = amplified_embeddings(spark, sf_dir, mult)
    unit = (similarity.unit_normalize(emb)
            .withColumnRenamed("unit", "uv").localCheckpoint())
    n = unit.count()
    books = similarity.pq_train(unit, m=8, k=64, vec_col="uv",
                                sample=4096, iters=5)
    t0 = time.perf_counter()
    codes = similarity.pq_encode(unit, books, vec_col="uv") \
        .localCheckpoint()
    codes.count()
    t_enc = time.perf_counter() - t0
    q = unit.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("uv").alias("qvec"))
    t0 = time.perf_counter()
    top = similarity.pq_topk(codes, books, q, k=10).collect()
    t_adc = time.perf_counter() - t0
    t0 = time.perf_counter()
    similarity.brute_force_topk(unit, q, k=10, vec_col="uv").count()
    t_brute = time.perf_counter() - t0
    # the amplified copies of vec 0 are verbatim dups -> ADC rank 1
    # must be one of them (identical codes, maximal ADC self-score)
    best = min(top, key=lambda r: r.rank)
    assert best.vec_id % 10_000_000 == 0, best
    record(f"pq_x{mult}", vectors=n, encode_s=t_enc, adc_topk_s=t_adc,
           brute_topk_s=t_brute)


def graph_probe(spark, n_leaves: int = 50_000, n_planted: int = 200) -> None:
    """Triangle counting under extreme skew: a star hub with 50k
    leaves (degree 50k) plus planted triangles. Naive wedge
    enumeration generates C(50k, 2) ~ 1.2B wedges AT THE HUB; the
    degree orientation points every leaf edge INTO the hub (leaves
    have lower degree), so the hub generates ZERO wedges and the probe
    finishes in seconds. Planted-count correctness asserted."""
    from recdb_postgresql_spark.operators import graph

    star = spark.range(1, n_leaves + 1).select(
        F.lit(0).alias("id1"), F.col("id").alias("id2"))
    # planted triangles on fresh node triples, disjoint from the star
    base = 10_000_000
    tri = spark.range(n_planted).select(F.col("id").alias("t"))
    planted = (tri.select((base + F.col("t") * 3).alias("id1"),
                          (base + F.col("t") * 3 + 1).alias("id2"))
               .unionByName(tri.select(
                   (base + F.col("t") * 3 + 1).alias("id1"),
                   (base + F.col("t") * 3 + 2).alias("id2")))
               .unionByName(tri.select(
                   (base + F.col("t") * 3 + 2).alias("id1"),
                   (base + F.col("t") * 3).alias("id2"))))
    edges = star.unionByName(planted).localCheckpoint()
    t0 = time.perf_counter()
    out = graph.triangle_count(edges)
    total = out.agg(F.sum("n_triangles")).collect()[0][0]
    t = time.perf_counter() - t0
    assert total == 3 * n_planted, (total, n_planted)
    record("triangle_star_skew", hub_degree=n_leaves,
           planted_triangles=n_planted, node_triangle_rows=total,
           oriented_s=t)



def hits_sssp_probe(spark, n_hubs: int = 20, n_auth: int = 2000,
                    n_noise: int = 500_000) -> None:
    """HITS + weighted SSSP at amplified edge scale: a planted
    hub/authority core (every hub endorses every authority plus one
    super-authority) buried under 500k arithmetic noise edges over a
    disjoint id range. Per-round cost is ONE edge join + aggregates —
    the probe measures that the 6-round fixed iteration stays
    edge-linear and that the planted structure survives the noise
    (super-authority at rank 1). SSSP relaxes the same noise graph
    plus a planted shortcut; correctness = the cheap 3-hop detour
    beats the expensive direct edge."""
    from recdb_postgresql_spark.operators import graph

    hubs = spark.range(n_hubs).select(F.col("id").alias("id1"))
    auth = spark.range(1000, 1000 + n_auth).select(
        F.col("id").alias("id2"))
    core = hubs.crossJoin(auth)
    # the super-authority is endorsed by every hub AND by the first
    # 1000 authorities — strictly more (and better-sourced) in-edges
    # than any planted peer, so it must surface at rank 1
    supers = hubs.select("id1", F.lit(999_999).alias("id2")).unionByName(
        spark.range(1000, 2000).select(F.col("id").alias("id1"),
                                       F.lit(999_999).alias("id2")))
    # endpoints from two INDEPENDENT hash mixes (linear congruential
    # pairs collapse into a functional path — every node gets exactly
    # one successor); xxhash64 keeps branching ~Poisson(n_noise/1e5)
    noise = spark.range(n_noise).select(
        (F.pmod(F.xxhash64(F.col("id")), F.lit(100_000)) + 10_000)
        .alias("id1"),
        (F.pmod(F.xxhash64(F.col("id") + n_noise), F.lit(100_000))
         + 10_000).alias("id2"))
    edges = core.unionByName(supers).unionByName(noise).localCheckpoint()
    n_edges = edges.count()
    t0 = time.perf_counter()
    out = graph.hits(edges, iterations=6)
    top_auth = out.orderBy(F.desc("authority"), "id").first()
    t_hits = time.perf_counter() - t0
    assert top_auth["id"] == 999_999, top_auth
    # SSSP over the noise graph + a planted shortcut pair
    w_edges = (noise.withColumn("w", F.lit(1.0))
               .unionByName(spark.createDataFrame(
                   [(1, 5, 100.0), (1, 2, 1.0), (2, 3, 1.0),
                    (3, 5, 1.0)], ["id1", "id2", "w"])))
    # two sources: node 1 pins the shortcut assertion; node 10_000
    # sits INSIDE the noise graph so the frontier actually grows
    # round over round (the edge-join cost being measured)
    src = spark.createDataFrame([(1,), (10_000,)], ["id"])
    t0 = time.perf_counter()
    dist = graph.sssp(w_edges, src, rounds=6)
    d5 = dist.where(F.col("id") == 5).first()["dist"]
    n_reached = dist.count()
    t_sssp = time.perf_counter() - t0
    assert d5 == 3.0, d5
    record("hits_sssp_noise", edges=n_edges, hits6_s=t_hits,
           sssp6_s=t_sssp, sssp_reached=n_reached)


def keyness_probe(spark, sf_dir: str, mult: int = 8) -> None:
    """Keyness at amplified corpus scale (x1 vs x{mult}): the token
    aggregate is the scan; the term-total join is VOCAB-sized, so the
    amplified run must scale with the corpus, not the pair count —
    amplified copies multiply counts, not vocabulary."""
    from recdb_postgresql_spark.operators import text as text_ops

    base = amplified_docs(spark, sf_dir, 1).withColumn(
        "source", (F.col("doc_id") % 20).cast("string"))
    amp = amplified_docs(spark, sf_dir, mult).withColumn(
        "source", (F.col("doc_id") % 20).cast("string"))
    t0 = time.perf_counter()
    n1 = text_ops.keyness(base, group_col="source").count()
    t1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    n2 = text_ops.keyness(amp, group_col="source").count()
    t2 = time.perf_counter() - t0
    record(f"keyness_x{mult}", rows_x1=n1, rows_amp=n2,
           x1_s=t1, amp_s=t2, slope=t2 / max(t1, 1e-9))


def jw_kernel_probe(spark, n: int = 4_000_000, mult: int = 4) -> None:
    """Jaro-Winkler rerank throughput: n and mult*n synthetic
    candidate pairs (24-char md5-hex strings — representative length,
    no shared prefix shortcut) through jaro_winkler_pairs' C kernel,
    plus the pure-Python reference's measured ns/pair on a driver
    sample. Claims measured: (1) effective ns/pair at the big scale
    (cluster-wide; a 1M-pair batch is SCHEDULING-bound — the kernel
    stopped being the bottleneck), (2) the native path's ~100x over
    the Python reference is what turns million-pair rerank into a
    sub-second stage."""
    from recdb_postgresql_spark.functions.layout import spread_small
    from recdb_postgresql_spark.operators.linkage import (
        _jaro_winkler_py, jaro_winkler_pairs)

    def pairs(m):
        return spread_small(spark.range(m).select(
            F.md5(F.col("id").cast("string")).substr(1, 24).alias("a"),
            F.md5((F.col("id") + 1).cast("string")).substr(1, 24)
             .alias("b")))

    small = pairs(n).localCheckpoint()
    # warm the pandas-UDF workers + kernel .so cache out of the timing
    jaro_winkler_pairs(pairs(10_000), "a", "b").agg(F.sum("jw")).collect()
    t0 = time.perf_counter()
    jaro_winkler_pairs(small, "a", "b").agg(F.sum("jw")).collect()
    t_small = time.perf_counter() - t0
    big = pairs(n * mult).localCheckpoint()
    t0 = time.perf_counter()
    jaro_winkler_pairs(big, "a", "b").agg(F.sum("jw")).collect()
    t_big = time.perf_counter() - t0
    # single-core python reference on a 20k driver sample
    import hashlib
    sample = [(hashlib.md5(str(i).encode()).hexdigest()[:24],
               hashlib.md5(str(i + 1).encode()).hexdigest()[:24])
              for i in range(20_000)]
    t0 = time.perf_counter()
    for x, y in sample:
        _jaro_winkler_py(x, y)
    py_ns = (time.perf_counter() - t0) / len(sample) * 1e9
    record("jw_kernel", n_small=n, s_small=t_small,
           n_big=n * mult, s_big=t_big, slope=t_big / t_small,
           eff_ns_per_pair_big=t_big / (n * mult) * 1e9,
           py_ns_per_pair=py_ns)


def dbscan_probe(spark, n: int = 100_000, mult: int = 4) -> None:
    """Grid-DBSCAN at n and mult*n uniform points with eps chosen to
    hold the DENSITY KNOB constant (expected ~3 eps-neighbors per
    point at both scales): pair volume and runtime should grow
    ~linearly with n because per-cell density — hence per-task pair
    work — is pinned by eps. This is the claim SCALING.md makes for
    the eps knob; a fixed eps at 4x points would instead grow pair
    volume ~16x (density²)."""
    import math

    from recdb_postgresql_spark.operators.geo import grid_dbscan

    side = 100_000.0

    def pts(m):
        return spark.range(m).select(
            F.col("id").alias("pid"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 10_000_000)
             / 100.0).alias("x"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(2)), 10_000_000)
             / 100.0).alias("y")).localCheckpoint()

    def run(m):
        eps = math.sqrt(3.0 / (math.pi * (m / side ** 2)))
        df = pts(m)
        t0 = time.perf_counter()
        out = grid_dbscan(df, eps=eps, min_pts=3)
        roles = {r["role"]: r["n"] for r in
                 out.groupBy("role").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
        return time.perf_counter() - t0, roles

    s_small, r_small = run(n)
    s_big, r_big = run(n * mult)
    record("dbscan_density", n_small=n, s_small=s_small,
           core_small=r_small.get("core", 0),
           n_big=n * mult, s_big=s_big,
           core_big=r_big.get("core", 0),
           slope=s_big / s_small)


def bootstrap_probe(spark, sf_dir: str, b_small: int = 50,
                    b_big: int = 200) -> None:
    """Poisson bootstrap cost model: wall time should scale ~linearly
    in n_boot (the map side does B x the scan's CPU; the shuffle is
    groups x B rows and never matters) — B is the budget knob
    SCALING.md documents. Claim measured: slope(t_big/t_small) ~
    b_big/b_small, not super-linear."""
    from recdb_postgresql_spark.operators.stats import poisson_bootstrap_ci

    ev = load_table(spark, sf_dir, "events").localCheckpoint()
    # warm
    poisson_bootstrap_ci(ev, "event_type", "value", "event_id",
                         n_boot=10).collect()
    t0 = time.perf_counter()
    poisson_bootstrap_ci(ev, "event_type", "value", "event_id",
                         n_boot=b_small).collect()
    t_small = time.perf_counter() - t0
    t0 = time.perf_counter()
    poisson_bootstrap_ci(ev, "event_type", "value", "event_id",
                         n_boot=b_big).collect()
    t_big = time.perf_counter() - t0
    record("bootstrap_b", b_small=b_small, s_small=t_small,
           b_big=b_big, s_big=t_big, slope=t_big / t_small,
           b_ratio=b_big / b_small)


def recview_tail_probe(spark, sf_dir: str, k: int = 10,
                       mult: int = 4) -> None:
    """tail_length cap (r10 verdict wrong #1): the materialized
    RecView must scale as users*k, not users*items — the dense
    users x items grid is the one engine-surface materialization that
    cannot survive 100 TB. Measured: view rows and wall for the
    capped vs full-grid forms on a mult-amplified user base (users
    grow, items fixed — exactly the axis that blows the dense grid
    up). Done-bar: capped rows == users*k while full-grid rows ==
    users*items. Timing caveat: testdata has only ~100 items, so the
    dense grid is cheap here and the cap's extra window pass shows as
    a small constant (+~40%); the cap pays off in STORED/MATERIALIZED
    size, which is what breaks at real item counts — a 1M-item
    catalog makes the dense grid 100,000x the capped view while the
    window pass stays one sort per user partition."""
    import shutil
    import tempfile

    from recdb_postgresql_spark.engine import RecEngine

    ratings = amplified_ratings(spark, sf_dir, mult)
    events = ratings.select(F.col("user").alias("userid"),
                            F.col("item").alias("itemid"),
                            F.col("rating").alias("ratingval")) \
        .localCheckpoint()
    n_users = events.select("userid").distinct().count()
    n_items = events.select("itemid").distinct().count()
    wd = tempfile.mkdtemp(prefix="recview_probe_")
    try:
        eng = RecEngine(spark, workdir=wd, tail_length=k)
        eng.create_recommender("rvp", events, "userid", "itemid",
                               "ratingval", "itemcoscf")
        t0 = time.perf_counter()
        eng.materialize_predictions("rvp", events)
        t_capped = time.perf_counter() - t0
        capped = eng.catalog.load_models(
            eng.catalog.get("rvp"), spark)["recview"].count()
        t0 = time.perf_counter()
        eng.materialize_predictions("rvp", events, full_grid=True)
        t_full = time.perf_counter() - t0
        full = eng.catalog.load_models(
            eng.catalog.get("rvp"), spark)["recview"].count()
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    record("recview_tail", users=n_users, items=n_items, k=k,
           mult=mult, rows_capped=capped, rows_full=full,
           s_capped=t_capped, s_full=t_full,
           capped_is_users_x_k=(capped == n_users * k),
           full_is_users_x_items=(full == n_users * n_items))


def covisit_probe(spark, sf_dir: str, mult: int = 4) -> None:
    """Co-visitation scale shape: amplify USERS mult-fold (shifted
    ids — per-user activity and window density held constant), so
    pair volume and wall time should grow ~linearly with users; a
    corpus-squared shape would grow mult² (the reason the join is
    keyed on the user, never on time alone)."""
    from recdb_postgresql_spark.operators.cf import covisitation

    r = ratings_from_events(load_table(spark, sf_dir, "events"),
                            with_ts=True).where(
        F.col("userid").isNotNull())

    def amplified(m):
        parts = [r.select((F.col("userid") + F.lit(i * 1_000_000))
                          .alias("userid"), "itemid", "ratingts")
                 for i in range(m)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.localCheckpoint()

    W = 6 * 3600 * 10 ** 9
    small = amplified(1)
    covisitation(small, window_ns=W).count()  # warm
    t0 = time.perf_counter()
    n_small = covisitation(small, window_ns=W).count()
    t_small = time.perf_counter() - t0
    big = amplified(mult)
    t0 = time.perf_counter()
    n_big = covisitation(big, window_ns=W).count()
    t_big = time.perf_counter() - t0
    record("covisit_users", mult=mult, rows_small=n_small,
           s_small=t_small, rows_big=n_big, s_big=t_big,
           slope=t_big / t_small)


def covisit_fatuser_probe(spark, n_users: int = 2000,
                          n_per: int = 50) -> None:
    """Co-visitation's fat-user hazard (VERDICT r9 missing #5): the
    user-keyed pair join is activity² PER USER, and one power user x
    a wide window is a single join task AQE cannot split (same class
    theil_sen_grouped guards against). Three measurements: (a) a
    balanced corpus, (b) same total rows with one user at the 2^11
    guard edge (all events inside one window -> ~2^21 directed
    pairs in ONE task; runtime should track pairs, stay in seconds),
    (c) one user holding 10% of the corpus (10k events) must TRIP
    the guard instead of silently burning a core."""
    from recdb_postgresql_spark.operators.cf import covisitation

    W = 6 * 3600 * 10 ** 9
    STEP = W // 128          # many events per window, bounded density

    def series(sizes):
        rows = [(u, (u * 31 + j * 7) % 1000, j * STEP)
                for u, m in enumerate(sizes) for j in range(m)]
        return (spark.createDataFrame(
            rows, "userid long, itemid long, ratingts long")
            .repartition(32).localCheckpoint())

    total = n_users * n_per
    flat = series([n_per] * n_users)
    covisitation(series([16] * 8), window_ns=W).count()  # warm
    t0 = time.perf_counter()
    n_flat = covisitation(flat, window_ns=W).count()
    t_flat = time.perf_counter() - t0
    fat_n = 2 ** 11              # at the guard edge
    skew = series([fat_n] + [max(2, (total - fat_n) // (n_users - 1))]
                  * (n_users - 1))
    t0 = time.perf_counter()
    n_skew = covisitation(skew, window_ns=W).count()
    t_skew = time.perf_counter() - t0
    over = series([total // 10] + [n_per] * (n_users - 1))
    guard = False
    try:
        covisitation(over, window_ns=W).count()
    except Exception as exc:           # r11: guard rides the join,
        guard = "covisitation" in str(exc)  # fires at action time
    record("covisit_fatuser", rows=total, n_users=n_users,
           s_flat=t_flat, rows_flat=n_flat,
           fat_user_events=fat_n, s_skew=t_skew, rows_skew=n_skew,
           guard_trips_at_10pct_user=guard)


# the __main__ guard lives at the END of the file: main() references
# every probe above, and a mid-file guard made script runs crash with
# NameError on the probes defined after it (r10 battery regression)
if __name__ == "__main__":
    main()
