"""The one materialization policy: thresholds, its job-free size
probe, and no environment knob left behind."""

import os
import pathlib

import pytest

import recdb_postgresql_spark
from recdb_postgresql_spark.functions import mat
from tests.conftest import SF_SMALL

THRESHOLDS = [
    (mat.USER_CF, mat.USER_CF_BYTES, "none", "local"),
    (mat.ITEM_CF, mat.ITEM_CF_BYTES, "none", "local"),
    (mat.SHINGLES, mat.SHINGLES_BYTES, "local", "disk"),
]


@pytest.mark.parametrize("kind,threshold,below,above", THRESHOLDS)
def test_policy_each_side_of_threshold(kind, threshold, below, above):
    assert mat.policy(kind, 0) == below
    assert mat.policy(kind, threshold - 1) == below
    assert mat.policy(kind, threshold) == above
    assert mat.policy(kind, 100 * threshold) == above
    # an RDD-backed frame's unknown size keeps the default form
    assert mat.policy(kind, mat.UNKNOWN_BYTES) == below


def test_policy_default_kind_is_always_local():
    for size in (0, mat.SHINGLES_BYTES, mat.ITEM_CF_BYTES,
                 mat.UNKNOWN_BYTES):
        assert mat.policy(mat.DEFAULT, size) == "local"


def test_sf01_inputs_keep_default_forms(spark):
    """The sf0.1 entries' inputs sit below every threshold, so they plan
    exactly as before the policy."""
    from recdb_postgresql_spark.operators import cf, dedup
    from recdb_postgresql_spark.sources import load_table, ratings_from_events

    sf = os.path.join(os.path.dirname(SF_SMALL), "sf0.1")
    ratings = cf.normalize_events(
        ratings_from_events(load_table(spark, sf, "events")),
        "userid", "itemid", "ratingval")
    hashed = dedup.hash_shingles(dedup.word_shingles(
        load_table(spark, sf, "documents")))
    assert mat.policy(mat.USER_CF, mat.size_of(ratings)) == "none"
    assert mat.policy(mat.ITEM_CF, mat.size_of(ratings)) == "none"
    assert mat.policy(mat.SHINGLES, mat.size_of(hashed)) == "local"


def test_size_probe_starts_no_job(spark, tmp_path):
    from recdb_postgresql_spark.operators import cf

    path = str(tmp_path / "ratings.parquet")
    spark.createDataFrame([(u, i, float(u + i)) for u in range(20)
                           for i in range(5)],
                          "userid long, itemid long, val double") \
        .write.parquet(path)
    ratings = cf.normalize_events(spark.read.parquet(path),
                                  "userid", "itemid", "val")
    sc = spark.sparkContext
    group = "mat-size-probe"
    sc.setJobGroup(group, "size probe")
    try:
        size = mat.size_of(ratings)
        form = mat.policy(mat.USER_CF, size)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        ratings.count()  # the group does see a real job
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    on_disk = sum(p.stat().st_size for p in
                  pathlib.Path(path).glob("*.parquet"))
    assert size == on_disk
    assert form == "none"


def test_rdd_backed_frame_reports_unknown_size(spark):
    """The sentinel policy() treats as "size unknown" is what Spark
    reports for an RDD-backed frame."""
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    assert mat.size_of(df) == mat.UNKNOWN_BYTES


def test_package_reads_no_recdb_env_var():
    """Materialization and every other decision is made in code: no
    RECDB_* environment variable changes what the package does."""
    root = pathlib.Path(recdb_postgresql_spark.__file__).parent
    offenders = [str(p.relative_to(root)) for p in root.rglob("*.py")
                 if "RECDB_" in p.read_text()]
    assert offenders == []
