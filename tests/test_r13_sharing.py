"""Shared-frame materialization must be value-identical.

- mat.policy flips the on-the-fly RECOMMEND plan between the lazy
  duplicated-subtree form and the shared materialized form — same
  rows under every form it can pick, and under its own choice (auto).
- materialize() is the storage helper behind it.
- cms_build(weight_col=) drops NULL/non-positive weights so the
  raw == pre-aggregated identity holds on arbitrary inputs.
"""

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.functions import mat
from recdb_postgresql_spark.functions.mat import materialize
from recdb_postgresql_spark.functions.sketch import cms_build

FORMS = ("none", "local", "disk", "auto")
AUTO = mat.policy


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def events(spark):
    data = [(u, (u * 7 + i * 3) % 5, float(50 + (u * i) % 40))
            for u in range(8) for i in range(6)]
    return spark.createDataFrame(data, "userid long, itemid long, val double")


def _forcing(monkeypatch, form):
    """Make every policy() decision return ``form``; "auto" is the
    program's own policy."""
    monkeypatch.setattr(mat, "policy",
                        AUTO if form == "auto" else lambda kind, size: form)


def _same_under_every_form(out):
    assert out["none"] == out["local"] == out["disk"] == out["auto"]
    assert len(out["none"]) > 0


@pytest.mark.parametrize("method", ["itemcoscf", "itempearcf",
                                    "usercoscf", "userpearcf"])
def test_cf_materialize_policy_identical(spark, events, method,
                                         monkeypatch):
    """recommend() rows are identical under every materialization
    form — the policy changes WHERE shared frames are stored, never
    what any leg computes."""
    out = {}
    for form in FORMS:
        _forcing(monkeypatch, form)
        eng = RecEngine(spark, verbose_queries=False)
        df = eng.recommend(events, "userid", "itemid", "val", method,
                           user_where=F.col("userid") < 4, round_to=6)
        out[form] = _rows(df)
    _same_under_every_form(out)


def test_materialize_modes(spark):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert materialize(df, storage="none") is df
    for mode in ("local", "disk"):
        m = materialize(df, storage=mode)
        assert _rows(m) == _rows(df)
    with pytest.raises(ValueError):
        materialize(df, storage="bogus")


def test_cms_build_weight_guard(spark):
    """NULL / zero / negative weights are dropped: the sketch equals
    a raw build over only the positively-weighted keys."""
    counts = spark.createDataFrame(
        [(1, 3), (2, None), (3, 0), (4, -2), (5, 1)],
        "k long, c long")
    pre = cms_build(counts, "k", depth=3, width=8, weight_col="c")
    raw_rows = [(1,), (1,), (1,), (5,)]
    raw = cms_build(spark.createDataFrame(raw_rows, "k long"),
                    "k", depth=3, width=8)
    assert _rows(pre) == _rows(raw)


def test_textrank_toks_share_policy_identical(spark, monkeypatch):
    """textrank_keywords' materialized token-position table (one pass
    instead of 2*window duplicated regexp+posexplode legs) is value-
    neutral under every storage policy, tie-breaks included."""
    from recdb_postgresql_spark.operators.text import textrank_keywords

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta alpha gamma epsilon zeta "
             "beta delta " + ("theta iota " * (i % 3)))
         for i in range(12)],
        "doc_id long, text string")
    out = {}
    for form in FORMS:
        _forcing(monkeypatch, form)
        out[form] = [tuple(r) for r in
                     textrank_keywords(docs, window=2, iterations=4,
                                       k=10).collect()]
    _same_under_every_form(out)


@pytest.mark.parametrize("entry", ["rec_baseline_topk", "rec_popular_topk",
                                   "ann_ivfpq_topk", "rec_item_cooccur"])
def test_entry_mat_policy_identical(spark, entry, monkeypatch):
    """The r13-sweep entries whose shared input frame (normalized
    ratings / unit vectors) is materialized once for their
    driver-collect-serialized consumer legs return identical rows
    under every storage policy."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[entry]
    out = {}
    for form in FORMS:
        _forcing(monkeypatch, form)
        out[form] = sorted(tuple(r) for r in
                           fn(spark, "/root/testdata/sf0.001").collect())
        spark.catalog.clearCache()
    _same_under_every_form(out)
