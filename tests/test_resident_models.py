"""Materialized recommenders stay resident between statements.

The catalog hands out one parquet handle per model table per
generation, and the engine reuses one scored plan per recommender for
argument-free ``recommend(..., name=n)`` calls (the SQL front door's
FilterRecommend). Every invalidation edge below is checked against the
uncached answer: ``recommend(..., name=n)`` from a fresh ``RecEngine``
on the same workdir.
"""

from pyspark.sql import functions as F

from recdb_postgresql_spark.catalog import RecCatalog
from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.sources.event_store import EventStore

COLS = ("userid", "itemid", "ratingval")
SCHEMA = "userid long, itemid long, ratingval double"


def _events(spark, seed: int, users: int = 8):
    rows = [(u, i, float((u * 7 + i * 3 * seed) % 5 + 1))
            for u in range(1, users + 1) for i in range(1, 10)
            if (u * seed + i) % 3]
    return spark.createDataFrame(rows, SCHEMA)


def _filter_sql(view: str, user: int) -> str:
    return (f"SELECT * FROM {view} RECOMMEND itemid TO userid ON ratingval "
            f"USING itemcoscf WHERE userid = {user}")


def _index_sql(view: str, user: int, n: int) -> str:
    return _filter_sql(view, user) + f" ORDER BY ratingval DESC LIMIT {n}"


def _rows(df) -> list[tuple]:
    return sorted((r[0], r[1], round(r[2], 9)) for r in df.collect())


def _uncached(spark, workdir: str, name: str, events, user: int) -> list[tuple]:
    eng = RecEngine(spark, workdir=workdir, verbose_queries=False)
    return _rows(eng.recommend(events, *COLS, name=name)
                 .filter(F.col("userid") == user))


def _front_door(spark, tmp_path, view: str):
    _events(spark, 1).createOrReplaceTempView(view)
    workdir = str(tmp_path / "cat")
    rs = RecSQL(RecEngine(spark, workdir=workdir, verbose_queries=False))
    rs.sql(f"CREATE RECOMMENDER {view}_r ON {view} USERS FROM userid "
           f"ITEMS FROM itemid EVENTS FROM ratingval USING itemcoscf")
    return rs, workdir, f"{view}_r"


def test_warm_statement_reuses_plan_and_handles(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_warm")
    first = _rows(rs.sql(_filter_sql("res_warm", 2)))
    plan = rs.engine._scored[name].out
    info = rs.engine.catalog.get(name)
    handle = rs.engine.catalog.load_models(info, spark)["model"]
    second = _rows(rs.sql(_filter_sql("res_warm", 2)))
    assert rs.last_strategy == "FilterRecommend"
    assert rs.engine._scored[name].out is plan
    assert rs.engine.catalog.load_models(info, spark)["model"] is handle
    assert first == second == _uncached(
        spark, workdir, name, spark.table("res_warm"), 2)


def test_retrain_through_event_store_serves_new_model(spark, tmp_path):
    _events(spark, 1).createOrReplaceTempView("res_retrain")
    store = EventStore(spark, str(tmp_path / "store"))
    store.append(_events(spark, 1))
    workdir = str(tmp_path / "cat")
    eng = RecEngine(spark, workdir=workdir, update_threshold=0.01,
                    verbose_queries=False)
    eng.create_recommender("rr", store.read(), *COLS, "itemcoscf",
                           events_name="res_retrain")
    store.bind_recommender(eng, "rr")
    rs = RecSQL(eng)
    before = _rows(rs.sql(_filter_sql("res_retrain", 3)))
    store.append(_events(spark, 2))  # crosses the threshold: retrain
    assert eng.catalog.get("rr").update_counter == 0
    after = _rows(rs.sql(_filter_sql("res_retrain", 3)))
    assert after == _uncached(spark, workdir, "rr",
                              spark.table("res_retrain"), 3)
    assert after != before


def test_drop_then_create_same_name_serves_new_rows(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_drop")
    before = _rows(rs.sql(_filter_sql("res_drop", 4)))
    rs.sql(f"DROP RECOMMENDER {name}")
    assert name not in rs.engine._scored
    rs.engine.create_recommender(name, _events(spark, 3), *COLS, "itemcoscf",
                                 events_name="res_drop")
    after = _rows(rs.sql(_filter_sql("res_drop", 4)))
    assert rs.last_strategy == "FilterRecommend"
    assert after == _uncached(spark, workdir, name,
                              spark.table("res_drop"), 4)
    assert after != before


def test_rematerialized_view_is_read_by_index_recommend(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_view")
    eng = rs.engine
    ev = spark.table("res_view")
    eng.materialize_predictions(name, ev, k=2)
    first = _rows(rs.sql(_index_sql("res_view", 1, 2)))
    assert rs.last_strategy == "IndexRecommend"
    assert len(first) == 2
    eng.materialize_predictions(name, ev, k=4)
    second = _rows(rs.sql(_index_sql("res_view", 1, 4)))
    assert rs.last_strategy == "IndexRecommend"
    live = eng.recommend(ev, *COLS, name=name,
                         user_where=F.col("userid") == 1, k=4)
    assert second == _rows(live)
    view = eng.recommend_from_view(name, allow_capped=True)
    per_user = view.groupBy("userid").count().agg(F.max("count")).first()[0]
    assert per_user == 4


def test_retrain_by_another_engine_invalidates_handles(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_other")
    before = _rows(rs.sql(_filter_sql("res_other", 5)))
    other = RecEngine(spark, workdir=workdir, update_threshold=0.01,
                      verbose_queries=False)
    new = _events(spark, 4)
    other.record_insert(name, new, new)  # retrains: rewrites the model dir
    after = _rows(rs.sql(_filter_sql("res_other", 5)))
    assert after == _uncached(spark, workdir, name,
                              spark.table("res_other"), 5)
    assert after != before


def test_reregistered_events_view_misses_memo(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_rereg")
    before = _rows(rs.sql(_filter_sql("res_rereg", 6)))
    plan = rs.engine._scored[name].out
    _events(spark, 5).createOrReplaceTempView("res_rereg")
    after = _rows(rs.sql(_filter_sql("res_rereg", 6)))
    assert rs.engine._scored[name].out is not plan
    assert after == _uncached(spark, workdir, name,
                              spark.table("res_rereg"), 6)
    assert after != before


def test_query_counter_bumps_once_per_statement(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_count")
    # miss, hit, then a miss after the events view is re-registered
    for n in (1, 2, 3):
        if n == 3:
            _events(spark, 6).createOrReplaceTempView("res_count")
        rs.sql(_filter_sql("res_count", 1)).collect()
        info = rs.engine.catalog.get(name)
        assert (info.query_counter, info.query_counter2) == (n, n)
        assert RecCatalog(workdir).get(name).query_counter == n


def test_each_strategy_reads_only_its_tables(spark, tmp_path):
    rs, workdir, name = _front_door(spark, tmp_path, "res_paths")
    rs.engine.materialize_predictions(name, spark.table("res_paths"), k=3)
    filt = rs.sql(_filter_sql("res_paths", 1)).inputFiles()
    assert any(f"/{name}/model/" in f for f in filt)
    assert not any(f"/{name}/recview/" in f for f in filt)
    index = rs.sql(_index_sql("res_paths", 1, 3))
    assert rs.last_strategy == "IndexRecommend"
    files = index.inputFiles()
    assert any(f"/{name}/recview/" in f for f in files)
    assert not any(f"/{name}/model/" in f for f in files)


def test_warm_statements_job_budget(spark, tmp_path):
    """Pins the per-statement Spark job count on a warm engine, so a
    schema read per statement cannot come back unnoticed."""
    rs, workdir, name = _front_door(spark, tmp_path, "res_jobs")
    rs.engine.materialize_predictions(name, spark.table("res_jobs"), k=3)
    sc = spark.sparkContext

    def jobs(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # warm both paths once
    rs.sql(_filter_sql("res_jobs", 1)).collect()
    rs.sql(_index_sql("res_jobs", 1, 3)).collect()
    assert jobs("res_jobs_filter", lambda: rs.sql(_filter_sql("res_jobs", 2))) == 0
    assert rs.last_strategy == "FilterRecommend"
    assert jobs("res_jobs_index",
                lambda: rs.sql(_index_sql("res_jobs", 2, 3)).collect()) == 1
    assert rs.last_strategy == "IndexRecommend"


def test_in_memory_rematerialize_does_not_leak_storage(spark):
    eng = RecEngine(spark, verbose_queries=False)
    ev = _events(spark, 7)
    eng.create_recommender("res_leak", ev, *COLS, "itemcoscf")
    sizes = []
    for k in (2, 3):
        eng.materialize_predictions("res_leak", ev, k=k)
        eng.recommend_from_view("res_leak", k=k).collect()  # fills the cache
        sizes.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    eng.drop_recommender("res_leak")
    assert sizes[1] <= sizes[0]
