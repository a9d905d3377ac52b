"""The three benchmark workloads: serve, generate and ingest.

Each is a closed loop with one client thread. A workload builds its
state in ``setup`` (timed as the set-up), yields operations from the
seeded generator, runs one operation in ``run`` (the timed call, which
always delivers the result rows) and checks it in ``check`` (untimed).
``gate`` re-checks a seeded sample of the operations against
independent answers after the loop.
"""

from __future__ import annotations

import itertools
import math
import os
import sys
from contextlib import contextmanager
from typing import Iterator, Optional

import numpy as np
import pandas as pd

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
TABLE = "ml_ratings"
COLS = ("userid", "itemid", "ratingval")
WARMUP_SEED = 1_000_003
WARMUP_STEPS = gen.INGEST_RETRAIN_EVERY // 2


class SinkError(RuntimeError):
    """A timed operation used ``DataFrame.count()`` as its sink."""


@contextmanager
def no_count_sink():
    """Fail the run if benchmark code calls ``DataFrame.count()``
    inside a timed operation: ``count()`` lets Catalyst prune projected
    work, so every timed path must deliver its rows with ``collect()``.
    Calls the program makes itself are its own business and pass."""
    from pyspark.sql import DataFrame

    orig = DataFrame.__dict__["count"]

    def count(self, *args, **kwargs):
        caller = sys._getframe(1).f_code.co_filename
        if os.path.dirname(os.path.abspath(caller)) == HERE:
            raise SinkError(f"timed operation uses count() as its sink "
                            f"({caller})")
        return orig(self, *args, **kwargs)

    DataFrame.count = count
    try:
        yield
    finally:
        DataFrame.count = orig


def _tuples(rows) -> list[tuple]:
    return [(r[0], r[1], r[2]) for r in rows]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""

    def __init__(self, spark, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.corpus = gen.SIZES[scale][self.name]
        self.pdf = gen.ratings(seed, self.corpus)
        self.items = int(self.pdf.itemid.nunique())
        self.dir: Optional[str] = None

    # -- hooks ----------------------------------------------------------
    def prepare_inputs(self) -> None:
        """Untimed input preparation for one set-up repetition."""
        self.inputs = self.spark.createDataFrame(self.pdf)

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def ops(self, seed: int) -> Iterator[dict]:
        raise NotImplementedError

    def warmup(self, it) -> list[dict]:
        """Untimed operations that load and compile each code path: one
        cycle of a separate seeded stream (``it``, the loop's stream, is
        left alone)."""
        return list(itertools.islice(self.ops(self.seed + WARMUP_SEED),
                                     self.cycle_len))

    def prepare(self, op: dict) -> None:
        """Untimed per-operation input preparation."""

    def run(self, op: dict) -> Optional[list]:
        raise NotImplementedError

    def check(self, op: dict, rows) -> Optional[str]:
        raise NotImplementedError

    def boundary(self, results: list[dict], nxt: dict) -> bool:
        """True when the loop's ``results`` end on a whole cycle of the
        workload's mix (``nxt`` is the operation that would follow)."""
        return results[-1]["op"]["cycle"] != nxt["cycle"]

    def gate(self, results: list[dict], rng: np.random.Generator) -> list[Optional[str]]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        return _dir_bytes(self.dir) if self.dir else 0

    def sizes(self) -> dict:
        c = self.corpus
        return {"rows": len(self.pdf), "users": int(self.pdf.userid.nunique()),
                "items": self.items, "copies": c.copies}

    # -- shared helpers -------------------------------------------------
    def _write_table(self, rep_dir: str):
        from recdb_postgresql_spark.sources import readers

        path = os.path.join(rep_dir, "inputs")
        self.inputs.write.parquet(os.path.join(path, f"{TABLE}.parquet"))
        return readers.load_table(self.spark, path, TABLE)

    @staticmethod
    def _sample(rng, results, pred, n) -> list[dict]:
        pool = [r for r in results if r["error"] is None and pred(r["op"])]
        if len(pool) <= n:
            return pool
        return [pool[i] for i in sorted(rng.choice(len(pool), n, replace=False))]


def _oracle_check(model_ev, cur_ev, method, op, rows) -> Optional[str]:
    want = oracle.scores(model_ev, cur_ev, method, op["users"])
    why = oracle.compare(_tuples(rows), want, k=op.get("k"),
                         item_lt=op.get("item_lt"),
                         min_score=op.get("min_score"))
    return None if why is None else f"{method} vs DuckDB oracle: {why}"


class Serve(Workload):
    """RECOMMEND as SQL through ``RecSQL.sql`` against materialized
    recommenders: FilterRecommend shapes, view-routable top-k
    statements that the RecView answers (IndexRecommend) and one
    statement per cycle whose method has no recommender
    (GenerateRecommend)."""

    name = "serve"
    cycle_len = len(gen.SERVE_CYCLE)
    RECS = {"itemcoscf": "r_itemcos", "usercoscf": "r_usercos", "svd": "r_svd"}

    def setup(self, rep_dir: str) -> None:
        from recdb_postgresql_spark import RecEngine
        from recdb_postgresql_spark.plans import RecSQL

        self.dir = rep_dir
        ev = self._write_table(rep_dir)
        ev.createOrReplaceTempView(TABLE)
        self.events = ev
        self.engine = RecEngine(self.spark, workdir=os.path.join(rep_dir, "catalog"))
        self.rs = RecSQL(self.engine)
        for method, rec in self.RECS.items():
            self.rs.sql(f"CREATE RECOMMENDER {rec} ON {TABLE} USERS FROM userid "
                        f"ITEMS FROM itemid EVENTS FROM ratingval USING {method}")
        self.engine.materialize_predictions(self.RECS["itemcoscf"], ev,
                                            k=gen.VIEW_CAP)

    def ops(self, seed: int) -> Iterator[dict]:
        return gen.serve_ops(seed, np.unique(self.pdf.userid), self.items)

    def run(self, op: dict) -> list:
        rows = self.rs.sql(op["sql"]).collect()
        op["strategy"] = self.rs.last_strategy
        return rows

    def check(self, op: dict, rows) -> Optional[str]:
        cols = tuple(rows[0].__fields__) if rows else COLS
        if cols != COLS:
            return f"columns {cols}"
        if any(r[2] is None or not math.isfinite(r[2]) for r in rows):
            return "non-finite score"
        shape = op["shape"]
        if shape in ("filter1", "generate2"):
            want = self.items
        elif shape == "filter3":
            want = len(op["users"]) * int((self.pdf.itemid.unique() < op["item_lt"]).sum())
        elif shape == "filter7":
            return None if len(rows) <= self.items else f"{len(rows)} rows"
        else:
            want = min(op["k"], self.items)
        return None if len(rows) == want else f"{shape}: {len(rows)} rows, want {want}"

    def gate(self, results, rng) -> list[Optional[str]]:
        from pyspark.sql import functions as F
        from recdb_postgresql_spark import RecEngine
        from recdb_postgresql_spark.plans import RecSQL

        out = []
        # CF scores against DuckDB (every filter shape, both CF methods)
        for method in ("itemcoscf", "usercoscf"):
            for r in self._sample(rng, results, lambda o: o["kind"] == "filter"
                                  and o["method"] == method, 2):
                out.append(_oracle_check(self.pdf, self.pdf, method, r["op"], r["rows"]))
        # IndexRecommend answers equal the live top-k
        for r in self._sample(rng, results, lambda o: o["kind"] == "index", 1):
            op = r["op"]
            live = self.engine.recommend(
                self.events, *COLS, name=self.RECS["itemcoscf"],
                user_where=F.col("userid") == op["users"][0]).collect()
            why = oracle.compare(_tuples(r["rows"]),
                                 {(u, i): s for u, i, s in _tuples(live)}, k=op["k"])
            out.append(None if why is None else f"IndexRecommend vs live: {why}")
        # FilterRecommend equals GenerateRecommend for the same statement
        fly = RecSQL(RecEngine(self.spark))
        for r in self._sample(rng, results, lambda o: o["shape"] == "filter1", 1):
            got = _tuples(fly.sql(r["op"]["sql"]).collect())
            why = oracle.compare(got, {(u, i): s for u, i, s in _tuples(r["rows"])})
            out.append(None if why is None
                       else f"GenerateRecommend vs FilterRecommend: {why}")
        return out


class Generate(Workload):
    """On-the-fly RECOMMEND (no recommender): every query trains its
    model, cycling the four CF methods."""

    name = "generate"
    cycle_len = len(gen.CF_METHODS)

    def setup(self, rep_dir: str) -> None:
        from recdb_postgresql_spark import RecEngine

        self.dir = rep_dir
        self.events = self._write_table(rep_dir)
        self.engine = RecEngine(self.spark)

    def ops(self, seed: int) -> Iterator[dict]:
        return gen.generate_ops(seed, np.unique(self.pdf.userid))

    def run(self, op: dict) -> list:
        from pyspark.sql import functions as F

        return self.engine.recommend(
            self.events, *COLS, op["method"],
            user_where=F.col("userid").isin(op["users"]), k=op["k"]).collect()

    def check(self, op: dict, rows) -> Optional[str]:
        if any(r[2] is None or not math.isfinite(r[2]) for r in rows):
            return "non-finite score"
        want = min(op["k"], len(op["users"]) * self.items)
        return None if len(rows) == want else f"{len(rows)} rows, want {want}"

    def gate(self, results, rng) -> list[Optional[str]]:
        return [_oracle_check(self.pdf, self.pdf, method, r["op"], r["rows"])
                for method in ("itemcoscf", "usercoscf")
                for r in self._sample(rng, results,
                                      lambda o: o["method"] == method, 2)]


class Ingest(Workload):
    """Appends through an ``EventStore`` bound to an itemcoscf
    recommender (threshold retrain inline), each followed by one
    FilterRecommend read for a user of the batch."""

    name = "ingest"
    REC = "r_ingest"

    def __init__(self, spark, seed: int, scale: str):
        super().__init__(spark, seed, scale)
        self.batch = gen.INGEST_BATCH[scale]
        self.batches: list[pd.DataFrame] = []

    def setup(self, rep_dir: str) -> None:
        from recdb_postgresql_spark import RecEngine
        from recdb_postgresql_spark.sources.event_store import EventStore

        self.dir = rep_dir
        self.store = EventStore(self.spark, os.path.join(rep_dir, "store"))
        self.store.append(self.inputs)
        self.engine = RecEngine(self.spark, workdir=os.path.join(rep_dir, "catalog"))
        self.engine.create_recommender(self.REC, self.store.read(), *COLS,
                                       "itemcoscf", events_name=TABLE)
        # retrain on the 10th append: counter 10*batch crosses
        # threshold * event_total, 9*batch does not
        n0 = len(self.pdf)
        self.engine.update_threshold = ((gen.INGEST_RETRAIN_EVERY - 0.5)
                                        * self.batch / n0)
        self.store.bind_recommender(self.engine, self.REC)
        self.batches = []
        self.model_steps = 0

    def warmup(self, it) -> list[dict]:
        # the first WARMUP_STEPS steps of the loop's own stream (they
        # change the store, so they are real steps); the loop's first
        # retrain then falls mid-run, after which every cycle is about
        # INGEST_RETRAIN_EVERY steps
        return list(itertools.islice(it, 2 * WARMUP_STEPS))

    def ops(self, seed: int) -> Iterator[dict]:
        for step in gen.ingest_steps(seed, self.corpus, self.batch):
            yield {"kind": "append", "step": step["step"], "batch": step["batch"]}
            yield {"kind": "filter", "step": step["step"], "users": [step["user"]],
                   "k": 10}

    def prepare(self, op: dict) -> None:
        if op["kind"] == "append":
            op["df"] = self.spark.createDataFrame(op["batch"])

    def run(self, op: dict) -> Optional[list]:
        from pyspark.sql import functions as F

        if op["kind"] == "append":
            self.store.append(op["df"])
            return None
        return self.engine.recommend(
            self.store.read(), *COLS, name=self.REC,
            user_where=F.col("userid") == op["users"][0], k=op["k"]).collect()

    def check(self, op: dict, rows) -> Optional[str]:
        if op["kind"] == "append":
            op.pop("df")
            self.batches.append(op["batch"])
            retrained = self.engine.catalog.get(self.REC).update_counter == 0
            op["kind"] = "retrain" if retrained else "insert"
            if retrained:
                self.model_steps = len(self.batches)
            return None
        op["model_steps"], op["cur_steps"] = self.model_steps, len(self.batches)
        items = pd.concat([self.pdf, *self.batches]).itemid.nunique()
        want = min(op["k"], items)
        return None if len(rows) == want else f"{len(rows)} rows, want {want}"

    def boundary(self, results: list[dict], nxt: dict) -> bool:
        # a cycle ends with the read that follows a retraining append
        return (len(results) > 1 and results[-1]["op"]["kind"] == "filter"
                and results[-2]["op"]["kind"] == "retrain")

    def gate(self, results, rng) -> list[Optional[str]]:
        from pyspark.sql import functions as F

        out = []
        for r in self._sample(rng, results, lambda o: o["kind"] == "filter", 3):
            op = r["op"]
            model_ev = pd.concat([self.pdf, *self.batches[:op["model_steps"]]])
            cur_ev = pd.concat([self.pdf, *self.batches[:op["cur_steps"]]])
            out.append(_oracle_check(model_ev, cur_ev, "itemcoscf", op, r["rows"]))
        # the store holds exactly the seeded rows plus every appended batch
        n = self.store.read().agg(F.count(F.lit(1))).collect()[0][0]
        want = len(self.pdf) + sum(len(b) for b in self.batches)
        out.append(None if n == want else f"event store holds {n} rows, want {want}")
        return out

    def sizes(self) -> dict:
        return {**super().sizes(), "batch": self.batch,
                "new_user_share": gen.INGEST_NEW_USER_SHARE,
                "update_threshold": round(self.engine.update_threshold, 6),
                "retrain_every": gen.INGEST_RETRAIN_EVERY}


WORKLOADS = {w.name: w for w in (Serve, Generate, Ingest)}
