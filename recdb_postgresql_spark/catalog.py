"""Recommender catalog — the RecModelsCatalogue + <name>Index equivalent.

Reference: ``PostgreSQL/src/backend/tcop/utility.c:886-922`` creates a
global ``RecModelsCatalogue`` table plus a per-recommender ``<name>Index``
metadata table. Here the catalog is a JSON manifest (driver-side, tiny)
and each model is a parquet directory (or a cached DataFrame when no
workdir is configured).

Model tables stay resident between statements, as the reference's
heap tables stay open through the relcache: the catalog keeps one
resolved ``spark.read.parquet`` handle per (recommender, table), so a
warm read lists no files and runs no schema-inference job. A handle is
a lazy plan bound to one file listing, never data. It is reused only
while the table directory's ``(st_ino, st_mtime_ns)`` is unchanged;
``put``, ``add_model_table`` and ``drop`` forget the handles they
replace, and the stat check catches a write made through another
catalog on the same workdir.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class RecommenderInfo:
    name: str
    userkey: str
    itemkey: str
    eventval: str
    method: str
    eventtable: str = ""  # RecModelsCatalogue.eventTable (utility.c:886)
    event_total: int = 0
    update_counter: int = 0   # <name>Index.updateCounter (utility.c:917-921)
    query_counter: int = 0    # bumped on first materialized query (execRecommend.c:831-836)
    # declared <name>Index surface (utility.c:917-921): the reference
    # seeds 0.0/0.0/localtimestamp at CREATE (utility.c:171); the rate
    # refresh loop (experiments/recathon_rateupdate.c:133-153) derives
    # them from SEPARATE interval counters so the retrain counter is
    # never clobbered, then classifies the cell Alpha/Beta/Gamma/Delta
    update_rate: float = 0.0
    query_rate: float = 0.0
    levelone_timestamp: str = ""
    query_counter2: int = 0   # interval counters, reset by refresh_rates
    update_counter2: int = 0
    celltype: str = "Delta"   # cold/cold default (rateupdate.c:149)
    model_tables: list = field(default_factory=list)
    # per-user cap the RecView was materialized with (engine
    # tail_length / explicit k at materialize time): 0 = dense full
    # grid (the reference's semantics), >0 = top-view_cap rows per
    # user, -1 = no view / unknown (pre-cap manifests).  Read paths
    # validate k against this so a capped view can never silently
    # truncate a deeper top-k read (ADVICE r11).
    view_cap: int = -1


class RecCatalog:
    def __init__(self, workdir: Optional[str] = None):
        self.workdir = workdir
        self._mem: dict[str, RecommenderInfo] = {}
        self._mem_models: dict[str, dict[str, DataFrame]] = {}
        # workdir mode: recommender -> table -> (directory stat
        # signature, parquet handle); see the module docstring
        self._handles: dict[str, dict[str, tuple[tuple[int, int], DataFrame]]] = {}
        if workdir:
            os.makedirs(workdir, exist_ok=True)
            self._load_manifest()

    # -- manifest ------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.workdir, "catalog.json")

    def _load_manifest(self) -> None:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                for row in json.load(f):
                    self._mem[row["name"]] = RecommenderInfo(**row)

    def _save_manifest(self) -> None:
        if not self.workdir:
            return
        # tmp + os.replace (event_store's discipline): a crash mid-dump
        # must leave the previous manifest loadable
        path = self._manifest_path()
        with open(path + ".tmp", "w") as f:
            json.dump([asdict(i) for i in self._mem.values()], f, indent=1)
        os.replace(path + ".tmp", path)

    # -- API -----------------------------------------------------------
    def get(self, name: Optional[str]) -> Optional[RecommenderInfo]:
        return self._mem.get(name) if name else None

    def find(self, method: str, eventtable: Optional[str] = None
             ) -> Optional[RecommenderInfo]:
        """retrieveRecommender analog (recathon.c:706-747): match on
        (eventtable, method) — this is what flips a query from
        GenerateRecommend to FilterRecommend (parse_rec.c:554-678)."""
        for i in self._mem.values():
            if i.method == method and (eventtable is None
                                       or i.eventtable == eventtable):
                return i
        return None

    def put(self, info: RecommenderInfo, models: dict[str, DataFrame],
            spark: SparkSession, replace: bool = False) -> None:
        if info.name in self._mem and not replace:
            raise ValueError(f"recommender {info.name!r} exists")
        info.model_tables = sorted(models.keys())
        if self.workdir:
            self._handles.pop(info.name, None)
            for key, df in models.items():
                path = os.path.join(self.workdir, info.name, key)
                df.write.mode("overwrite").parquet(path)
        else:
            # unpersist the replaced generation's cached models first or
            # every threshold retrain leaks executor storage
            for df in (self._mem_models.get(info.name) or {}).values():
                df.unpersist()
            self._mem_models[info.name] = {k: df.cache() for k, df in models.items()}
        self._mem[info.name] = info
        self._save_manifest()

    def add_model_table(self, info: RecommenderInfo, key: str, df: DataFrame,
                        spark: SparkSession) -> None:
        """Add ONE model table without rewriting the others — required
        when the new table's plan lazily reads the existing parquet
        (overwriting a file you are reading truncates it mid-scan)."""
        if self.workdir:
            self._handles.get(info.name, {}).pop(key, None)
            df.write.mode("overwrite").parquet(
                os.path.join(self.workdir, info.name, key))
        else:
            # unpersist before caching: a new plan equal to the old one
            # would otherwise share its cache entry and lose it here
            old = self._mem_models[info.name].get(key)
            if old is not None:
                old.unpersist()
            self._mem_models[info.name][key] = df.cache()
        if key not in info.model_tables:
            info.model_tables = sorted({*info.model_tables, key})
        self._mem[info.name] = info
        self._save_manifest()

    def load_models(self, info: RecommenderInfo, spark: SparkSession,
                    keys: Optional[list[str]] = None) -> dict[str, DataFrame]:
        """The model tables ``keys`` of ``info`` (default: all of them)."""
        keys = info.model_tables if keys is None else keys
        if self.workdir:
            return {k: self._handle(info.name, k, spark) for k in keys}
        return {k: self._mem_models[info.name][k] for k in keys}

    def _handle(self, name: str, key: str, spark: SparkSession) -> DataFrame:
        path = os.path.join(self.workdir, name, key)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return spark.read.parquet(path)  # raises Spark's missing-path error
        # stat BEFORE reading: a write racing the read then leaves a
        # handle newer than its signature, which the next call re-reads
        sig = (st.st_ino, st.st_mtime_ns)
        tables = self._handles.setdefault(name, {})
        cached = tables.get(key)
        if cached is None or cached[0] != sig:
            cached = tables[key] = (sig, spark.read.parquet(path))
        return cached[1]

    def update_meta(self, info: RecommenderInfo) -> None:
        self._mem[info.name] = info
        self._save_manifest()

    def drop(self, name: str) -> None:
        if name not in self._mem:
            raise ValueError(f"no recommender {name!r}")  # utility.c:978-983 analog
        self._mem.pop(name)
        self._handles.pop(name, None)
        df_map = self._mem_models.pop(name, None)
        if df_map:
            for df in df_map.values():
                df.unpersist()
        if self.workdir:
            shutil.rmtree(os.path.join(self.workdir, name), ignore_errors=True)
        self._save_manifest()
