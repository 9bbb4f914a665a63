"""Recommender catalog — the RecModelsCatalogue + <name>Index equivalent.

Reference: ``PostgreSQL/src/backend/tcop/utility.c:886-922`` creates a
global ``RecModelsCatalogue`` table plus a per-recommender ``<name>Index``
metadata table. Here the catalog is a JSON manifest (driver-side, tiny)
and each model is a parquet directory (or a cached DataFrame when no
workdir is configured).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
from dataclasses import asdict, dataclass, field
from typing import Iterable, Optional

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
    """Manifest plus the loaded model frames of each recommender's
    current generation.

    A generation is one version of a recommender's stored tables: every
    ``put``, ``add_model_table`` and ``drop`` starts a new one and
    drops the frames of the old one. Each table is read once per
    generation (right after it is written, or on first use after a
    restart), so serving a stored model never re-reads its parquet
    footers. ``generation(name)`` is the key callers cache derived
    plans under."""

    def __init__(self, workdir: Optional[str] = None):
        self.workdir = workdir
        self._mem: dict[str, RecommenderInfo] = {}
        # name -> table key -> frame: parquet handles under a workdir,
        # cached frames without one
        self._models: dict[str, dict[str, DataFrame]] = {}
        self._gen: dict[str, int] = {}
        self._gen_seq = itertools.count(1)
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
        with open(self._manifest_path(), "w") as f:
            json.dump([asdict(i) for i in self._mem.values()], f, indent=1)

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

    def generation(self, name: str) -> int:
        """Counter of ``name``'s stored tables, bumped on every write or
        drop; 0 for a recommender not written by this catalog object
        (one loaded from the manifest)."""
        return self._gen.get(name, 0)

    def _new_generation(self, name: str,
                        keys: Optional[Iterable[str]] = None) -> None:
        """Bump ``name``'s generation and release the frames of
        ``keys`` (default: all). Cached frames hold executor storage,
        so without the unpersist every threshold retrain leaks it."""
        frames = self._models.get(name, {})
        for key in list(frames if keys is None else keys):
            df = frames.pop(key, None)
            if df is not None and not self.workdir:
                df.unpersist()
        self._gen[name] = next(self._gen_seq)

    def _store(self, name: str, key: str, df: DataFrame,
               spark: SparkSession) -> None:
        if self.workdir:
            path = os.path.join(self.workdir, name, key)
            df.write.mode("overwrite").parquet(path)
            # the written schema is known: no footer-inference job
            df = spark.read.schema(df.schema).parquet(path)
        else:
            df = df.cache()
        self._models.setdefault(name, {})[key] = df

    def put(self, info: RecommenderInfo, models: dict[str, DataFrame],
            spark: SparkSession, replace: bool = False) -> None:
        if info.name in self._mem and not replace:
            raise ValueError(f"recommender {info.name!r} exists")
        info.model_tables = sorted(models.keys())
        self._new_generation(info.name)
        for key, df in models.items():
            self._store(info.name, key, df, spark)
        self._mem[info.name] = info
        self._save_manifest()

    def add_model_table(self, info: RecommenderInfo, key: str, df: DataFrame,
                        spark: SparkSession) -> None:
        """Add ONE model table without rewriting the others — required
        when the new table's plan lazily reads the existing parquet
        (overwriting a file you are reading truncates it mid-scan)."""
        self._new_generation(info.name, [key])
        self._store(info.name, key, df, spark)
        if key not in info.model_tables:
            info.model_tables = sorted({*info.model_tables, key})
        self._mem[info.name] = info
        self._save_manifest()

    def load_models(self, info: RecommenderInfo, spark: SparkSession,
                    keys: Optional[Iterable[str]] = None
                    ) -> dict[str, DataFrame]:
        """The current generation's frames for ``keys`` (default: every
        stored table). Tables of a manifest-loaded recommender are read
        on first use."""
        loaded = self._models.setdefault(info.name, {})
        out = {}
        for key in (info.model_tables if keys is None else keys):
            if key not in info.model_tables:
                raise KeyError(f"recommender {info.name!r} has no "
                               f"{key!r} table")
            if key not in loaded:
                loaded[key] = spark.read.parquet(
                    os.path.join(self.workdir, info.name, key))
            out[key] = loaded[key]
        return out

    def update_meta(self, info: RecommenderInfo) -> None:
        self._mem[info.name] = info
        self._save_manifest()

    def drop(self, name: str) -> None:
        if name not in self._mem:
            raise ValueError(f"no recommender {name!r}")  # utility.c:978-983 analog
        self._mem.pop(name)
        self._new_generation(name)
        if self.workdir:
            shutil.rmtree(os.path.join(self.workdir, name), ignore_errors=True)
        self._save_manifest()
