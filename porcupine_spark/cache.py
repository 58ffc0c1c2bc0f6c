"""Content-addressed result caching — the funflow layer re-imagined as
a content-hash-keyed Parquet checkpoint store.

Reference semantics (Data/Locations/VirtualFile.hs:270-274 —
``usesCacherWithIdent``; PorcupineTree.hs:118-145 — the cache key
includes the *resolved locations* serialized as JSON, so re-binding a
dataset to a new path re-triggers the step; Caching.hs:44-48 —
``Unhashed`` opts params out of the key; Caching.hs:97-98 +
VirtualFileAccess.hs:309-313 — skip compute when the sink is unmapped).

Store layout: ``<store>/<key>/data.parquet`` + ``meta.json``; the key
is sha256 over (step ident, params JSON, sorted resolved input
locations JSON). The store path may be any Hadoop-FS URI (``s3a://``
≙ the reference's FunflowRemoteCache, FunflowRemoteCache.hs:27-59) —
for local runs a plain directory. Parquet checkpoints survive across
sessions, unlike ``df.persist()``.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from porcupine_spark.serials import parquet_serial

_log = logging.getLogger("porcupine_spark.cache")


@dataclass(frozen=True)
class Unhashed:
    """Wrap a param to exclude it from the cache key (Caching.hs:44-48)."""

    value: Any


def _jsonable(x: Any) -> Any:
    if isinstance(x, Unhashed):
        return "<unhashed>"
    if isinstance(x, dict):
        return {k: _jsonable(v) for k, v in sorted(x.items())}
    if isinstance(x, (list, tuple)):
        return [_jsonable(v) for v in x]
    if isinstance(x, (str, int, float, bool)) or x is None:
        return x
    return repr(x)


def cache_key(ident: str, params: Any, input_locations: list[str]) -> str:
    payload = json.dumps(
        {
            "ident": ident,
            "params": _jsonable(params),
            "locations": sorted(input_locations),
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class CacheStore:
    """Content-addressed Parquet checkpoint store.

    Two-tier when ``mirror_uri`` is given (the reference's funflow
    remote cache, FunflowRemoteCache.hs:27-59): the local store is
    primary; a local miss PULLS ``<mirror>/<key>`` if the mirror has
    it, a compute PUSHES the fresh checkpoint to both. Mirror errors
    degrade to local-only (``tryS`` semantics :29-30,42-44 — a broken
    mirror must never fail the pipeline). The mirror may be any
    Hadoop-FS URI (s3a://, file://, hdfs://) via the same FileSystem
    code path as the folder ops."""

    # Engine-level env config (funflow reads FUNFLOW_IDENTITY and its
    # store/coordinator opts at startup, PTask/Internal.hs:245-262,291;
    # names are ours, semantics funflow's): explicit constructor args
    # always win, the env fills unset ones.
    STORE_ENV = "PORCUPINE_SPARK_STORE"
    MIRROR_ENV = "PORCUPINE_SPARK_MIRROR"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str | None = None,
        mirror_uri: str | None = None,
    ):
        self.spark = spark
        store_dir = store_dir or os.environ.get(self.STORE_ENV)
        if not store_dir:
            raise ValueError(
                f"CacheStore needs a store dir (arg or ${self.STORE_ENV})"
            )
        self.store_dir = store_dir
        mirror_uri = mirror_uri or os.environ.get(self.MIRROR_ENV)
        self.mirror_uri = mirror_uri.rstrip("/") if mirror_uri else None
        self.hits = 0
        self.misses = 0
        self.mirror_hits = 0
        self.mirror_pushes = 0

    def _paths(self, key: str) -> tuple[str, str]:
        base = os.path.join(self.store_dir, key)
        return os.path.join(base, "data.parquet"), os.path.join(base, "meta.json")

    def has(self, key: str) -> bool:
        _, meta = self._paths(key)
        return os.path.exists(meta)

    def _pull_from_mirror(self, key: str) -> bool:
        """Remote.pull (FunflowRemoteCache.hs:45-57): fetch the keyed
        archive into the local store; any error = PullError = miss."""
        if self.mirror_uri is None:
            return False
        from porcupine_spark.sources.s3 import download_folder, uri_exists

        remote = f"{self.mirror_uri}/{key}"
        try:
            if not uri_exists(self.spark, f"{remote}/meta.json"):
                return False
            download_folder(self.spark, remote, os.path.join(self.store_dir, key))
            self.mirror_hits += 1
            return True
        except Exception as e:  # noqa: BLE001 — tryS: log, treat as miss
            _log.warning("cache mirror pull failed for %s: %s", key, e)
            return False

    def _push_to_mirror(self, key: str) -> None:
        """Remote.push (FunflowRemoteCache.hs:34-44): mirror the keyed
        archive; push failures are logged, never raised."""
        if self.mirror_uri is None:
            return
        from porcupine_spark.sources.s3 import upload_folder

        try:
            upload_folder(
                self.spark, os.path.join(self.store_dir, key), f"{self.mirror_uri}/{key}"
            )
            self.mirror_pushes += 1
        except Exception as e:  # noqa: BLE001
            _log.warning("cache mirror push failed for %s: %s", key, e)

    def get(self, key: str) -> DataFrame | None:
        data, meta = self._paths(key)
        if not os.path.exists(meta) and not self._pull_from_mirror(key):
            return None
        self.hits += 1
        return parquet_serial().read(self.spark, data)

    def put(self, key: str, df: DataFrame, info: dict | None = None) -> DataFrame:
        data, meta = self._paths(key)
        self.misses += 1
        serial = parquet_serial()
        serial.write(df, data)
        os.makedirs(os.path.dirname(meta), exist_ok=True)
        with open(meta, "w") as fh:
            json.dump({"key": key, "written_at": time.time(), **(info or {})}, fh)
        self._push_to_mirror(key)
        # read back: downstream plans hang off the checkpoint, not the
        # (possibly expensive) upstream lineage; this read seeds the
        # serial's schema memo, so a later hit plans without a job
        return serial.read(self.spark, data)

    def cached(
        self,
        ident: str,
        params: Any,
        input_locations: list[str],
        compute,  # () -> DataFrame
    ) -> DataFrame:
        """toTaskAndWrite semantics (Caching.hs:52-122): hash -> reuse or
        compute+checkpoint."""
        key = cache_key(ident, params, input_locations)
        hit = self.get(key)
        if hit is not None:
            return hit
        return self.put(key, compute(), info={"ident": ident})
