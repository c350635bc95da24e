"""Freshness manager: incremental refresh + LRU/TTL snapshot cache.

Re-expresses the reference's caching client (S3 + C1,
/root/reference/cache.go:25-93):

- **Conditional refresh** (the If-Modified-Since / 304 path,
  cache.go:54-66): before re-running the ingest job we probe the source's
  version token; if it matches the published snapshot's version, we serve
  the existing snapshot with *zero Spark jobs launched* — the 304 analog.
- **LRU + TTL** (cache.go:26-28): a bounded map of catalog → snapshot,
  default capacity 100 entries / 24 h staleness bound, both configurable
  (the reference hardcodes them). A slot holds what serves its
  snapshot: a cached DataFrame, or the lookup index a caller asks
  ``get`` to build at admit (``ConsoleEngine`` does). Eviction drops the
  slot, unpersists a cached DataFrame and removes the snapshot directory
  — the ``os.RemoveAll`` eviction side effect (cache.go:30-33).

Unlike the reference, refresh is race-safe and idempotent: re-publishing
an unchanged version is a no-op (the reference would fail the symlink
create, see SURVEY.md §3.3).
"""

from __future__ import annotations

import os
import shutil
import time
import urllib.error
import urllib.request
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .store import SnapshotInfo, SnapshotStore

DEFAULT_CAPACITY = 100  # cache.go:26
DEFAULT_TTL_SECONDS = 24 * 3600.0  # cache.go:28


@dataclass
class _CacheSlot:
    info: SnapshotInfo
    df: DataFrame | None
    cached_at: float
    index: Any = None  # ``index(snapshot)``, built at admit


class FreshnessManager:
    """Bounded, freshness-aware snapshot cache over a SnapshotStore."""

    def __init__(
        self,
        store: SnapshotStore,
        capacity: int = DEFAULT_CAPACITY,
        ttl_seconds: float = DEFAULT_TTL_SECONDS,
        clock: Callable[[], float] = time.time,
        balancer=None,
    ) -> None:
        self.store = store
        self.capacity = capacity
        self.ttl = ttl_seconds
        self.clock = clock
        # optional replicas.ReplicaBalancer: the READ path load-balances
        # across snapshot mirrors (C2) while publish stays on the
        # primary store — the reference's split between the serving
        # port-forward pool and the single refresh loop
        self.balancer = balancer
        self._lru: OrderedDict[str, _CacheSlot] = OrderedDict()
        self.refresh_count = 0  # ingest jobs actually run (test/observability)
        self.hit_count = 0  # 304-analog short-circuits

    def get(
        self,
        spark: SparkSession,
        catalog: str,
        source_version: Callable[[], str],
        build: Callable[[SparkSession], DataFrame],
        cache_df: bool = True,
        index: Callable[[DataFrame], Any] | None = None,
    ) -> Any:
        """Serve ``catalog``, re-ingesting only if the source changed.

        ``source_version`` is the Last-Modified probe, called once per
        ``get``; ``build`` produces the snapshot DataFrame when (and only
        when) a refresh is needed.

        Returns the snapshot DataFrame, or with ``index`` the value of
        ``index(snapshot)``: it is built once, when the slot is admitted,
        held in the slot in place of a cached DataFrame, and returned by
        every 304 hit until the slot is evicted, expired or invalidated. A
        slot admitted without an index is admitted again, with one.
        """
        now = self.clock()
        slot = self._lru.get(catalog)
        version = source_version()
        if (
            slot is not None
            and now - slot.cached_at <= self.ttl
            and version == slot.info.version
            and (index is None or slot.index is not None)
        ):
            # 304 path: serve cached snapshot, zero recompute.
            self._lru.move_to_end(catalog)
            self.hit_count += 1
            if index is not None:
                return slot.index
            return slot.df if slot.df is not None else self._read(spark, catalog)

        current = self.store.current(catalog)
        if current is not None and current.version == version:
            info = current  # already published by a previous process
        else:
            info = self.store.publish(build(spark), catalog, version)
            self.refresh_count += 1
        df = self._read(spark, catalog)
        slot = _CacheSlot(info, None, now)
        if index is not None:
            slot.index = index(df)
        elif cache_df:
            slot.df = df = df.cache()
        self._admit(catalog, slot)
        return slot.index if index is not None else df

    def _read(self, spark: SparkSession, catalog: str) -> DataFrame:
        if self.balancer is not None:
            return self.balancer.read(spark, catalog)
        return self.store.read(spark, catalog)

    # -- LRU/TTL plumbing ------------------------------------------------
    def _admit(self, catalog: str, slot: _CacheSlot) -> None:
        if catalog in self._lru:
            old = self._lru.pop(catalog)
            if old.df is not None and old.df is not slot.df:
                old.df.unpersist()
        self._lru[catalog] = slot
        while len(self._lru) > self.capacity:
            victim, vslot = self._lru.popitem(last=False)
            self._evict(victim, vslot)

    def _evict(self, catalog: str, slot: _CacheSlot) -> None:
        if slot.df is not None:
            slot.df.unpersist()
        self.store.drop(catalog)

    def expire(self) -> list[str]:
        """Drop all slots older than the TTL (staleness bound)."""
        now = self.clock()
        victims = [c for c, s in self._lru.items() if now - s.cached_at > self.ttl]
        for c in victims:
            self._evict(c, self._lru.pop(c))
        return victims

    def invalidate(self, catalog: str) -> None:
        slot = self._lru.pop(catalog, None)
        if slot is not None:
            self._evict(catalog, slot)


# --------------------------------------------------------------------------
# HTTP extract edge: the real conditional-GET probe (cache.go:49-69)
# --------------------------------------------------------------------------

class HttpStreamSource:
    """Conditional-GET source for an ``all.json`` meta stream.

    Implements the reference's freshness protocol over real HTTP
    (cache.go:49-66): the version token is the upstream ``ETag`` (when
    present) or ``Last-Modified`` header; ``fetch`` sends
    ``If-None-Match`` / ``If-Modified-Since`` and treats **304 → None**
    (serve the existing snapshot, zero bytes moved, zero Spark jobs).
    Works against any HTTP(S) server — unit tests stand up a local
    ``http.server``, whose handler honors If-Modified-Since natively.

    The body spools to a local file because Spark reads paths, not
    sockets; at scale the spool target would be shared storage and the
    object store's own conditional-read tokens replace the headers.
    """

    def __init__(self, url: str, spool_dir: str) -> None:
        self.url = url
        self.spool_dir = spool_dir
        self.probe_count = 0  # HEAD probes issued (observability)
        self.fetch_count = 0  # 200 bodies actually downloaded

    @staticmethod
    def _token(headers) -> str:
        return headers.get("ETag") or headers.get("Last-Modified") or ""

    def version(self) -> str:
        """HEAD probe → version token. No body transfer.

        A server that sends neither ETag nor Last-Modified yields a
        per-probe unique token: '' would compare equal on every probe
        and serve a stale catalog forever (ADVICE r2); a never-matching
        token degrades validator-less upstreams to always-refetch.
        """
        req = urllib.request.Request(self.url, method="HEAD")
        self.probe_count += 1
        with urllib.request.urlopen(req) as resp:
            return self._token(resp.headers) or f"unversioned-{self.probe_count}"

    def fetch(self, known_version: str | None = None) -> str | None:
        """Conditional GET. Returns the spooled body path, or None on 304
        (upstream unchanged vs ``known_version``)."""
        headers = {}
        if known_version:
            if known_version.startswith(('"', "W/")):
                headers["If-None-Match"] = known_version
            else:
                headers["If-Modified-Since"] = known_version
        req = urllib.request.Request(self.url, headers=headers)
        try:
            resp = urllib.request.urlopen(req)
        except urllib.error.HTTPError as e:
            if e.code == 304:
                return None
            raise
        with resp:
            os.makedirs(self.spool_dir, exist_ok=True)
            path = os.path.join(self.spool_dir, "all.json")
            with open(path, "wb") as f:
                shutil.copyfileobj(resp, f)
        self.fetch_count += 1
        return path


def get_http_catalog(
    manager: FreshnessManager,
    spark: SparkSession,
    catalog: str,
    source: HttpStreamSource,
) -> DataFrame:
    """Serve ``catalog`` from an HTTP meta stream with real 304
    semantics: the manager's version probe is the source's HEAD token;
    the ingest build (download → shred → publish) runs only on change."""
    from .ingest import ingest_meta_stream

    def build(sp: SparkSession) -> DataFrame:
        path = source.fetch(None)  # unconditional: probe already said "changed"
        return ingest_meta_stream(sp, path)

    return manager.get(spark, catalog, source.version, build)
