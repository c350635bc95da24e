"""Catalog registry + readiness guard.

Re-expresses the reference's control-plane layer: the ClusterCatalog
registry (S1/S2, /root/reference/main.go:91-122,322-333) and the
phase-readiness guard that gates every data endpoint (P1,
/root/reference/main.go:132-135 and 4 more sites).

The registry is deliberately tiny (hundreds of catalogs, not billions of
rows) — a plain dict on the driver, exposable as a DataFrame for
relational access. At scale this is the classic "small dimension":
anything joining against it should broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import local_df

PHASE_UNPACKED = "Unpacked"  # main.go:132 readiness predicate value
REGISTRY_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("name", "phase", "last_modified", "source")]
)


class CatalogNotReadyError(RuntimeError):
    """Raised when a catalog exists but is not serveable — the 503 path
    of the reference's guard (main.go:133-135)."""


class CatalogNotFoundError(KeyError):
    """Raised for an unknown catalog — the 404/500 path (main.go:110-122)."""


@dataclass
class CatalogEntry:
    name: str
    phase: str = PHASE_UNPACKED
    last_modified: str | None = None  # upstream version/freshness token
    source: str | None = None  # where the meta stream comes from
    extra: dict = field(default_factory=dict)


class CatalogRegistry:
    """In-memory registry of datasets ("catalogs")."""

    def __init__(self) -> None:
        self._entries: dict[str, CatalogEntry] = {}

    # -- S1: full registry scan -----------------------------------------
    def list(self) -> list[CatalogEntry]:
        return list(self._entries.values())

    def to_df(self, spark: SparkSession) -> DataFrame:
        entries = self._entries.values()
        return local_df(
            spark,
            REGISTRY_SCHEMA,
            [[getattr(e, f.name) for e in entries] for f in REGISTRY_SCHEMA],
        )

    # -- S2: point lookup by primary key --------------------------------
    def get(self, name: str) -> CatalogEntry:
        try:
            return self._entries[name]
        except KeyError:
            raise CatalogNotFoundError(name) from None

    # -- P1: readiness guard --------------------------------------------
    def require_ready(self, name: str) -> CatalogEntry:
        entry = self.get(name)
        if entry.phase != PHASE_UNPACKED:
            raise CatalogNotReadyError(
                f"catalog {name!r} is in phase {entry.phase!r}, not {PHASE_UNPACKED!r}"
            )
        return entry

    # -- registration ----------------------------------------------------
    def register(self, entry: CatalogEntry) -> None:
        self._entries[entry.name] = entry

    def set_phase(self, name: str, phase: str) -> None:
        self.get(name).phase = phase

    def set_last_modified(self, name: str, token: str) -> None:
        self.get(name).last_modified = token
