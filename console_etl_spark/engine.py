"""The engine facade: the reference's full HTTP API surface as one
Python object.

Each method is one endpoint of the reference's serving layer
(main.go:77-85), wired through the same stages its handlers run —
registry point lookup (S2, main.go:322-333), readiness guard (P1,
main.go:132-135), freshness-aware snapshot acquisition (S3/C1,
cache.go:37-93), then the lookup (Q1-Q5). The reference answers each
data request with a read of ``<package>/<schema>/<name>.json``, a key
lookup rather than a job; here the lookup goes to a ``SnapshotIndex``,
built by one Spark job when the freshness cache admits a snapshot and
dropped with its cache slot, so a 304 hit launches no Spark job. A user
of the reference can switch by calling these methods instead of the
HTTP endpoints; listings come back as DataFrames over local rows (the
API edge serializes with ``df.toJSON()`` exactly where the reference ran
``json.NewEncoder``).

| reference endpoint (main.go:77-85)                      | method          |
|---------------------------------------------------------|-----------------|
| GET /{resource}                                         | list_catalogs   |
| GET /{resource}/{catalog}                               | get_catalog     |
| GET /{resource}/{catalog}/packages                      | list_packages   |
| GET /{resource}/{catalog}/packages/{pkg}                | list_schemas    |
| GET /{resource}/{catalog}/packages/{pkg}/{schema}       | list_objects    |
| GET /{resource}/{catalog}/packages/{pkg}/{schema}/{name}| get_object      |
| GET /{resource}/{catalog}/packages/{pkg}/icon           | get_icon        |
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import queries as nav
from .catalog import CatalogEntry, CatalogRegistry
from .refresh import FreshnessManager
from .session import local_df
from .store import SnapshotStore


class SnapshotIndex:
    """One snapshot's answers to the five data endpoints, for key lookups.

    Built by one Spark job that collects the snapshot sorted by
    (package, schema, name), so every listing keeps Spark's string and
    null order, and decodes each package's icon with the expressions of
    ``queries.get_package_icon``; ``queries`` is the reference
    implementation of every answer here. A key with a null part matches
    nothing, as SQL equality does. The index holds the snapshot's rows
    on the driver, so the freshness cache bounds it to ``capacity``
    snapshots.

    Icon data that is not strict base64 is decoded at request time by
    ``queries.get_package_icon`` itself: ``unbase64`` reads some of it
    leniently and fails on the rest, and failing at build time would take
    every endpoint of the catalog down with that one icon.
    """

    def __init__(self, snapshot: DataFrame) -> None:
        doc = nav.package_doc()
        data, media = nav.icon_fields(doc)
        strict = F.try_to_binary(doc["icon"]["base64data"], F.lit("base64")).isNotNull()
        icon = nav.is_package_row(F.col("package")) & nav.has_icon(doc)
        rows = (
            snapshot.select(
                "package",
                "schema",
                "name",
                "blob",
                F.when(icon, F.struct(F.when(strict, data), media)).alias("icon"),
            )
            .coalesce(1)
            .sortWithinPartitions("package", "schema", "name")
            .collect()
        )
        self.snapshot = snapshot
        self.packages: list[str | None] = []
        self.schemas: dict[str, list[str | None]] = {}
        self.names: dict[tuple[str, str], list[str | None]] = {}
        self.blobs: dict[tuple[str, str, str], str | None] = {}
        # package -> (icon bytes, media type), or None when not strict base64
        self.icons: dict[str, tuple[bytes, str | None] | None] = {}
        for pkg, by_pkg in groupby(rows, itemgetter(0)):
            self.packages.append(pkg)
            schemas = self.schemas[pkg] = []
            for schema, by_schema in groupby(by_pkg, itemgetter(1)):
                schemas.append(schema)
                names = self.names[(pkg, schema)] = []
                for _, _, name, blob, pkg_icon in by_schema:
                    names.append(name)
                    self.blobs[(pkg, schema, name)] = blob
                    if pkg_icon is not None:
                        self.icons[pkg] = None if pkg_icon[0] is None else tuple(pkg_icon)

    def _frame(self, column: str, values: list) -> DataFrame:
        field = self.snapshot.schema[column]
        return local_df(self.snapshot.sparkSession, T.StructType([field]), [values])

    def list_packages(self) -> DataFrame:
        return self._frame("package", self.packages)

    def list_schemas(self, package: str) -> DataFrame:
        return self._frame("schema", self._get(self.schemas, package, []))

    def list_objects(self, package: str, schema: str) -> DataFrame:
        return self._frame("name", self._get(self.names, (package, schema), []))

    def get_object(self, package: str, schema: str, name: str) -> str | None:
        return self._get(self.blobs, (package, schema, name))

    def get_icon(self, package: str) -> tuple[bytes, str | None] | None:
        if package in self.icons and self.icons[package] is None:
            return tuple(nav.get_package_icon(self.snapshot, package).first())
        return self._get(self.icons, package)

    @staticmethod
    def _get(table: dict, key, default=None):
        parts = key if isinstance(key, tuple) else (key,)
        return default if None in parts else table.get(key, default)


class ConsoleEngine:
    """Registry + guard + freshness cache + snapshot index in one
    serving facade.

    ``sources`` maps catalog name → (source_version probe, build fn):
    the conditional-GET analog pair the FreshnessManager needs. The
    probe returns the upstream version token (Last-Modified); build
    produces the snapshot DataFrame only when the token changed —
    unchanged upstream serves the cached snapshot's index with no Spark
    job (the 304 path, cache.go:64-66).
    """

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        registry: CatalogRegistry | None = None,
        capacity: int = 100,
        ttl_seconds: float = 24 * 3600.0,
    ) -> None:
        self.spark = spark
        self.store = store
        self.registry = registry or CatalogRegistry()
        self.refresh = FreshnessManager(
            store, capacity=capacity, ttl_seconds=ttl_seconds
        )
        self._sources: dict[
            str, tuple[Callable[[], str], Callable[[SparkSession], DataFrame]]
        ] = {}

    # -- registration ------------------------------------------------------
    def register_catalog(
        self,
        entry: CatalogEntry,
        source_version: Callable[[], str],
        build: Callable[[SparkSession], DataFrame],
    ) -> None:
        self.registry.register(entry)
        self._sources[entry.name] = (source_version, build)

    # -- S1/S2: registry endpoints ----------------------------------------
    def list_catalogs(self) -> DataFrame:
        return self.registry.to_df(self.spark)

    def get_catalog(self, catalog: str) -> CatalogEntry:
        return self.registry.get(catalog)

    # -- the guarded, freshness-checked snapshot acquisition (every data
    # endpoint of the reference starts exactly like this) ------------------
    def _index(self, catalog: str) -> SnapshotIndex:
        self.registry.require_ready(catalog)  # P1: 503 analog
        probe, build = self._sources[catalog]
        return self.refresh.get(self.spark, catalog, probe, build, index=SnapshotIndex)

    # -- Q1-Q5: data endpoints --------------------------------------------
    def list_packages(self, catalog: str) -> DataFrame:
        return self._index(catalog).list_packages()

    def list_schemas(self, catalog: str, package: str) -> DataFrame:
        return self._index(catalog).list_schemas(package)

    def list_objects(self, catalog: str, package: str, schema: str) -> DataFrame:
        return self._index(catalog).list_objects(package, schema)

    def get_object(
        self, catalog: str, package: str, schema: str, name: str
    ) -> str | None:
        """The raw blob, or None for a missing key (the 404 path)."""
        return self._index(catalog).get_object(package, schema, name)

    def get_icon(self, catalog: str, package: str) -> tuple[bytes, str] | None:
        """(icon bytes, media type), or None when the package or its
        icon is absent (main.go:297-313's two 404 paths collapse to one
        None — both mean "no icon to serve")."""
        return self._index(catalog).get_icon(package)
