"""The serving index (engine.SnapshotIndex) against its reference
implementation (queries.py), and the 304 hit path it serves: every
endpoint answers a cache hit without a Spark job, and a version bump
rebuilds the snapshot and its index exactly once."""

from __future__ import annotations

import base64
import json

import pytest
from pyspark.sql import functions as F

from console_etl_spark import queries as nav
from console_etl_spark.catalog import CatalogEntry
from console_etl_spark.engine import ConsoleEngine, SnapshotIndex
from console_etl_spark.ingest import GLOBAL_PACKAGE, shred_metas
from console_etl_spark.store import SnapshotStore

SVG = base64.b64encode(b"<svg id='x'/>").decode()


def _package(name: str, icon=None) -> str:
    doc = {"schema": "olm.package", "name": name, "defaultChannel": "stable"}
    if icon is not None:
        doc["icon"] = icon
    return json.dumps(doc)


# (package, schema, name, blob); the position in the list is the stream
# position, so of two lines with one key the later one wins
EDGE_ROWS = [
    ("dup", "olm.channel", "stable", '{"v": 1}'),
    ("dup", "olm.channel", "stable", '{"v": 2}'),
    ("", "olm.deprecations", "old", "{}"),  # filed under __global
    (None, "olm.package", "dup", _package("dup", {"base64data": SVG, "mediatype": "image/svg+xml"})),
    (None, "olm.package", "plain", _package("plain")),
    (None, "olm.package", "badicon", _package("badicon", "not-an-object")),
    (None, "olm.package", "badjson", '{"schema": "olm.package", "name": '),
    (None, "olm.package", "bad64", _package("bad64", {"base64data": "!!not base64", "mediatype": "x/y"})),
    (None, "olm.package", "lenient64", _package("lenient64", {"base64data": "!!!", "mediatype": "x/y"})),
    (None, "olm.package", "nomedia", _package("nomedia", {"base64data": SVG})),
    ("nulls", None, "a", "{}"),
    ("nulls", "olm.bundle", None, "{}"),
    ("nulls", "olm.bundle", "noblob", None),
    ("paquete-ñ", "olm.bündle", "名前", "{}"),
    ("Zeta", "olm.bundle", "é", "{}"),
    ("Zeta", "olm.bundle", "e", "{}"),
    ("Zeta", "olm.bundle", "😀", "{}"),
    ("zeta", "olm.bundle", "E", "{}"),
]
ENVELOPE = "package string, schema string, name string, blob string"


@pytest.fixture()
def snapshot(spark, tmp_path):
    """Publish metas and read them back, as the engine serves them."""

    def publish(metas):
        store = SnapshotStore(str(tmp_path / "snapshots"))
        store.publish(metas, "cat", "v1")
        return store.read(spark, "cat")

    return publish


def _edge_metas(spark):
    rows = [(*r, pos) for pos, r in enumerate(EDGE_ROWS)]
    return shred_metas(spark.createDataFrame(rows, ENVELOPE + ", _pos long"))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _blob(df):
    rows = df.take(1)
    return rows[0]["blob"] if rows else None


def _icon(df):
    rows = df.take(1)
    return (rows[0]["icon_data"], rows[0]["icon_mediatype"]) if rows else None


def _outcome(answer):
    """The answer, or the type of the error raised instead."""
    try:
        return answer()
    except Exception as exc:  # an error is an answer here
        return type(exc)


def _assert_parity(snapshot, every_key: bool = True) -> SnapshotIndex:
    """Every answer of the index equals the queries.py answer: every
    listing, every icon, and every object, plus missing and null keys
    below each package. Without ``every_key``, only the first and last
    object of each listing and no missing keys, as each reference answer
    is a Spark query."""
    idx = SnapshotIndex(snapshot)
    absent = ["no-such-key", None] if every_key else []

    def same(got, want):
        assert got.schema == want.schema
        rows = _rows(want)
        assert _rows(got) == rows
        return [r[0] for r in rows]

    packages = same(idx.list_packages(), nav.list_packages(snapshot))
    for pkg in packages + ["no-such-package", None]:
        want = _outcome(lambda: _icon(nav.get_package_icon(snapshot, pkg)))
        assert _outcome(lambda: idx.get_icon(pkg)) == want, pkg
        schemas = same(idx.list_schemas(pkg), nav.list_schemas(snapshot, pkg))
        for schema in schemas + absent:
            names = same(idx.list_objects(pkg, schema), nav.list_objects(snapshot, pkg, schema))
            for name in (names if every_key else names[:1] + names[1:][-1:]) + absent:
                want = _blob(nav.get_object(snapshot, pkg, schema, name))
                assert idx.get_object(pkg, schema, name) == want, (pkg, schema, name)
    return idx


def test_index_matches_queries_on_fixture(snapshot, catalog_metas):
    metas = shred_metas(catalog_metas.filter(F.col("catalog") == "catalog0").drop("catalog"))
    idx = _assert_parity(snapshot(metas), every_key=False)
    assert idx.icons  # the fixture has packages with icons


def test_index_matches_queries_on_edge_cases(spark, snapshot):
    idx = _assert_parity(snapshot(_edge_metas(spark)))
    # the cases are really in the snapshot, with the answers they stand for
    assert idx.get_object("dup", "olm.channel", "stable") == '{"v": 2}'
    assert idx.get_object(GLOBAL_PACKAGE, "olm.deprecations", "old") == "{}"
    assert idx.get_icon("dup") == (b"<svg id='x'/>", "image/svg+xml")
    assert idx.get_icon("nomedia") == (b"<svg id='x'/>", None)
    assert idx.get_icon("plain") is None and idx.get_icon("badjson") is None
    # base64 that is not strict: unbase64 reads some leniently, fails on the rest
    assert idx.get_icon("lenient64") == (b"", "x/y")
    with pytest.raises(Exception, match="valid bits"):
        idx.get_icon("bad64")
    packages = [r[0] for r in _rows(idx.list_packages())]
    assert packages.index("Zeta") < packages.index("paquete-ñ") < packages.index("zeta")
    assert [r[0] for r in _rows(idx.list_schemas("nulls"))] == [None, "olm.bundle"]
    assert [r[0] for r in _rows(idx.list_objects("Zeta", "olm.bundle"))] == ["e", "é", "😀"]


def test_index_matches_queries_on_empty_snapshot(spark, snapshot):
    idx = _assert_parity(snapshot(spark.createDataFrame([], ENVELOPE)))
    assert _rows(idx.list_packages()) == []


def _jobs(spark, group: str, request) -> int:
    """Spark jobs that ``request`` launches, counted by the StatusTracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        request()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_hits_launch_no_spark_job_and_a_bump_rebuilds_once(spark, tmp_path, catalog_metas):
    metas = shred_metas(catalog_metas.filter(F.col("catalog") == "catalog1").drop("catalog"))
    store = SnapshotStore(str(tmp_path / "snapshots"))
    version, builds = ["v1"], []

    def build(s):
        builds.append(version[0])
        return metas

    eng = ConsoleEngine(spark, store)
    eng.register_catalog(CatalogEntry("cat", source="test"), lambda: version[0], build)
    packages = [r[0] for r in eng.list_packages("cat").collect()]  # admit
    pkg = next(p for p in packages if p != GLOBAL_PACKAGE)
    schema = eng.list_schemas("cat", pkg).first()[0]
    name = eng.list_objects("cat", pkg, schema).first()[0]
    requests = {
        "list_catalogs": lambda: eng.list_catalogs().collect(),
        "get_catalog": lambda: eng.get_catalog("cat"),
        "list_packages": lambda: eng.list_packages("cat").collect(),
        "list_schemas": lambda: eng.list_schemas("cat", pkg).collect(),
        "list_objects": lambda: eng.list_objects("cat", pkg, schema).collect(),
        "get_object": lambda: eng.get_object("cat", pkg, schema, name),
        "get_icon": lambda: eng.get_icon("cat", pkg),
    }
    for ep, request in requests.items():
        assert _jobs(spark, f"hit-{ep}", request) == 0, ep
    assert builds == ["v1"]

    # the index is one job over the published snapshot
    assert _jobs(spark, "index", lambda: SnapshotIndex(store.read(spark, "cat"))) == 1

    version[0] = "v2"
    first = eng.refresh._lru["cat"].index
    for ep, request in requests.items():
        request()
    assert builds == ["v1", "v2"] and eng.refresh.refresh_count == 2
    rebuilt = eng.refresh._lru["cat"].index
    assert rebuilt is not first
    for ep, request in requests.items():
        assert _jobs(spark, f"hit2-{ep}", request) == 0, ep
    assert eng.refresh._lru["cat"].index is rebuilt and len(builds) == 2
