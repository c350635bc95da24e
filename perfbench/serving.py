"""The serving workload, ``refresh_mixed``.

One closed-loop client sends the next request only after the previous answer
arrived, like a console UI waiting on each call. The traffic is browsing
sessions. A session walks the reference's endpoint tree from the top, as the
routes in ``console_etl_spark/engine.py`` nest: the catalogs, one catalog,
its packages, the icon of every listed package (a package list shows each
package's icon), then one package's schemas, one schema's objects and one
object. Each key comes from the answer before it, so a session asks only for
keys that exist. The 404 path it meets is ``get_icon``'s: ``__global`` and
the packages without an icon have none.

What the client picks is not taken from any usage record; these are
assumptions, chosen to keep every kind of work in each pass:

- the package, schema and object opened are drawn uniformly from the listing
  (no skew toward hot keys: there is no data to set one by);
- a pass is four sessions, on catalogs 0, 1, 0, 2, with room for two
  catalogs in the freshness cache, so the sessions on catalogs 1 and 2 find
  theirs evicted (two cold builds per pass) and catalog 0 stays cached;
- catalog 0's upstream changes before its second session (one refresh per
  pass: probe, ingest, publish, read, answer), with 5 % of its lines
  removed, as many rewritten and as many added.

With ``SHAPE``'s 6 packages (7 listed, with ``__global``) a session is 13
requests and a pass 52: 3 that refresh and 49 on the 304 hit path, 28 of
them ``get_icon``. An upstream change can add or drop a listed package, and
with it an icon request. Every answer is checked against ``fbc.Model`` of the
upstream version the engine must be serving.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from console_etl_spark import ingest, queries
from console_etl_spark.catalog import CatalogEntry
from console_etl_spark.engine import ConsoleEngine
from console_etl_spark.store import SnapshotStore

import fbc
from cputime import TreeClock
from spans import Tracer, job_counts

CATALOGS = 3
CAPACITY = 2
# about 160 metas and 0.1 MB per catalog
SHAPE = fbc.Shape(packages=6, bundles_per_package=20, blob_bytes=400)
MUTATE_FRAC = 0.05
SESSIONS = (0, 1, 0, 2)  # the catalog each session of a pass browses
BUMP_BEFORE = 2  # the session before which catalog 0's upstream changes


@dataclass
class Upstream:
    """One catalog's upstream: a directory of versioned ``all.json`` files."""

    name: str
    root: str
    lines: list[str]
    version: int = 0
    model: fbc.Model = field(init=False)
    size: int = field(init=False)

    def __post_init__(self) -> None:
        self._publish_file()

    def _publish_file(self) -> None:
        os.makedirs(os.path.dirname(self.path()), exist_ok=True)
        self.size = fbc.write(self.lines, self.path())
        self.model = fbc.Model(self.lines)

    def path(self) -> str:
        return os.path.join(self.root, self.name, f"v{self.version}", "all.json")

    def token(self) -> str:
        return f"{self.name}@v{self.version}"

    def bump(self, seed: int, frac: float) -> None:
        self.lines = fbc.mutate(self.lines, seed, frac)
        self.version += 1
        self._publish_file()


def make_upstreams(seed: int, root: str) -> list[Upstream]:
    return [Upstream(f"catalog{i}", root, fbc.generate(seed * 100 + i, SHAPE)) for i in range(CATALOGS)]


def make_engine(spark, store_root: str, upstreams: list[Upstream], tracer: Tracer) -> ConsoleEngine:
    engine = ConsoleEngine(spark, SnapshotStore(store_root), capacity=CAPACITY)
    for up in upstreams:
        engine.register_catalog(
            CatalogEntry(up.name, source=up.root),
            _probe(up, tracer),
            _build(up, tracer),
        )
    return engine


def _probe(up: Upstream, tracer: Tracer):
    def probe() -> str:
        with tracer.span("refresh.probe"):
            return up.token()

    return probe


def _build(up: Upstream, tracer: Tracer):
    def build(spark):
        with tracer.span("ingest.build"):
            return ingest.ingest_meta_stream(spark, up.path())

    return build


def instrument(tracer: Tracer, engine: ConsoleEngine, written: list[tuple[int, int]]) -> None:
    """Span the public calls of each layer the engine goes through."""
    for ep in fbc.ENDPOINTS:
        tracer.wrap(engine, ep, f"engine.{ep}")
    tracer.wrap(engine.registry, "require_ready", "catalog.guard")
    tracer.wrap(engine.registry, "get", "catalog.guard")
    tracer.wrap(engine.refresh, "get", "refresh.get")
    store = engine.store

    def count_written(info) -> None:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(info.path) for f in fs]
        written.append((len(paths), sum(os.path.getsize(p) for p in paths)))

    tracer.wrap(store, "publish", "store.publish", after=count_written)
    for call in ("read", "current", "drop"):
        tracer.wrap(store, call, f"store.{call}")


def instrument_modules(tracer: Tracer) -> None:
    """Module-level calls the engine looks up at call time; done once per
    process, the wrappers are idle while the tracer is off."""
    for fn in ("list_packages", "list_schemas", "list_objects", "get_object", "get_package_icon"):
        tracer.wrap(queries, fn, "queries.plan")
    tracer.wrap(ingest, "read_meta_stream", "ingest.read_meta_stream")
    tracer.wrap(ingest, "shred_metas", "ingest.shred")
    from pyspark.sql.classic.dataframe import DataFrame

    # the Spark action that answers a request, when the engine calls it;
    # ``take`` and ``head`` run through ``collect``
    tracer.wrap(DataFrame, "collect", "engine.action", inside="engine")


# -- requests --------------------------------------------------------------
def call(engine: ConsoleEngine, req: tuple):
    """Send one request; the answer as plain Python values, materialised."""
    ep, args = req[0], req[1:]
    if ep == "list_catalogs":
        return sorted((r["name"], r["phase"]) for r in engine.list_catalogs().collect())
    if ep == "get_catalog":
        entry = engine.get_catalog(*args)
        return (entry.name, entry.phase)
    if ep in ("get_object", "get_icon"):
        out = getattr(engine, ep)(*args)
        if ep == "get_icon" and out is not None:
            out = (bytes(out[0]), out[1])
        return out
    return [r[0] for r in getattr(engine, ep)(*args).collect()]


def expected(req: tuple, upstreams: dict[str, Upstream]):
    ep, args = req[0], req[1:]
    if ep == "list_catalogs":
        return sorted((name, "Unpacked") for name in upstreams)
    if ep == "get_catalog":
        return (args[0], "Unpacked")
    model = upstreams[args[0]].model
    return getattr(model, ep)(*args[1:])


def rows_returned(answer) -> int:
    if answer is None:
        return 0
    return len(answer) if isinstance(answer, list) else 1


# -- the workload ------------------------------------------------------------
class Serving:
    PASS_S = 9.0  # seconds per pass, about, on a 4-core host

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, clock: TreeClock) -> None:
        self.spark, self.seed, self.work, self.tracer, self.clock = spark, seed, work, tracer, clock
        self.engine: ConsoleEngine | None = None
        self.upstreams: dict[str, Upstream] = {}
        self.written: list[tuple[int, int]] = []  # (files, bytes) per publish
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.unmeasured = 0  # set-up operations: attempted, not measured

    def setup(self) -> None:
        """Generate the catalogs, start the engine, then one pass as a
        warm-up: its first request ingests and publishes catalog 0, and the
        JVM compiles the hot paths of every endpoint and of refresh."""
        ups = make_upstreams(self.seed, os.path.join(self.work, "upstream"))
        self.upstreams = {u.name: u for u in ups}
        self.engine = make_engine(self.spark, os.path.join(self.work, "store"), ups, self.tracer)
        self.run_pass(0, record=False)

    # requests -------------------------------------------------------------
    def request(self, req: tuple, record: bool = True):
        """Send one request and check its answer; returns the expected
        answer, whose keys the session follows."""
        refresh = self.engine.refresh
        builds0, hits0 = refresh.refresh_count, refresh.hit_count
        group = None
        if self.tracer.enabled:
            group = f"op-{len(self.ops)}"
            self.spark.sparkContext.setJobGroup(group, req[0])
        mark = self.clock.mark()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("engine.request"):
                answer = call(self.engine, req)
            error = None
        except Exception as exc:  # a failed request is counted, not fatal
            answer, error = None, f"{type(exc).__name__}: {exc}"
        ms = (time.perf_counter() - t0) * 1000.0
        cpu_ms = self.clock.since(mark)
        want = expected(req, self.upstreams)
        if error is None and answer != want:
            error = "answer differs from the model"
        ok = error is None
        if not ok:
            self.failures.append(f"{req}: {error}")
        op = {
            "endpoint": req[0],
            "ms": ms,
            "cpu_ms": cpu_ms,
            "ok": ok,
            "refresh": refresh.refresh_count > builds0,
            "hit": refresh.hit_count > hits0,
            "traced": self.tracer.enabled,
            "rows": rows_returned(answer),
        }
        if group is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            op["group"], op["rid"] = group, self.tracer.rid
            op["jobs"], op["tasks"] = job_counts(self.spark.sparkContext, group)
        if record:
            self.ops.append(op)
        else:
            self.unmeasured += 1
            if not ok:
                raise RuntimeError(f"set-up request failed: {self.failures[-1]}")
        return want

    def browse(self, up: Upstream, rng: random.Random, record: bool = True) -> None:
        """One session: down the endpoint tree, following each answer."""
        c = up.name
        self.request(("list_catalogs",), record)
        self.request(("get_catalog", c), record)
        packages = self.request(("list_packages", c), record)
        for pkg in packages:
            self.request(("get_icon", c, pkg), record)
        pkg = rng.choice(packages)
        schema = rng.choice(self.request(("list_schemas", c, pkg), record))
        name = rng.choice(self.request(("list_objects", c, pkg, schema), record))
        self.request(("get_object", c, pkg, schema, name), record)

    def run_pass(self, p: int, record: bool = True) -> float:
        rng = random.Random(self.seed * 7919 + p)
        ups = list(self.upstreams.values())
        first = len(self.ops)
        for s, c in enumerate(SESSIONS):
            if s == BUMP_BEFORE:
                ups[0].bump(rng.randrange(1 << 30), MUTATE_FRAC)
            self.browse(ups[c], rng, record)
        for op in self.ops[first:]:
            op["pass"] = p
        # the client's time waiting on answers; upstream changes are not in it
        return sum(op["ms"] for op in self.ops[first:]) / 1000.0

    def store_bytes_per_input_byte(self) -> float:
        on_disk = in_bytes = 0
        for name, up in self.upstreams.items():
            info = self.engine.store.current(name)
            if info is None:
                continue
            on_disk += sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(info.path) for f in fs
            )
            in_bytes += up.size
        return on_disk / in_bytes if in_bytes else 0.0
