"""The ``analytic_core`` workload: a fixed slice of the frozen core queries
into the noop sink.

``SLICE`` takes four queries from ``relational`` and four from ``llmops``
out of the 30-query core (``bench.CORE``): an aggregate, a join with a
HAVING, a disjunctive join, a sessionizing window, shingle dedup, ANN top-k,
token counts and the composed curation pipeline. A whole core pass takes
about 20 s on 4 cores after a 35 s warm-up, which does not fit the
benchmark's run budget; the frozen 30-query series stays with ``bench.py``.

Set-up generates the fixture tables from the seed at ``SF``, runs every
query of the slice once on them and checks it, outside the timed region:
each must equal its DuckDB oracle row for row after the repository's own
``canonicalize``. One unrecorded pass then warms the JVM up. A timed pass
calls ``fn(spark, sf)`` (the plan build) and writes the result to the noop
sink (the action) for each query.
"""

from __future__ import annotations

import ast
import os
import time

import duckdb
import pandas as pd

import __spark_entry__ as entry
from console_etl_spark.session import release_pins

import tables
from cputime import TreeClock
from spans import Tracer, job_counts

SLICE = (
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "q19_disjunctive_join",
    "sessionize_events",
    "dedup_shingle_jaccard",
    "ann_topk_cosine",
    "text_top_tokens",
    "curate_corpus_end_to_end",
)
SF = 0.01  # 60k lineitem rows


def canonicalize_fn():
    """``canonicalize`` from tests/test_oracle_parity.py, loaded on its own:
    importing that module would pull in the suite's conftest and its
    session fixtures."""
    path = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)), "tests", "test_oracle_parity.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canonicalize")
    ns = {"pd": pd}
    exec(compile(ast.Module([fn], type_ignores=[]), path, "exec"), ns)
    return ns["canonicalize"]


def oracle_mismatch(sp: pd.DataFrame, dk: pd.DataFrame) -> str | None:
    """The parity suite's comparison: columns, row count, values exactly."""
    if list(sp.columns) != list(dk.columns):
        return f"columns {list(sp.columns)} != {list(dk.columns)}"
    if len(sp) != len(dk):
        return f"{len(sp)} rows vs oracle {len(dk)}"
    try:
        pd.testing.assert_frame_equal(sp, dk, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None


def layer_of(fn) -> str:
    return fn.__module__.split(".")[1]  # console_etl_spark.<relational|llmops>.<module>


class Analytic:
    PASS_S = 6.0  # seconds per pass, about, on a 4-core host

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, clock: TreeClock) -> None:
        self.spark, self.seed, self.work, self.tracer, self.clock = spark, seed, work, tracer, clock
        self.queries = entry.queries()
        self.oracle = entry.oracle_sql()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.unmeasured = 0  # set-up operations: attempted, not measured

    def setup(self) -> None:
        """Generate the tables, run the checked pass, then one unrecorded
        pass as a warm-up, in which the JVM compiles the slice's hot paths."""
        self.sf_dir = os.path.join(self.work, f"sf{SF}")
        tables.write(self.seed, SF, self.sf_dir)
        self.check()
        self.run_pass(0, record=False)

    def check(self) -> None:
        sf_dir = self.sf_dir
        canonicalize = canonicalize_fn()
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb")})
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for name in SLICE:
                self.unmeasured += 1
                try:
                    sp = self.queries[name](self.spark, sf_dir).toPandas()
                    err = oracle_mismatch(
                        canonicalize(sp), canonicalize(con.execute(self.oracle[name]).fetchdf())
                    )
                    if err:
                        self.failures.append(f"{name}: {err}")
                except Exception as exc:  # counted as a failed check
                    self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
                release_pins()
                self.spark.catalog.clearCache()
        finally:
            con.close()

    def run_pass(self, p: int, record: bool = True) -> float:
        first = len(self.ops)
        sc = self.spark.sparkContext
        for name in SLICE:
            fn = self.queries[name]
            layer = layer_of(fn)
            group = None
            if self.tracer.enabled:
                group = f"op-{len(self.ops)}"
                sc.setJobGroup(group, name)
            ok = True
            mark = self.clock.mark()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"core.{name}"):
                    with self.tracer.span(f"{layer}.build"):
                        df = fn(self.spark, self.sf_dir)
                    with self.tracer.span(f"{layer}.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is counted, not fatal
                ok = False
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            ms = (time.perf_counter() - t0) * 1000.0
            cpu_ms = self.clock.since(mark)
            release_pins()
            self.spark.catalog.clearCache()
            op = {"endpoint": name, "layer": layer, "ms": ms, "cpu_ms": cpu_ms, "ok": ok,
                  "refresh": False, "traced": self.tracer.enabled, "rows": 0, "pass": p}
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                op["group"], op["rid"] = group, self.tracer.rid
                op["jobs"], op["tasks"] = job_counts(sc, group)
            if record:
                self.ops.append(op)
            else:
                self.unmeasured += 1
        return sum(op["ms"] for op in self.ops[first:]) / 1000.0
