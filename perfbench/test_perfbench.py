"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The last test runs one short traced ``refresh_mixed`` run in a subprocess
(about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fbc  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402


def test_generator_is_deterministic_per_seed():
    assert fbc.generate(7) == fbc.generate(7)
    assert fbc.generate(7) != fbc.generate(8)
    lines = fbc.generate(7)
    assert fbc.mutate(lines, 3, 0.05) == fbc.mutate(lines, 3, 0.05)
    a, b = tables.build(7, 0.001), tables.build(7, 0.001)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(tables.build(8, 0.001)["lineitem"])


def test_generator_covers_the_shape():
    lines = fbc.generate(5, fbc.Shape(packages=20, dup_share=0.1, global_share=0.05))
    docs = [json.loads(ln) for ln in lines]
    packages = [d for d in docs if d["schema"] == fbc.PACKAGE_SCHEMA]
    assert len(packages) >= 20
    assert any("icon" not in d for d in packages) and any("icon" in d for d in packages)
    assert any(d.get("package") == "" for d in docs)
    assert any("revision" in d for d in docs)  # re-emitted keys


def test_model_semantics():
    pkg = {"schema": "olm.package", "name": "p", "icon": {"base64data": "aGk=", "mediatype": "image/png"}}
    first = {"schema": "olm.bundle", "package": "p", "name": "b1", "v": 1}
    last = {"schema": "olm.bundle", "package": "p", "name": "b1", "v": 2}
    orphan = {"schema": "olm.bundle", "package": "", "name": "o1"}
    lines = [json.dumps(d) for d in (pkg, first, orphan, last)]
    m = fbc.Model(lines)
    assert m.list_packages() == ["__global", "p"]
    assert m.list_schemas("p") == ["olm.bundle", "olm.package"]
    assert m.list_objects("__global", "olm.bundle") == ["o1"]
    assert json.loads(m.get_object("p", "olm.bundle", "b1"))["v"] == 2  # last line wins
    assert m.get_object("p", "olm.bundle", "nope") is None
    assert m.get_icon("p") == (b"hi", "image/png")
    assert m.get_icon("nope") is None
    assert m.list_schemas("nope") == []


class _Rows:
    def __init__(self, values):
        self.values = values

    def collect(self):
        return [(v,) for v in self.values]


class _FakeEngine:
    """Answers from the model, or each answer deliberately corrupted."""

    def __init__(self, model: fbc.Model, corrupt: bool) -> None:
        from types import SimpleNamespace

        self.model, self.corrupt = model, corrupt
        self.refresh = SimpleNamespace(refresh_count=0, hit_count=0)

    def _list(self, values):
        return _Rows(values[1:] if self.corrupt else values)

    def list_packages(self, catalog):
        return self._list(self.model.list_packages())

    def list_schemas(self, catalog, pkg):
        return self._list(self.model.list_schemas(pkg))

    def list_objects(self, catalog, pkg, schema):
        return self._list(self.model.list_objects(pkg, schema))

    def get_object(self, catalog, pkg, schema, name):
        blob = self.model.get_object(pkg, schema, name)
        return blob.replace('"', "'", 1) if self.corrupt else blob

    def get_icon(self, catalog, pkg):
        data, media = self.model.get_icon(pkg)
        return (data[:-1] + b"?" if self.corrupt else data), media


def test_answer_check_flags_corrupted_responses():
    import serving
    from cputime import TreeClock
    from spans import Tracer

    lines = fbc.generate(11, fbc.Shape(packages=10))
    model = fbc.Model(lines)
    pkg = next(p for p in model.list_packages() if model.get_icon(p) and model.list_objects(p, "olm.bundle"))
    reqs = [
        ("list_packages", "catalog0"),
        ("list_schemas", "catalog0", pkg),
        ("list_objects", "catalog0", pkg, "olm.bundle"),
        ("get_object", "catalog0", pkg, "olm.bundle", model.list_objects(pkg, "olm.bundle")[0]),
        ("get_icon", "catalog0", pkg),
    ]
    for corrupt in (False, True):
        wl = serving.Serving(None, 11, "", Tracer(), TreeClock(os.getpid()))
        wl.upstreams = {"catalog0": type("Upstream", (), {"model": model})()}
        wl.engine = _FakeEngine(model, corrupt)
        for req in reqs:
            wl.request(req)
        assert [op["ok"] for op in wl.ops] == [not corrupt] * len(reqs)
        assert len(wl.failures) == (len(reqs) if corrupt else 0)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_core_slice_is_oracle_backed_core():
    import analytic
    from bench import CORE

    assert set(analytic.SLICE) <= set(CORE)
    assert set(analytic.SLICE) <= set(analytic.entry.oracle_sql())
    layers = {analytic.layer_of(analytic.entry.queries()[n]) for n in analytic.SLICE}
    assert layers == {"relational", "llmops"}


def test_host_record():
    host = run.host_record()
    assert host["nproc"] >= 1 and len(host["loadavg"]) == 3 and host["calib_s"] > 0


def test_traced_run_has_one_root_span_per_request():
    seed = 424242
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "refresh_mixed",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    stem = os.path.join(ROOT, ".perfbench_out", f"refresh_mixed-seed{seed}-trace1")
    with open(stem + ".json") as f:
        ops = [op for op in json.load(f)["ops"] if op["traced"]]
    with open(stem + ".spans.json") as f:
        spans = json.load(f)
    roots = [s for s in spans if s["parent"] is None]
    assert ops and len(roots) == len(ops)
    assert sorted(s["rid"] for s in roots) == sorted(op["rid"] for op in ops)
    assert {s["rid"] for s in spans} == {s["rid"] for s in roots}
    assert all(r["name"] == "engine.request" for r in roots)


def test_tree_clock_counts_the_process_tree():
    from cputime import TreeClock

    # a child that runs a grandchild spinning for 0.3 s of CPU, reports, and
    # stays alive until killed
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"
    parent = (f"import subprocess, sys, time\nsubprocess.run([sys.executable, '-c', {spin!r}])\n"
              "print('done', flush=True)\ntime.sleep(60)\n")
    child = subprocess.Popen([sys.executable, "-c", parent], stdout=subprocess.PIPE, text=True)
    try:
        clock = TreeClock(child.pid)
        mark = clock.mark()
        assert child.stdout.readline().strip() == "done"
        assert 250 <= clock.since(mark) < 3000
    finally:
        child.kill()
        child.wait()
