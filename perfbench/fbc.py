"""Seeded FBC-shaped ``all.json`` streams, the upstream-change mutator,
and a pure-Python model of the seven serving endpoints.

A stream is a list of JSON-lines documents ("metas") shaped like a file-based
catalog: one ``olm.package`` per package (some without an icon), a few
``olm.channel`` rows, many ``olm.bundle`` rows carrying an opaque padded
payload, and an occasional ``olm.deprecations`` row. ``Shape`` controls the
properties the serving path depends on: package count, metas per package,
blob size, the share of icon-less packages, duplicate keys (the later line
wins) and empty-package rows (which the engine files under ``__global``).

``Model`` computes what each endpoint must answer from the stream alone, so
the benchmark can check every response without asking Spark.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass

# the engine's seven endpoints (ConsoleEngine methods)
ENDPOINTS = ("list_catalogs", "get_catalog", "list_packages", "list_schemas",
             "list_objects", "get_object", "get_icon")
GLOBAL_PACKAGE = "__global"
PACKAGE_SCHEMA = "olm.package"
_WORDS = (
    "etcd prometheus grafana kafka strimzi vault cert ingress mesh jaeger loki "
    "tempo redis mongo postgres mysql minio ceph rook velero argo tekton knative "
    "keda falco trivy kyverno gatekeeper sealed external dns metallb calico"
).split()


@dataclass(frozen=True)
class Shape:
    packages: int = 120
    bundles_per_package: int = 18
    channels_per_package: int = 2
    blob_bytes: int = 320  # payload padding per bundle
    iconless_share: float = 0.3
    dup_share: float = 0.03  # extra lines re-emitting an earlier key
    global_share: float = 0.01  # bundle rows with an empty package


def _package_name(rng: random.Random, i: int) -> str:
    return f"{rng.choice(_WORDS)}-operator-{i:04d}"


def _icon(rng: random.Random, name: str) -> dict:
    svg = f"<svg xmlns='http://www.w3.org/2000/svg' id='{name}'>{'x' * rng.randint(40, 400)}</svg>"
    return {"base64data": base64.b64encode(svg.encode()).decode(), "mediatype": "image/svg+xml"}


def _pad(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


def _bundle(rng: random.Random, package: str, name: str, blob_bytes: int) -> dict:
    return {
        "schema": "olm.bundle",
        "package": package,
        "name": name,
        "image": f"quay.io/operators/{name}@sha256:{_pad(rng, 16)}",
        "properties": [
            {"type": "olm.package", "value": {"packageName": package, "version": name}},
            {"type": "olm.csv.metadata", "value": {"description": _pad(rng, blob_bytes)}},
        ],
    }


def generate(seed: int, shape: Shape = Shape()) -> list[str]:
    """The JSON-lines documents of one catalog, deterministic per seed."""
    rng = random.Random(seed)
    docs: list[dict] = []
    for i in range(shape.packages):
        pkg = _package_name(rng, i)
        pkg_doc = {"schema": PACKAGE_SCHEMA, "name": pkg, "defaultChannel": "stable"}
        if rng.random() >= shape.iconless_share:
            pkg_doc["icon"] = _icon(rng, pkg)
        docs.append(pkg_doc)
        for c in range(shape.channels_per_package):
            docs.append(
                {
                    "schema": "olm.channel",
                    "package": pkg,
                    "name": ("stable", "fast", "candidate")[c % 3] + ("" if c < 3 else str(c)),
                    "entries": [{"name": f"{pkg}.v{b}.0.0"} for b in range(3)],
                }
            )
        for b in range(shape.bundles_per_package):
            docs.append(_bundle(rng, pkg, f"{pkg}.v{b}.{rng.randint(0, 9)}.0", shape.blob_bytes))
        if rng.random() < 0.1:
            docs.append({"schema": "olm.deprecations", "package": pkg, "name": f"{pkg}-deprecations"})
    n_global = max(1, int(len(docs) * shape.global_share))
    for g in range(n_global):
        docs.append(_bundle(rng, "", f"orphan.v{g}.0.0", shape.blob_bytes))
    lines = [json.dumps(d) for d in docs]
    rng.shuffle(lines)
    # duplicate keys: re-emit an earlier key later in the stream with a new
    # payload; the later line must win
    for _ in range(int(len(lines) * shape.dup_share)):
        doc = json.loads(rng.choice(lines))
        doc["revision"] = rng.randint(1, 10**6)
        lines.append(json.dumps(doc))
    return lines


def mutate(lines: list[str], seed: int, frac: float) -> list[str]:
    """An upstream change: about ``frac`` of the lines are removed, as many
    rewritten in place with a new payload, and as many new bundles added."""
    rng = random.Random(seed)
    k = max(1, int(len(lines) * frac))
    out = list(lines)
    for _ in range(k):
        out.pop(rng.randrange(len(out)))
    for _ in range(k):
        i = rng.randrange(len(out))
        doc = json.loads(out[i])
        doc["revision"] = rng.randint(1, 10**6)
        out[i] = json.dumps(doc)
    packages = [json.loads(ln)["name"] for ln in out if json.loads(ln)["schema"] == PACKAGE_SCHEMA]
    for j in range(k):
        pkg = rng.choice(packages) if packages else ""
        out.insert(rng.randrange(len(out) + 1), json.dumps(_bundle(rng, pkg, f"{pkg}.added{seed}.{j}", 64)))
    return out


def write(lines: list[str], path: str) -> int:
    """Write the stream as ``all.json``; returns its size in bytes."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class Model:
    """Expected answers of the data endpoints for one stream.

    Mirrors the engine's semantics: ``olm.package`` rows are keyed by their
    name, an empty or missing package falls back to ``__global``, the later
    of two lines with one (package, schema, name) key wins, listings are
    sorted, and a missing key answers ``None``.
    """

    def __init__(self, lines: list[str]) -> None:
        objects: dict[tuple[str, str, str], str] = {}
        for ln in lines:
            doc = json.loads(ln)
            schema, name = doc["schema"], doc["name"]
            key = name if schema == PACKAGE_SCHEMA else doc.get("package")
            objects[(key or GLOBAL_PACKAGE, schema, name)] = ln
        self.objects = objects
        self.tree: dict[str, dict[str, list[str]]] = {}
        for pkg, schema, name in sorted(objects):
            self.tree.setdefault(pkg, {}).setdefault(schema, []).append(name)

    def list_packages(self) -> list[str]:
        return sorted(self.tree)

    def list_schemas(self, package: str) -> list[str]:
        return sorted(self.tree.get(package, {}))

    def list_objects(self, package: str, schema: str) -> list[str]:
        return self.tree.get(package, {}).get(schema, [])

    def get_object(self, package: str, schema: str, name: str) -> str | None:
        return self.objects.get((package, schema, name))

    def get_icon(self, package: str) -> tuple[bytes, str] | None:
        blob = self.objects.get((package, PACKAGE_SCHEMA, package))
        icon = json.loads(blob).get("icon") if blob else None
        if not icon or icon.get("base64data") is None:
            return None
        return base64.b64decode(icon["base64data"]), icon.get("mediatype")
