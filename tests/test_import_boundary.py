"""The EPSS user paths — the client, the sources, quantize, the Query
compiler and the session factory — must not load the extension operator
families or the streaming modules. Checked in a fresh interpreter so that
modules imported by other tests do not hide an import."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORE = ["epss_spark.client", "epss_spark.operators.quantize", "epss_spark.plans.query", "epss_spark.session"]

# the import closure of CORE plus every module of epss_spark.sources
CLOSURE = {
    "epss_spark",
    "epss_spark.client",
    "epss_spark.functions",
    "epss_spark.functions.scalars",
    "epss_spark.operators",
    "epss_spark.operators.asof",
    "epss_spark.operators.quantize",
    "epss_spark.plans",
    "epss_spark.plans.query",
    "epss_spark.schemas",
    "epss_spark.session",
    "epss_spark.sources",
    "epss_spark.sources.ingest",
    "epss_spark.sources.readers",
    "epss_spark.sources.sinks",
}

EXTENSIONS = [
    *(
        f"epss_spark.operators.{m}"
        for m in (
            "dedup", "similarity", "text", "multimodal", "sessionize", "clustering", "classifier",
            "graph", "selection", "sketches", "retrieval", "prep", "layout",
        )
    ),
    "epss_spark.queries_ext",
    "epss_spark.streaming",
]

LOAD = """
import importlib, pkgutil, sys
import epss_spark.sources
mods = sys.argv[1:] + [f"epss_spark.sources.{m.name}" for m in pkgutil.iter_modules(epss_spark.sources.__path__)]
for m in mods:
    importlib.import_module(m)
print("\\n".join(sorted(m for m in sys.modules if m.split(".")[0] == "epss_spark")))
"""


def loaded_modules() -> set[str]:
    out = subprocess.run(
        [sys.executable, "-c", LOAD, *CORE], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    return set(out.split())


def test_core_paths_load_no_extension_module():
    loaded = loaded_modules()
    ext = sorted(m for m in loaded if any(m == e or m.startswith(e + ".") for e in EXTENSIONS))
    assert ext == []
    assert loaded == CLOSURE
