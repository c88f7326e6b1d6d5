"""Dead-code guard: every top-level def in the package is used by code
that ships (the package itself, ``bench.py``, ``__spark_entry__.py``,
``tools/``, ``perfbench/``), or is on ``ALLOWED`` with its reason.

"Used" means an identifier outside the def's own body: a name, an
attribute, or an import alias. A re-export in ``__init__.py`` counts;
a mention in a docstring, comment or ``__all__`` string does not.
Tests are not counted, so library code that only tests reach fails
here until it is deleted or listed.
"""

from __future__ import annotations

import ast
import collections
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "meshtastic_airsensor_database_spark"

ALLOWED = {
    "functions/scalars.py::string_agg_topics":
        "reference parity scalar: the topic-list join of AIRWISEv0.py:369",
    "operators/align.py::asof_fill":
        "public time-series operator: unbounded LOCF fill "
        "(asof_join_tolerance is the staleness-bounded form)",
    "operators/align.py::salted_collect_list":
        "public skew operator: two-phase collect_list for hot keys",
    "operators/clean.py::union_evolving":
        "public schema-drift union over the align_to_schema contract",
    "operators/pq.py::pq_topk":
        "operators/pq.py stays (tools/scale_smoke.py trains and encodes "
        "with it); this is the ADC search over those codes",
    "operators/similarity.py::brute_force_topk":
        "exact top-k that tests use as the reference for every "
        "approximate search",
    "operators/similarity.py::hyperplane_neardup_pairs":
        "public sign-LSH embedding near-dup operator",
    "operators/similarity.py::kmeans_ivf_topk":
        "public IVF search with Spark ML trained centroids",
    "plans/vectorq.py::_dotfold":
        "left-fold dot product a test uses as the bit-exact reference "
        "for _matmul_fold/_matvec_fold",
    "sources/ddl.py::ddl_bootstrap":
        "idempotent catalog bootstrap (EUREKATables.sh:17-41 parity)",
    "sources/ddl.py::write_bucketed":
        "public layout writer: bucketed tables for exchange-free joins",
    "sources/layout.py::write_zordered":
        "public layout writer: z-order clustering for multi-column pruning",
    "sources/sinks.py::console_sink":
        "reference parity sink: per-row console output, "
        "AIRWISEv0.py:187-189",
    "sources/sinks.py::mongo_document_sink":
        "reference parity sink: the Mongo insert of "
        "QuerryGenerator.py:14-15",
    "sources/sinks.py::pymongo_client_factory":
        "the pymongo client factory mongo_document_sink takes",
    "sources/versioned.py::snapshot_changes":
        "public versioned-table API: keyed diff of two retained versions",
    "streaming/observe.py::progress_frame":
        "to be wired into cli/ingest.py as the ingest health table",
    "streaming/observe.py::progress_health":
        "to be wired into cli/ingest.py as the ingest health table",
}


def _shipped_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted(p for p in (ROOT / "perfbench").glob("*.py")
                    if not p.name.startswith("test_"))
    return files


def _identifiers(node: ast.AST) -> collections.Counter:
    out: collections.Counter = collections.Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _unreferenced_defs() -> set[str]:
    used: collections.Counter = collections.Counter()
    defs = []
    for path in _shipped_files():
        tree = ast.parse(path.read_text())
        used += _identifiers(tree)
        if PKG in path.parents:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    own = _identifiers(node)[node.name]
                    key = f"{path.relative_to(PKG).as_posix()}::{node.name}"
                    defs.append((key, node.name, own))
    return {key for key, name, own in defs if used[name] - own <= 0}


def test_every_package_def_has_a_shipped_caller():
    unreferenced = _unreferenced_defs()
    dead = sorted(unreferenced - ALLOWED.keys())
    assert not dead, (
        "top-level defs with no caller outside tests (delete them, or list "
        f"them in ALLOWED with a reason): {dead}"
    )
    stale = sorted(ALLOWED.keys() - unreferenced)
    assert not stale, f"ALLOWED entries that are gone or now used: {stale}"
