"""Every public top-level ``def``/``class`` in the package is used by the
program: something outside ``tests/`` other than its own definition
names it — the package, ``__spark_entry__.py``, ``bench.py``, ``tools/``
or ``perfbench/``. A name only tests reach is dead surface; delete it,
or list it below with the one-line reason it stays. Pure source scan,
no Spark.

A "use" is a Name or attribute access spelled like the definition, an
imported name, or a string constant equal to it (``__all__`` entries,
registries keyed by name). The scan matches by spelling, so it can
only err towards calling a name used."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "clinical_vector_search_spark"

ALLOWED = {
    "interval_join_batch": "tests use it as the batch reference for the "
    "watermarked stream-stream interval join",
    "chained_agg_batch": "tests use it as the batch reference for the "
    "chained streaming aggregation",
    "weighted_mean_expr": "tests use it as the combinable expression "
    "reference for the weighted_mean pandas_udf",
    "verify_shard_manifest": "consumer-side tamper check for "
    "publish_shards artifacts",
    "print_topk": "S9 stdout result sink of the reference pipeline",
    "plot_metrics": "S8 PNG metric sink of the reference pipeline",
    "build_bm25_index_table": "S6 BM25 index materialization of the "
    "reference pipeline",
    "read_bm25_index": "S6 read-back of build_bm25_index_table",
    "load_mtsamples": "S1 loader for the reference's MTSamples dataset",
    "encode_pd": "S2 sentence-transformers embedder of the reference "
    "pipeline (env-gated)",
    "zorder_write": "Z-order file clustering writer; the layout tests "
    "measure its file pruning",
    "phash_candidate_pairs": "perceptual-hash near-dup pairs over the "
    "multimodal image column",
    "write_bucketed": "bucketed-table writer; tests assert its "
    "Exchange-free joins",
    "build_vector_index": "S5 vector index materialization of the "
    "reference pipeline",
    "upsert_vector_index": "latest-wins incremental vector index upsert "
    "under the compaction lease",
    "upsert_vector_index_versioned": "pointer-file upsert for stores "
    "without atomic directory rename",
    "residual_vectors": "IVF residuals that trained residual codebooks "
    "are fitted on",
    "write_trained_state": "stamps trained IVF-PQ centroids/codebooks "
    "as the index sidecar",
    "write_semantic_state": "stamps trained semantic centroids as the "
    "index sidecar",
    "read_semantic_state": "reads the sidecar write_semantic_state "
    "stamps",
}


def _program_files():
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    for d in ("clinical_vector_search_spark", "tools", "perfbench"):
        for path in (REPO / d).rglob("*.py"):
            if "tests" not in path.relative_to(REPO).parts:
                yield path


def _uses(node: ast.AST) -> set[str]:
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            names.add(n.value)
    return names


def _scan() -> tuple[set[str], set[str]]:
    """(public top-level package defs, names used outside each def's
    own body)."""
    defined: set[str] = set()
    used: set[str] = set()
    for path in _program_files():
        tree = ast.parse(path.read_text())
        in_package = PACKAGE in path.parents
        for node in tree.body:
            is_def = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if is_def and in_package and not node.name.startswith("_"):
                defined.add(node.name)
                # a def's own body (recursion) is not a use of it
                used |= _uses(node) - {node.name}
            else:
                used |= _uses(node)
    return defined, used


def test_every_public_definition_has_a_program_caller():
    defined, used = _scan()
    unused = sorted(defined - used - ALLOWED.keys())
    assert unused == [], (
        f"public package definitions only tests reach: {unused}; delete "
        "them, or allowlist each with the reason it stays"
    )


def test_public_surface_allowlist_is_not_stale():
    defined, used = _scan()
    stale = sorted(n for n in ALLOWED if n not in defined or n in used)
    assert stale == [], (
        f"allowlist entries that are gone or now have a program caller: "
        f"{stale}; remove them"
    )
