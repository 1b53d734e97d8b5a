"""Each operator has one implementation: the package defines no pair of
top-level functions ``X`` and ``X_pd`` unless ``X`` is allowlisted below
with the reason its second implementation stays, and the maintained-index
storage protocol is spelled out only in ``io/tables.py``, and the bounded
streaming replay (memory sink, sentinel files) only in its two
``streaming/events.py`` helpers. Pure source scan, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "clinical_vector_search_spark"

ALLOWED_PAIRS = {
    "ivfpq_encode": "perfbench's ingest workload pins ivfpq_index_add(encoder=)",
    "hash_embed": "perfbench imports hash_embed_pd; bench.warm's plan shape "
    "uses the expression hash_embed",
    "semantic_clusters": "measured dispatcher: semantic_dedup(accel='auto') "
    "picks by (dim, n_clusters) via choose_semantic_encoder",
    "semantic_dedup_pairs": "measured dispatcher: same auto choice as "
    "semantic_clusters",
}


def _top_level_defs() -> set[str]:
    names: set[str] = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(node.name)
    return names


def test_no_unlisted_pd_twins():
    names = _top_level_defs()
    pairs = {n[: -len("_pd")] for n in names if n.endswith("_pd")} & names
    unlisted = sorted(pairs - ALLOWED_PAIRS.keys())
    assert unlisted == [], (
        f"operators with two implementations: {unlisted}; delete one, or "
        "select between them at a measured crossover and allowlist it "
        "with the reason"
    )
    # an allowlist entry whose pair is gone is stale
    assert sorted(ALLOWED_PAIRS.keys() - pairs) == []


# the steps of the maintained-index batch protocol; kits reach them only
# through io.tables' two halves (open_batch / write_batch, read_batches)
PROTOCOL_STEPS = {
    "batch_subdir",
    "guard_batch_not_compacted",
    "ingest_markers",
    "recover_interrupted_swap",
    "run_write_jobs",
}


def test_batch_protocol_is_written_once_in_io_tables():
    tables = PACKAGE / "io" / "tables.py"
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == tables:
            continue
        rel = path.relative_to(PACKAGE)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if name in PROTOCOL_STEPS:
                    offenders.append(f"{rel}:{node.lineno} calls {name}")
            elif (
                isinstance(node, ast.Constant)
                and node.value == "recursiveFileLookup"
            ):
                offenders.append(f"{rel}:{node.lineno} recursiveFileLookup")
    assert offenders == [], (
        f"batch protocol steps outside io/tables.py: {offenders}; call "
        "open_batch / write_batch / read_batches instead"
    )


# the two bounded-replay mechanisms and the one function allowed to spell
# each: starting a memory sink and waiting on it, and writing the
# sentinel files a replay reads one per micro-batch
REPLAY_OWNERS = {
    "sink": "streaming/events.py:_replay_to_memory",
    "sentinel": "streaming/events.py:_sentinel_replay",
}


def _replay_step(node: ast.AST) -> str | None:
    """The replay mechanism ``node`` belongs to, or None."""
    if isinstance(node, ast.Constant) and node.value == "maxFilesPerTrigger":
        return "sentinel"
    if isinstance(node, ast.keyword) and node.arg == "maxFilesPerTrigger":
        return "sentinel"
    if not isinstance(node, ast.Call):
        return None
    name = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
    first = node.args[0].value if node.args and isinstance(
        node.args[0], ast.Constant
    ) else None
    if name in ("queryName", "awaitTermination") or (
        name == "format" and first == "memory"
    ):
        return "sink"
    if name == "utime":
        return "sentinel"
    return None


def test_streaming_replay_is_written_once_in_events_helpers():
    owners: dict[str, set[str]] = {"sink": set(), "sentinel": set()}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for top in ast.parse(path.read_text()).body:
            where = f"{rel}:{getattr(top, 'name', top.lineno)}"
            for node in ast.walk(top):
                step = _replay_step(node)
                if step is not None:
                    owners[step].add(where)
    offenders = sorted(
        f"{where} ({step})"
        for step, found in owners.items()
        for where in found - {REPLAY_OWNERS[step]}
    )
    assert offenders == [], (
        f"bounded streaming replay spelled outside its helpers: {offenders}; "
        "call events._replay_to_memory / events._sentinel_replay instead"
    )
    # the helpers themselves still hold the mechanism (the guard is not
    # vacuous after a rename)
    assert owners == {k: {v} for k, v in REPLAY_OWNERS.items()}
