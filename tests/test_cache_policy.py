"""Cache policy lint: every ``.cache()`` / ``.persist()`` in the
operators and the store is listed here with the reason it exists.

A cache pins executor memory until it is unpersisted or the session
ends, and under adaptive execution concurrent query stages can each
start building the same in-memory relation. So a new cache must state
why exchange reuse or a checkpoint does not serve instead; a removed
one must leave this list too."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "vectorsearchutil_spark")

#: (file, enclosing function) -> (number of calls, reason)
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/clustering.py", "kmeans"): (
        1, "the distributed Lloyd's loop re-reads the working set every "
        "iteration"),
    ("operators/dedup.py", "minhash_lsh_pairs"): (
        1, "the per-doc shingle arrays feed the signature projection and "
        "the per-pair verify; a per-row projection has no exchange to reuse"),
    ("operators/dedup.py", "_tf_packed_votes"): (
        1, "the vocabulary broadcast runs the token counts as its own job "
        "and the vote aggregate reads them again"),
    ("operators/dedup.py", "incremental_ingest_dedup"): (
        1, "the stateless form derives meta, buckets and intersections from "
        "one shingle table of the existing side"),
    ("operators/dedup.py", "scrub_duplicate_spans"): (
        2, "the span list feeds the match join and both side sets; the "
        "per-doc cut lists feed four consumers"),
    ("operators/dedup.py", "containment_pairs"): (
        1, "the per-doc lists feed the probe prefix, the full index side "
        "and the verify"),
    ("operators/fuzzyjoin.py", "fuzzy_pairs_ed1"): (
        1, "a column rename defeats exchange reuse across the four "
        "references of the (key, string) projection"),
    ("operators/graph.py", "pagerank"): (
        1, "out-degrees join every distributed iteration"),
    ("operators/intervals.py", "concurrency_by_day"): (
        1, "both sweep levels read the boundary rows"),
    ("operators/mlops.py", "mlp_classifier"): (
        1, "the MLP trainer iterates over the training split"),
    ("operators/multimodal.py", "ahash_neardup_pairs"): (
        1, "a cache boundary stops Catalyst from inlining the large hash "
        "expression into five projections"),
    ("operators/sampling.py", "dsir_importance"): (
        1, "the model rollup and the scoring join read the same aggregate"),
    ("operators/sketches.py", "heavy_hitters_exact"): (
        1, "the candidate pass feeds the total and the candidate filter"),
    ("store.py", "_persist"): (
        1, "a store with no path, table or ACID log lives in the cache"),
    ("store.py", "_update_dedup_state"): (
        2, "dedup state of a store with no persistent location lives in "
        "the cache"),
    ("store.py", "add_to_ann_index"): (
        1, "the fresh rows are counted and then written; unpersisted in a "
        "finally block"),
    ("store.py", "set_zeroshot_labels"): (
        1, "the embedded label table is read by every zero-shot call"),
}


def _cache_calls() -> dict[tuple[str, str], int]:
    files = [
        os.path.join(PKG, "operators", f)
        for f in sorted(os.listdir(os.path.join(PKG, "operators")))
        if f.endswith(".py")
    ] + [os.path.join(PKG, "store.py")]
    found: dict[tuple[str, str], int] = {}

    def walk(node: ast.AST, rel: str, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else func
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("cache", "persist")
            ):
                key = (rel, func)
                found[key] = found.get(key, 0) + 1
            walk(child, rel, inner)

    for path in files:
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        with open(path, encoding="utf-8") as fh:
            walk(ast.parse(fh.read()), rel, "<module>")
    return found


def test_every_cache_is_allowlisted_with_a_reason():
    found = _cache_calls()
    expected = {key: n for key, (n, _reason) in ALLOWED.items()}
    assert found == expected, (
        "a .cache()/.persist() in operators/ or store.py must be listed in "
        f"ALLOWED with its reason: found {found}, listed {expected}"
    )
    assert all(reason for _n, reason in ALLOWED.values())
