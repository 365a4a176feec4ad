"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [--quick]

1. The output checks reject perturbed outputs: a registry result with
   one changed cell no longer matches its oracle fingerprint, and a
   store read with a swapped neighbour no longer matches brute force.
2. Outside a checkout (only ``BENCHMARK.json`` and ``perfbench/``) the
   benchmark exits non-zero without printing a result.
3. One short run of every workload at the ``tiny`` size, untraced and
   traced, emits exactly the metrics ``BENCHMARK.json`` names, with
   their units, and reports correct outputs. ``--quick`` skips this.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402


def check_perturbed_registry_output() -> None:
    sys.path.insert(0, ROOT)
    from vectorsearchutil_spark.queries import ORACLES

    norm_rows = W.canonicaliser()
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        datagen.write_tables(tmp, 0.001, seed=7)
        name = "tpch_q1_pricing_summary"
        same = W.oracle_fingerprints(norm_rows, ORACLES, [name], tmp)[name]
        con = W.duckdb_tables(tmp)
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        con.close()
    assert rows, "the oracle returned no rows"
    bumped = list(rows)
    first = list(bumped[0])
    j = next(i for i, v in enumerate(first) if isinstance(v, float))
    first[j] += 1e-9
    bumped[0] = tuple(first)
    assert W.fingerprint(norm_rows, cols, rows) == same
    assert W.fingerprint(norm_rows, cols, bumped) != same, \
        "a changed cell kept the oracle fingerprint"
    assert W.fingerprint(norm_rows, cols, rows[1:]) != same, \
        "a dropped row kept the oracle fingerprint"
    print("smoke: perturbed registry output is rejected")


def check_perturbed_store_output() -> None:
    rng = np.random.default_rng(3)
    ids = np.arange(1, 201)
    vecs = rng.standard_normal((200, 64))
    q = rng.standard_normal(64)
    want = W.brute_force_topk(ids, vecs, q, n_rows=150)
    assert all(i <= 150 for i, _ in want)
    assert W.same_topk(want, want)
    swapped = [want[1], want[0], *want[2:]]
    assert not W.same_topk(swapped, want), "swapped neighbours accepted"
    moved = [(i, d + 1e-3) for i, d in want]
    assert not W.same_topk(moved, want), "shifted distances accepted"
    print("smoke: perturbed store output is rejected")


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "control_heavy", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=tmp, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0, "ran without the engine package"
    assert '"metrics"' not in p.stdout, "printed a result without the engine"
    print("smoke: a directory without the engine fails cleanly")


def check_metrics_emitted() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl,
                 "--seed", "5", "--seconds", "1", "--trace", str(trace),
                 "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=300)
            assert p.returncode == 0, p.stderr[-2000:]
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert out["correct"] and out["failed"] == 0, (wl, out)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (wl, trace, set(got) ^ set(want))
            print(f"smoke: {wl} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} operations, all correct")


def main() -> int:
    check_perturbed_registry_output()
    check_perturbed_store_output()
    check_bare_directory()
    if "--quick" not in sys.argv:
        check_metrics_emitted()
    print("smoke: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
