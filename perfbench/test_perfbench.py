"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests take a second. ``test_traced_counts_repeat`` runs
the traced benchmark twice per workload (several minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest_tree(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def _inputs(seed: int, tmp) -> dict:
    out = tmp / f"corpus{seed}-{len(os.listdir(tmp))}"
    gen.write_corpus(str(out), seed, 200, 2000)
    return {
        "stream": json.dumps(gen.stream_ticks(seed, 3, 500)),
        "api": json.dumps(gen.api_script(seed, 3, 4, 3, 200)),
        "corpus": _digest_tree(str(out)),
    }


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _inputs(7, tmp_path) == _inputs(7, tmp_path)


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _inputs(7, tmp_path), _inputs(8, tmp_path)
    assert all(a[k] != b[k] for k in a)


def test_stream_ticks_have_fixed_make_up():
    for tick in gen.stream_ticks(3, 4, 100):
        assert sorted(f["kind"] for f in tick) == ["inorder"] * 3 + ["late", "reject"]


def test_api_passes_have_one_rejected_post():
    for posts in gen.api_script(3, 3, 4, 3, 100)["passes"]:
        assert sorted(p["reject"] for p in posts) == [False, False, True]


def test_documents_have_measured_duplicate_shares():
    import random

    texts = gen.documents(random.Random(3), 2500)["text"]
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == round(gen.NEAR_DUP_SHARE * 2500)
    assert all(t[: -len(" dup")] in texts for t in near)
    assert len(texts) - len(set(texts)) == round(gen.EXACT_DUP_SHARE * 2500)


def _traced(workload: str, seed: int) -> dict:
    """Per-operation (jobs, tasks) of one traced run."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["correct"]
    with open(os.path.join(ROOT, ".perfbench_work", "out", f"spans-{workload}-s{seed}.json")) as f:
        spans = json.load(f)
    counts = {op: (g["jobs"], g["tasks"]) for op, g in spans["job_groups"].items()}
    for i, b in enumerate(spans["diagnostics"]["detail"].get("batches", [])):
        counts[f"batch{i}"] = (b["jobs"], b["tasks"])
    return counts


@pytest.mark.parametrize("workload", ["sensor_stream", "sensor_api", "corpus_queries"])
def test_traced_counts_repeat(workload):
    a, b = _traced(workload, 5), _traced(workload, 5)
    common = set(a) & set(b)
    assert common
    assert {k: a[k] for k in common} == {k: b[k] for k in common}
