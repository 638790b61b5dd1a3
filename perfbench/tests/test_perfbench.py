"""Tests of the benchmark itself.

The first group needs no Spark. The smoke group runs ``perfbench/run.py
--smoke`` end to end in a subprocess (about a minute per workload):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, datagen
from perfbench.trace import OpRecord, Span
from perfbench.workloads import CYCLE_OPS, PIPELINE_ROWS, WARMUP_OPS, corrupt

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _model_result(model, q, k):
    """What a correct engine returns for ``q``: exact top-k by (distance, id)."""
    ids, dist = model.cosine_dist(q)
    rows = []
    for qi in range(len(q)):
        order = sorted(range(len(ids)), key=lambda j: (dist[qi, j], ids[j]))[:k]
        for rank, j in enumerate(order, 1):
            rows.append((qi, int(ids[j]), rank, float(dist[qi, j]), model.text[int(ids[j])]))
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "rank", "score", "text"])


@pytest.fixture()
def model():
    rng = np.random.default_rng(0)
    vecs = datagen.vectors(rng, 50, 8)
    return checks.VectorModel(range(50), vecs, [f"t{i}" for i in range(50)])


def test_check_search_accepts_exact_and_rejects_corrupted(model):
    q = datagen.vectors(np.random.default_rng(1), 3, 8)
    good = _model_result(model, q, 5)
    assert checks.check_search(model, q, 5, good) == []
    assert checks.check_search(model, q, 5, corrupt(good))  # shifted scores
    stale = good.copy()
    stale.loc[0, "text"] = "old"
    assert any("stale payload" in p for p in checks.check_search(model, q, 5, stale))
    assert checks.check_search(model, q, 5, good[good["rank"] != 2])  # a missing row


def test_check_search_wants_ties_ordered_by_id(model):
    model.index([7], [model.vec[3]], ["twin of 3"])  # ids 3 and 7: one vector
    q = np.stack([model.vec[3]])
    good = _model_result(model, q, 5)
    assert list(good["vec_id"][:2]) == [3, 7]
    assert checks.check_search(model, q, 5, good) == []
    swapped = good.copy()
    swapped.loc[[0, 1], ["vec_id", "text"]] = swapped.loc[[1, 0], ["vec_id", "text"]].to_numpy()
    assert any("tied" in p for p in checks.check_search(model, q, 5, swapped))


def test_model_tracks_writes_and_status(model):
    model.index([100, 3], datagen.vectors(np.random.default_rng(2), 2, 8), ["new", "re"])
    model.update([4, 999], datagen.vectors(np.random.default_rng(3), 2, 8))
    model.delete([5, 6, 12345])
    want = {"count_indexed": 51, "count_active": 49, "count_deleted": 2, "size_dam": 49}
    assert model.status() == want
    assert checks.check_status(model, want) == []
    assert checks.check_status(model, corrupt(want))


def test_serve_stream_is_seeded_and_names_live_ids():
    base = datagen.vectors(np.random.default_rng(0), 200, 8)
    a = datagen.serve_stream(np.random.default_rng(7), base, WARMUP_OPS + 2 * CYCLE_OPS)
    b = datagen.serve_stream(np.random.default_rng(7), base, WARMUP_OPS + 2 * CYCLE_OPS)
    assert [(o.kind, o.ids.tolist()) for o in a] == [(o.kind, o.ids.tolist()) for o in b]
    live = set(range(200))
    for op in a:
        if op.kind in ("update", "delete"):
            assert set(op.ids.tolist()) <= live
        if op.kind == "index":
            live |= set(op.ids.tolist())
        if op.kind == "delete":
            live -= set(op.ids.tolist())
    # every window cycle holds the same mix
    for c in range(2):
        cyc = a[WARMUP_OPS + c * CYCLE_OPS : WARMUP_OPS + (c + 1) * CYCLE_OPS]
        kinds = [o.kind for o in cyc]
        assert kinds.count("search") == 15 and kinds.count("status") == 3
        assert sorted(k for k in kinds if k not in ("search", "status")) == ["delete", "index", "update"]
        assert sorted(len(o.ids) for o in cyc if o.kind == "search") == sorted([1, 8, 64] * 5)


def test_self_times_and_unattributed_add_up_to_wall():
    outer = Span("engine.search", 0.0, 1.0, children=0.6)
    inner = Span("operators.knn.knn_search", 0.1, 0.7)
    rec = OpRecord("search", 1.5, spans=[inner, outer, Span("sink.toPandas", 1.0, 1.4)])
    st = rec.self_times()
    assert st["engine.search"] == pytest.approx(0.4)
    assert st["unattributed"] == pytest.approx(0.1)
    assert sum(st.values()) == pytest.approx(rec.wall_s)


def test_fixture_tables_are_seeded(tmp_path):
    datagen.write_fixture(str(tmp_path / "a"), 3, 0.001)
    datagen.write_fixture(str(tmp_path / "b"), 3, 0.001)
    for t in ("lineitem", "documents", "embeddings", "events"):
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_benchmark_json_matches_what_run_emits():
    sys.path.insert(0, ROOT)
    from perfbench import run

    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result line."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# -- smoke runs (start Spark) ---------------------------------------------


def _smoke(workload: str, trace: int, *extra: str):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["serve_mix", "corpus_pipeline", "bulk_search"])
def test_smoke_traced_run_emits_every_metric(workload):
    record, last = _smoke(workload, 1)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    # every workload reaches every layer on the last line: no time reads a constant 0
    zero = [k for k, v in last["metrics"].items() if v["unit"] in ("s", "ms") and v["value"] <= 0]
    assert zero == []
    # the full record carries the layers only this workload reaches
    layers = record["per_layer"]
    if workload == "corpus_pipeline":
        assert all(layers[f"suites.build_s.{r}"] > 0 for r in PIPELINE_ROWS)
    else:
        assert layers["engine.search.self_s"] > 0 and layers["operators.maintenance.dump_s"] > 0
    # the traced run also computes every end-to-end metric, with its unit
    for m in SPEC["end_to_end"]:
        assert record["end_to_end"][m["name"]] > 0
        assert record["units"][m["name"]] == m["unit"]
    for kind, t in record["attribution"].items():
        assert sum(t["self_s"].values()) == pytest.approx(t["wall_s"], rel=1e-6), kind
    assert record["host"]["nproc"] and record["host"]["spark"] and record["host"]["java"]


def test_smoke_counts_a_corrupted_result_as_failed():
    record, last = _smoke("serve_mix", 0, "--inject-fault")
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert last["failed"] == 1 and not last["correct"]
    assert record["end_to_end"]["failed_ops_frac"] == pytest.approx(1 / last["attempted"])
