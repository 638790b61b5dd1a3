"""End-to-end facade parity: the reference's benchmark.py flow (index →
search → update → delete → dump → load → status) through U1MIndexerSpark."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.engine import U1MIndexerSpark


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    eng = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path), metric="cosine", limit=20)
    docs = (
        tables.load(spark, sf_dir, "embeddings")
        .join(
            tables.load(spark, sf_dir, "documents"),
            F.col("vec_id") == F.col("doc_id"),
        )
        .select("doc_id", "embedding", "text", "lang")
        .filter(F.col("doc_id") < 100)
    )
    eng.index(docs)
    return eng


def test_index_then_search_returns_full_payload(spark, engine, sf_dir):
    q = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    rows = engine.search(q, limit=5).orderBy("rank").collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 3 and rows[0].rank == 1  # self-match first
    assert rows[0].text is not None and rows[0].lang is not None


def test_update_skips_unknown_and_reembeds_known(spark, engine):
    upd = spark.createDataFrame(
        [(3, [1.0] * 64), (99999, [2.0] * 64)],
        "doc_id long, embedding array<double>",
    )
    skipped = engine.update(upd).collect()
    assert [r.id for r in skipped] == [99999]
    assert engine.status()["count_active"] == 100  # no inserts happened


def test_max_elements_caps_admission_and_counts_tombstones(spark, tmp_path):
    """executor.py:21 max_elements as the optional validation: arrival-order
    admission, overflow returned as a warn-set, tombstones still occupy
    slots (hnswlib element-count semantics), doc store excludes rejects."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path), max_elements=3)
    docs = spark.createDataFrame(
        [(i, [float(i), 1.0], f"t{i}") for i in range(5)],
        "doc_id long, embedding array<double>, text string",
    )
    rejected = eng.index(docs)
    assert sorted(r.id for r in rejected.collect()) == [3, 4]
    st = eng.status()
    assert st["count_active"] == 3 and st["size_dam"] == 3
    # updates to existing ids never consume capacity, even at full index
    upd = spark.createDataFrame([(1, [9.0, 9.0], "t1b")], "doc_id long, embedding array<double>, text string")
    assert eng.index(upd).count() == 0
    assert eng.status()["count_active"] == 3
    # a tombstone keeps its slot: deleting one id does NOT free room
    eng.delete([0])
    more = spark.createDataFrame([(7, [7.0, 1.0], "t7")], "doc_id long, embedding array<double>, text string")
    assert [r.id for r in eng.index(more).collect()] == [7]
    assert eng.status()["count_indexed"] == 3
    # STRICT element-count semantics even for the HIGHEST slot: deleting
    # the top internal_id lowers the high-water mark, but the engine's
    # slot debt keeps the freed slot counted — admission stays full
    eng2 = U1MIndexerSpark(spark, dim=2, max_elements=3)
    eng2.index(docs.filter("doc_id < 3"))
    eng2.delete([2])  # internal_id 2 — the high-water mark row
    late = spark.createDataFrame([(9, [9.0, 1.0], "t9")], "doc_id long, embedding array<double>, text string")
    assert [r.id for r in eng2.index(late).collect()] == [9]  # still full
    assert eng2.status()["count_indexed"] == 3  # 2 live + 1 tombstone
    with pytest.raises(ValueError):
        U1MIndexerSpark(spark, dim=2, max_elements=-1)


def test_delete_and_status_tombstones(spark, engine):
    engine.delete([0, 1, 31337, 1, 1])  # 31337 unknown -> ignored;
    # repeated id 1 must count its one state row ONCE in the tombstones
    st = engine.status()
    assert st["count_active"] == 98
    assert st["count_deleted"] == 2
    assert st["count_indexed"] == 100  # tombstones still counted
    assert st["size_dam"] == 98


def test_dump_load_roundtrip_preserves_search(spark, engine, sf_dir, tmp_path):
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    q = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 7)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    a = [(r.vec_id, r.rank) for r in engine.search(q, limit=5, with_payload=False).collect()]
    b = [(r.vec_id, r.rank) for r in eng2.search(q, limit=5, with_payload=False).collect()]
    assert sorted(a) == sorted(b)


def test_dump_after_load_same_workspace(spark, engine, tmp_path):
    """dump over a workspace the state was LOADED from (lineage reads the
    version being superseded) — must not corrupt the snapshot."""
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    upd = spark.createDataFrame([(3, [2.0] * 64)], "doc_id long, embedding array<double>")
    eng2.index(upd)
    eng2.dump()  # supersedes the version eng2 was loaded from
    eng3 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    assert eng3.status()["count_active"] == 100


def test_dim_mismatch_raises(spark, engine):
    """Dim validation is the lazy dim_guard fused into the emb column
    (knn.dim_guard): index() stays a zero-job plan build, and the
    reference's ValueError message (executor.py:144-148) surfaces as
    USER_RAISED_EXCEPTION at the first action that materializes the bad
    vectors — here status(), which counts the new state."""
    bad = spark.createDataFrame([(1, [1.0] * 32)], "doc_id long, embedding array<double>")
    engine.index(bad)  # lazy — the guard rides the plan
    with pytest.raises(Exception, match="dimension != the index dim"):
        engine.dump()  # first pass that materializes the emb column
    # the guard must NOT be prunable away by an action that skips emb:
    # status() only counts rows, so it succeeds — enforcement is data-plane
    assert engine.status()["count_active"] >= 0


def test_traversal_paths_chunk_level_index_and_search(spark, tmp_path):
    """traversal_paths='c' (executor.py:86/138/181): chunk Documents —
    structs carrying their own id + embedding — are the operating level."""
    eng = U1MIndexerSpark(spark, dim=4, workspace=str(tmp_path), metric="cosine", limit=5)
    docs = spark.createDataFrame(
        [
            (
                1,
                [
                    {"doc_id": 101, "embedding": [1.0, 0.0, 0.0, 0.0]},
                    {"doc_id": 102, "embedding": [0.0, 1.0, 0.0, 0.0]},
                ],
            ),
            (
                2,
                [
                    {"doc_id": 201, "embedding": [0.0, 0.0, 1.0, 0.0]},
                    {"doc_id": 202, "embedding": [0.0, 0.0, 0.0, 1.0]},
                ],
            ),
        ],
        "doc_id long, chunks array<struct<doc_id: long, embedding: array<double>>>",
    )
    eng.index(docs, traversal_paths="c")
    assert eng.status()["count_active"] == 4  # chunk level, not 2 roots

    queries = spark.createDataFrame(
        [
            (
                1,
                [
                    {"query_id": 11, "query_embedding": [1.0, 0.0, 0.0, 0.0]},
                    {"query_id": 12, "query_embedding": [0.0, 0.0, 1.0, 0.0]},
                ],
            )
        ],
        "query_id long, chunks array<struct<query_id: long, query_embedding: array<double>>>",
    )
    hits = (
        eng.search(queries, traversal_paths="c", limit=1, with_payload=False)
        .orderBy("query_id")
        .collect()
    )
    assert [(r.query_id, r.vec_id) for r in hits] == [(11, 101), (12, 201)]

    # chunk-level update: known chunk id re-embedded, unknown skipped
    upd = spark.createDataFrame(
        [
            (
                9,
                [
                    {"doc_id": 102, "embedding": [9.0, 9.0, 9.0, 9.0]},
                    {"doc_id": 999, "embedding": [1.0, 1.0, 1.0, 1.0]},
                ],
            )
        ],
        "doc_id long, chunks array<struct<doc_id: long, embedding: array<double>>>",
    )
    skipped = eng.update(upd, traversal_paths="c").collect()
    assert [r.id for r in skipped] == [999]
    assert eng.status()["count_active"] == 4


def test_many_batches_checkpoint_bounds_plan_growth(spark, tmp_path):
    """Each index() embeds the previous state's logical plan ~16 times; the
    per-mutation checkpoint must keep plan size AND per-batch latency O(1)
    over many batches (un-truncated, 20 batches would be a ~16^20-node plan)
    while results stay exact."""
    eng = U1MIndexerSpark(spark, dim=4, workspace=str(tmp_path))
    for b in range(20):
        docs = spark.createDataFrame(
            [(b * 10 + i, [float(b), float(i), 1.0, 0.0]) for i in range(10)],
            "doc_id long, embedding array<double>",
        )
        eng.index(docs)
    assert eng.status()["count_active"] == 200
    plan_lines = (
        eng._vectors._jdf.queryExecution().analyzed().numberedTreeString().count("\n")
    )
    # truncation defers to the next mutation, so at most ONE un-truncated
    # level (~113 lines) may remain — never the stacked ~16^20 plan
    assert plan_lines < 150, plan_lines


def test_clear_empties(spark, engine):
    engine.clear()
    st = engine.status()
    assert st == {"count_indexed": 0, "count_active": 0, "count_deleted": 0, "size_dam": 0}


def test_docstore_append_keeps_latest_payload_across_batches(spark, tmp_path):
    """The docstore is a keyed upsert like the vectors: overlapping ids
    resolve to the NEWEST batch's payload."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    for b in range(5):
        docs = spark.createDataFrame(
            [(i, [float(b), float(i)], f"text-b{b}-i{i}") for i in range(4)],
            "doc_id long, embedding array<double>, text string",
        )
        eng.index(docs)
    st = eng.status()
    assert st["count_active"] == 4
    assert st["size_dam"] == 4  # duplicates resolved, not counted
    q = spark.createDataFrame([(0, [4.0, 1.0])], "query_id long, query_embedding array<double>")
    rows = eng.search(q, limit=1).collect()
    assert rows[0].text.startswith("text-b4-")  # newest batch's payload won


def test_docstore_compacts_every_threshold_batches(spark, tmp_path):
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    for b in range(17):
        docs = spark.createDataFrame(
            [(b, [1.0, float(b)], f"t{b}")],
            "doc_id long, embedding array<double>, text string",
        )
        eng.index(docs)
    assert eng.status()["size_dam"] == 17


def test_docstore_delete_then_reindex_resolves_to_new_payload(spark, tmp_path):
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    mk = lambda txt: spark.createDataFrame(
        [(7, [1.0, 2.0], txt)], "doc_id long, embedding array<double>, text string"
    )
    eng.index(mk("old"))
    eng.delete([7])
    assert eng.status()["size_dam"] == 0
    eng.index(mk("new"))
    q = spark.createDataFrame([(0, [1.0, 2.0])], "query_id long, query_embedding array<double>")
    rows = eng.search(q, limit=1).collect()
    assert rows[0].text == "new"


def test_docstore_delete_only_lineage_truncates(spark, tmp_path):
    """Delete-heavy sessions must still truncate the docstore: each delete
    stacks an anti-join layer, and the per-mutation checkpoint collapses
    it — otherwise every read re-executes every anti-join."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    docs = spark.createDataFrame(
        [(i, [1.0, float(i)], f"t{i}") for i in range(40)],
        "doc_id long, embedding array<double>, text string",
    )
    eng.index(docs)
    eng.status()
    for i in range(18):
        eng.delete([i])
    st = eng.status()
    assert st["size_dam"] == 40 - 18
    plan_lines = (
        eng._docstore._jdf.queryExecution().analyzed().numberedTreeString().count("\n")
    )
    assert plan_lines < 30, plan_lines  # flat LogicalRDD, not stacked joins


# -- workspace snapshots ------------------------------------------------------


def test_reopen_dump_then_search(spark, engine, sf_dir, tmp_path):
    """A reopened engine reads the committed version; its own dump() must
    not pull those files out from under the state it then searches."""
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    eng2.dump()
    q = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 7)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    rows = eng2.search(q, limit=5).orderBy("rank").collect()
    assert len(rows) == 5 and rows[0].vec_id == 7 and rows[0].text is not None


def test_reopen_index_dump_index(spark, engine, tmp_path):
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    mk = lambda i: spark.createDataFrame(
        [(i, [float(i)] * 64, f"t{i}")], "doc_id long, embedding array<double>, text string"
    )
    eng2.index(mk(1000))
    eng2.dump()
    eng2.index(mk(1001))
    eng2.dump()
    assert eng2.status()["count_active"] == 102
    st = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path)).status()
    assert st["count_active"] == 102 and st["size_dam"] == 102


def _committed_pair(spark, ws):
    """(vector ids, docstore (id, text) rows) a fresh engine on `ws` sees."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=ws)
    ids = sorted(r.id for r in eng._vectors.collect())
    docs = sorted((r.id, r.text) for r in eng._docstore.collect())
    return ids, docs


@pytest.mark.parametrize(
    "step", ["vectors", "docstore", "pointer_tmp", "pointer_replace", "gc"]
)
def test_dump_fault_leaves_old_or_new_pair(spark, tmp_path, monkeypatch, step):
    """A crash at any dump() step leaves a fresh engine on the workspace
    with the old (vectors, docstore) pair — a fault before the pointer
    replace — or the new one, never a mix and never nothing."""
    from pyspark.sql import DataFrameWriter

    from executor_u1mindexer_spark.operators import maintenance as M

    ws = str(tmp_path / "ws")
    mk = lambda ids, tag: spark.createDataFrame(
        [(i, [1.0, float(i)], f"{tag}{i}") for i in ids],
        "doc_id long, embedding array<double>, text string",
    )
    eng = U1MIndexerSpark(spark, dim=2, workspace=ws)
    eng.index(mk([0, 1, 2], "old"))
    eng.dump()
    old = _committed_pair(spark, ws)
    eng.index(mk([2, 3], "new"))
    eng.delete([0])

    def crash(*_a, **_k):
        raise OSError(f"injected fault at {step}")

    with monkeypatch.context() as mp:
        if step in ("vectors", "docstore"):
            real = DataFrameWriter.parquet

            def write(self, path, *a, **k):
                real(self, path, *a, **k)  # files land, the dump dies after
                if path.endswith(step):
                    crash()

            mp.setattr(DataFrameWriter, "parquet", write)
        elif step == "pointer_tmp":
            mp.setattr(M.os, "fsync", crash)
        elif step == "pointer_replace":
            mp.setattr(M.os, "replace", crash)
        else:
            mp.setattr(M.shutil, "rmtree", crash)
        with pytest.raises(OSError, match="injected fault"):
            eng.dump()
    new = ([1, 2, 3], [(1, "old1"), (2, "new2"), (3, "new3")])
    assert old == ([0, 1, 2], [(0, "old0"), (1, "old1"), (2, "old2")])
    assert _committed_pair(spark, ws) == (new if step == "gc" else old)


def test_dump_leaves_other_workspace_content_alone(spark, tmp_path):
    """dump() owns only the pointer and the v<N> directories: user files
    and directories beside them survive, and only the committed version is
    kept."""
    ws = tmp_path / "ws"
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(ws))
    (ws / "vectors").mkdir(parents=True)
    (ws / "vectors" / "keep.txt").write_text("mine")
    (ws / "v2x").mkdir()
    (ws / "notes.txt").write_text("mine")
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0], "a")], "doc_id long, embedding array<double>, text string"
    )
    eng.index(docs)
    eng.dump()
    eng.delete([0])
    eng.dump()
    assert (ws / "vectors" / "keep.txt").read_text() == "mine"
    assert (ws / "notes.txt").read_text() == "mine" and (ws / "v2x").is_dir()
    versions = [e for e in os.listdir(ws) if e.startswith("v") and e[1:].isdigit()]
    assert versions == [(ws / "CURRENT").read_text()]
