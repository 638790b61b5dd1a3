"""The benchmark's workloads and the closed loop that times them.

One client in one driver process issues one operation at a time and waits
for its rows (closed loop). Each operation is timed from the call into the
engine's public surface until the result rows reach the driver
(``toPandas``); its output is checked after the clock stops.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import checks, datagen
from perfbench.trace import (
    OpRecord,
    Tracer,
    catalyst_phases,
    jvm_pid,
    persisted_rdds,
    proc_cpu_s,
    spark_group_stats,
    steal_s,
    tree_cpu_s,
)

K = 20  # top-k of every search (the reference README's default limit)
DIM = 64
SETUP_REPS = 3
WARMUP_OPS = 7  # serve_mix: stream prefix run before the window
CYCLE_OPS = 21  # serve_mix: period of the op stream's mix
# Window length is fixed work, not a deadline: ``--seconds`` buys one
# serve_mix cycle per CYCLE_S and one corpus_pipeline pass per PASS_S
# (about their duration on a quiet 4-core host), at least one. A deadline
# would let a fast host fit a second, warmer cycle and shift every median.
CYCLE_S = 25.0
PASS_S = 30.0
PIPELINE_ROWS = (
    "near_dedup_ngram_jaccard",
    "near_dedup_minhash_lsh",
    "exact_dedup_substring_spans",
    "graph_pagerank_parts",
    "tpch_q9_product_profit",
    "events_ks_value_drift_by_type",
    "multimodal_decode_image",
    "ann_hnsw_partitioned_topk",
)
# sf0.01: the cold pass already takes ~30 s on a 4-core host, ~70 % of it
# first-use cost that does not shrink with scale
PIPELINE_SF = 0.01


@dataclass
class Settings:
    seed: int
    seconds: float
    traced: bool
    smoke: bool
    work: str  # per-run scratch directory inside the checkout
    inject_fault: bool = False


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    records: list[OpRecord]  # window ops, in order
    setup_records: list[OpRecord]  # set-up ops (ingest reps, warm-up)
    setup_reps_s: list[float]  # wall time of each repeated set-up step
    setup_once_s: float  # set-up done once per run, outside the reps
    warmup_s: float
    generate_s: float  # input generation (inside or outside the reps)
    attempted: int
    failed: int
    problems: list[str]
    release_s: list[float]  # cache.release_all() after every op
    extra: dict  # workload-specific end-to-end figures, the read figures among them


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def corrupt(result):
    """A deliberately wrong copy of an op result (fault-injection hook)."""
    if isinstance(result, pd.DataFrame) and len(result):
        bad = result.copy()
        num = bad.select_dtypes("number").columns
        if len(num):
            bad[num[-1]] = bad[num[-1]] + 1
            return bad
        return bad.iloc[1:]
    if isinstance(result, dict):
        return {k: (v + 1 if isinstance(v, int) else v) for k, v in result.items()}
    return result


class Loop:
    """Times operations, checks their outputs outside the timed interval,
    and in a traced run attaches each op's per-layer figures."""

    def __init__(self, spark, tracer: Tracer, s: Settings) -> None:
        from executor_u1mindexer_spark import cache

        self.spark, self.tracer, self.s = spark, tracer, s
        self.cache = cache
        self.jvm = jvm_pid(spark)
        self.records: list[OpRecord] = []
        self.setup_records: list[OpRecord] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.release_s: list[float] = []
        self._n = 0
        self._sink_end = 0.0
        self._fault_pending = s.inject_fault

    def sink(self, df) -> pd.DataFrame:
        with self.tracer.span("sink.toPandas"):
            pdf = df.toPandas()
        self._sink_end = time.time()
        return pdf

    def run(self, kind: str, body, check=None, *, setup: bool = False):
        """Time ``body() -> (df, result)`` as one op, then run
        ``check(result) -> problems`` untimed. Every op runs under its own
        Spark job group and counts as attempted; one that raises or fails
        its check counts as failed. Set-up ops are checked too but stay out
        of the window's latency figures. Returns (result, record)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self._n}-{kind}"
        self._n += 1
        if self.s.traced:
            sc.setJobGroup(group, kind, False)
            self.tracer.take()
            cpu0 = proc_cpu_s(self.jvm)
            calls0 = self.tracer.py4j_calls
        jvm0, client0 = tree_cpu_s(self.jvm), time.process_time()
        steal0 = steal_s()
        t0 = time.perf_counter()
        try:
            df, result = body()
            err = None
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            df = result = None
            err = e
        rec = OpRecord(kind, time.perf_counter() - t0)
        rec.client_cpu_s = time.process_time() - client0
        rec.cpu_s = tree_cpu_s(self.jvm) - jvm0 + rec.client_cpu_s
        rec.steal_s = steal_s() - steal0
        if self.s.traced:
            rec.py4j_calls = self.tracer.py4j_calls - calls0
            rec.spans = self.tracer.take()
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.spark, last_end = spark_group_stats(self.spark, group)
            rec.spark["jvm_cpu_s"] = proc_cpu_s(self.jvm) - cpu0
            if df is not None:
                rec.catalyst_ms = catalyst_phases(df)
                if last_end is not None:
                    rec.sink_tail_s = max(self._sink_end - last_end, 0.0)
            rec.persisted_rdds = persisted_rdds(self.spark)
        if err is None and self._fault_pending and not setup:
            self._fault_pending = False
            result = corrupt(result)
        if err is not None:
            problems = [f"{kind}: {type(err).__name__}: {str(err)[:200]}"]
        else:
            problems = check(result) if check else []
        rec.ok = not problems
        (self.setup_records if setup else self.records).append(rec)
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        t = time.perf_counter()
        self.cache.release_all()
        self.release_s.append(time.perf_counter() - t)
        return result, rec

    def outcome(self, reps, once_s, warmup_s, generate_s, extra) -> Outcome:
        return Outcome(self.records, self.setup_records, reps, once_s, warmup_s, generate_s,
                       self.attempted, self.failed, self.problems, self.release_s, extra)


# -- facade workloads -------------------------------------------------------


def _docs_df(spark, sf_dir: str):
    """The corpus as a user hands it to index(): embeddings joined to
    their documents, both read through ``tables.load``."""
    from pyspark.sql import functions as F

    from executor_u1mindexer_spark import tables

    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    return emb.join(docs, F.col("vec_id") == F.col("doc_id")).select("doc_id", "embedding", "text")


def _queries_df(spark, vecs: np.ndarray):
    pdf = pd.DataFrame({"query_id": np.arange(len(vecs), dtype=np.int64),
                        "query_embedding": list(vecs.astype(np.float32))})
    return spark.createDataFrame(pdf, "query_id long, query_embedding array<float>")


def _ingest_reps(loop: Loop, spark, sf_dir: str, ws: str):
    """SETUP_REPS times: fresh workspace, index() the corpus, dump().
    Returns the last engine and each rep's wall time."""
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    eng, reps = None, []
    for _ in range(SETUP_REPS):
        shutil.rmtree(ws, ignore_errors=True)
        eng = U1MIndexerSpark(spark, DIM, workspace=ws, metric="cosine", limit=K)

        def body(eng=eng):
            eng.index(_docs_df(spark, sf_dir))
            eng.dump()
            return None, None

        reps.append(loop.run("ingest", body, setup=True)[1].wall_s)
    return eng, reps


def _search(loop: Loop, spark, eng, model, q: np.ndarray, setup=False):
    qdf = _queries_df(spark, q)

    def body():
        df = eng.search(qdf, limit=K)
        return df, loop.sink(df)

    check = lambda pdf: checks.check_search(model, q, K, pdf)  # noqa: E731
    rec = loop.run("search", body, check, setup=setup)[1]
    rec.n_queries = len(q)
    return rec


def _write_body(spark, eng, op):
    def body():
        if op.kind == "index":
            pdf = pd.DataFrame({"doc_id": op.ids, "embedding": list(op.vecs), "text": op.texts})
            eng.index(spark.createDataFrame(pdf, "doc_id long, embedding array<float>, text string"))
        elif op.kind == "update":
            pdf = pd.DataFrame({"doc_id": op.ids, "embedding": list(op.vecs)})
            eng.update(spark.createDataFrame(pdf, "doc_id long, embedding array<float>"))
        else:
            eng.delete([int(i) for i in op.ids])
        eng.dump()
        return None, None

    return body


def window_units(seconds: float, unit_s: float) -> int:
    return max(1, round(seconds / unit_s))


def _apply(model: checks.VectorModel, op) -> None:
    if op.kind == "index":
        model.index(op.ids, op.vecs, op.texts)
    elif op.kind == "update":
        model.update(op.ids, op.vecs)
    else:
        model.delete(op.ids)


def search_p50(records) -> float:
    """Typical search latency of a mix of batch sizes: the geometric mean
    over batch sizes of the median latency at that size. A plain median
    over the mix lands on the gap between the small-batch and the 64-query
    latencies and jumps across it from run to run."""
    by_size: dict[int, list[float]] = {}
    for r in records:
        if r.kind == "search" and r.ok:
            by_size.setdefault(r.n_queries, []).append(r.wall_s)
    meds = [statistics.median(v) for v in by_size.values()]
    return float(np.exp(np.mean(np.log(meds)))) if meds else 0.0


def search_cpu(records) -> float:
    """Median CPU seconds of a search. The JVM's JIT compiler runs beside
    the ops in a young driver and lands its bursts on whichever op is
    running; a median over the searches sheds them, a mean does not."""
    cpu = [r.cpu_s for r in records if r.kind == "search" and r.ok]
    return float(statistics.median(cpu)) if cpu else 0.0


def _stored_ratio(ws: str, model: checks.VectorModel) -> float:
    """Workspace bytes over raw user bytes (8 + 4·dim + len(text) per live doc)."""
    user = sum(8 + 4 * DIM + len(model.text[i].encode()) for i in model.vec)
    return du_bytes(ws) / user


def _corpus(s: Settings, n_docs: int, stream_ops: int):
    rng = np.random.default_rng([s.seed, 2])
    sf_dir = os.path.join(s.work, "corpus")
    os.makedirs(sf_dir, exist_ok=True)
    vecs, texts = datagen.write_docs(sf_dir, rng, n_docs, DIM)
    stream = datagen.serve_stream(rng, vecs, stream_ops)
    return sf_dir, vecs, texts, stream


def serve_mix(spark, tracer: Tracer, s: Settings) -> Outcome:
    """The reference's endpoint mix through the facade: searches of batch
    1, 8 and 64 with one acknowledged write (mutation + dump) after every
    five, and a status() every seventh op. The first WARMUP_OPS ops of
    the stream warm the driver up; the window then runs whole
    CYCLE_OPS-op cycles, each holding the same mix (15 searches, one
    write of each kind, 3 status calls)."""
    n_docs = 300 if s.smoke else 2000
    t = time.perf_counter()
    n_ops = WARMUP_OPS + window_units(s.seconds, CYCLE_S) * CYCLE_OPS
    sf_dir, vecs, texts, stream = _corpus(s, n_docs, n_ops)
    generate_s = time.perf_counter() - t

    loop = Loop(spark, tracer, s)
    ws = os.path.join(s.work, "ws")
    eng, reps = _ingest_reps(loop, spark, sf_dir, ws)
    model = checks.VectorModel(range(n_docs), vecs, texts)
    dump_bytes = []

    def do(op, setup=False):
        if op.kind == "search":
            return _search(loop, spark, eng, model, op.vecs, setup=setup)
        if op.kind == "status":
            check = lambda st: checks.check_status(model, st)  # noqa: E731
            return loop.run("status", lambda: (None, eng.status()), check, setup=setup)[1]
        rec = loop.run("write", _write_body(spark, eng, op), setup=setup)[1]
        rec.detail = op.kind
        _apply(model, op)
        dump_bytes.append(du_bytes(ws))
        return rec

    warmup_s = sum(do(op, setup=True).wall_s for op in stream[:WARMUP_OPS])
    for op in stream[WARMUP_OPS : WARMUP_OPS + window_units(s.seconds, CYCLE_S) * CYCLE_OPS]:
        do(op)
    return loop.outcome(reps, generate_s, warmup_s, generate_s, {
        "read_p50_s": search_p50(loop.records),
        "read_cpu_s": search_cpu(loop.records),
        "ingest_docs_per_s": n_docs / statistics.median(reps),
        "stored_bytes_per_user_byte": _stored_ratio(ws, model),
        "dump_bytes": dump_bytes,
    })


def bulk_search(spark, tracer: Tracer, s: Settings) -> Outcome:
    """Bulk ingest of a seeded corpus into a fresh workspace, a restart
    that reopens the workspace, then batches of 64 queries with payload."""
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    n_docs, batch = (2000, 16) if s.smoke else (50_000, 64)
    t = time.perf_counter()
    sf_dir, vecs, texts, _ = _corpus(s, n_docs, 0)
    rng = np.random.default_rng([s.seed, 3])
    generate_s = time.perf_counter() - t

    loop = Loop(spark, tracer, s)
    ws = os.path.join(s.work, "ws")
    _, reps = _ingest_reps(loop, spark, sf_dir, ws)
    eng = U1MIndexerSpark(spark, DIM, workspace=ws, metric="cosine", limit=K)
    model = checks.VectorModel(range(n_docs), vecs, texts)
    noise = lambda q: q + 0.05 * rng.standard_normal(q.shape).astype(np.float32) / np.sqrt(DIM)  # noqa: E731
    warmup_s = _search(loop, spark, eng, model, noise(vecs[:batch]), setup=True).wall_s
    deadline = time.perf_counter() + s.seconds
    while not loop.records or time.perf_counter() < deadline:
        _search(loop, spark, eng, model, noise(vecs[rng.choice(n_docs, batch, replace=False)]))
    return loop.outcome(reps, generate_s, warmup_s, generate_s, {
        "read_p50_s": search_p50(loop.records),
        "read_cpu_s": search_cpu(loop.records),
        "ingest_docs_per_s": n_docs / statistics.median(reps),
        "stored_bytes_per_user_byte": _stored_ratio(ws, model),
        "dump_bytes": [du_bytes(ws)],
    })


# -- registry workload ------------------------------------------------------


def corpus_pipeline(spark, tracer: Tracer, s: Settings) -> Outcome:
    """Passes of a batch job in a fresh driver: each registry row built
    through the registry and sunk with toPandas, in a seed-chosen order.
    The first pass runs cold (no warm-up), as a batch job does, so it
    includes the JVM's first-use costs; its wall time is the workload's
    read latency."""
    import __spark_entry__ as entry

    sf = 0.001 if s.smoke else PIPELINE_SF
    rows = list(PIPELINE_ROWS)
    np.random.default_rng([s.seed, 4]).shuffle(rows)
    builders = entry.queries()
    reps = []
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        sf_dir = os.path.join(s.work, f"sf{r}")
        datagen.write_fixture(sf_dir, s.seed, sf)
        reps.append(time.perf_counter() - t)
    oracle = checks.Oracle(sf_dir, entry.oracle_sql())
    for name in rows:
        oracle.expected(name)  # untimed: DuckDB answers, computed once

    loop = Loop(spark, tracer, s)
    for name in rows * window_units(s.seconds, PASS_S):
        def body(name=name):
            with tracer.span(f"suites.build.{name}"):
                df = builders[name](spark, sf_dir)
            return df, (loop.sink(df), df.schema)

        loop.run("row", body, lambda out, name=name: oracle.check(name, *out))[1].detail = name
    first = loop.records[: len(rows)]  # the cold first pass
    pass_s = sum(r.wall_s for r in first)
    return loop.outcome(reps, 0.0, 0.0, statistics.median(reps), {
        "read_p50_s": pass_s,  # the batch job is the read its user waits for
        "read_cpu_s": sum(r.cpu_s for r in first),
        "pipeline_pass_s": pass_s,
        "rows": rows,
    })


WORKLOADS = {"serve_mix": serve_mix, "bulk_search": bulk_search, "corpus_pipeline": corpus_pipeline}
