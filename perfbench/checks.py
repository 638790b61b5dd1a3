"""Output checks: the benchmark's own numpy model of the vector index, and
the DuckDB oracle for registry rows. Checks run outside every timed
interval; each returns a list of problems (empty = correct)."""

from __future__ import annotations

import math
import os
import sys

import numpy as np

TOL = 1e-9  # distances are doubles; the engine's fold order may differ in the last bits
TIE = 1e-12  # distances this close are one value computed in two orders


class VectorModel:
    """Live vectors and payload texts per id, with the tombstone count the
    facade's status() reports."""

    def __init__(self, ids, vecs, texts) -> None:
        self.vec = {int(i): np.asarray(v, np.float64) for i, v in zip(ids, vecs)}
        self.text = {int(i): t for i, t in zip(ids, texts)}
        self.deleted = 0
        self._matrix = None

    def index(self, ids, vecs, texts) -> None:
        for i, v, t in zip(ids, vecs, texts):
            self.vec[int(i)] = np.asarray(v, np.float64)
            self.text[int(i)] = t
        self._matrix = None

    def update(self, ids, vecs) -> None:
        for i, v in zip(ids, vecs):
            if int(i) in self.vec:
                self.vec[int(i)] = np.asarray(v, np.float64)
        self._matrix = None

    def delete(self, ids) -> None:
        for i in ids:
            if self.vec.pop(int(i), None) is not None:
                self.deleted += 1
                self.text.pop(int(i), None)
        self._matrix = None

    def _live(self):
        if self._matrix is None:
            ids = np.array(sorted(self.vec), dtype=np.int64)
            m = np.stack([self.vec[int(i)] for i in ids])
            self._matrix = (ids, m, np.sqrt((m * m).sum(axis=1)))
        return self._matrix

    def cosine_dist(self, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        ids, m, norms = self._live()
        q = np.asarray(q, np.float64)
        qn = np.sqrt((q * q).sum(axis=1))
        return ids, 1.0 - (q @ m.T) / (qn[:, None] * norms[None, :])

    def status(self) -> dict[str, int]:
        n = len(self.vec)
        return {"count_indexed": n + self.deleted, "count_active": n,
                "count_deleted": self.deleted, "size_dam": n}


def check_search(model: VectorModel, queries: np.ndarray, k: int, pdf, payload=True) -> list[str]:
    """Exact cosine top-k with ties broken by id, scores as distances, and
    each row's payload equal to the latest indexed text."""
    problems: list[str] = []
    ids, dist = model.cosine_dist(queries)
    col = {int(v): j for j, v in enumerate(ids)}
    want_n = min(k, len(ids))
    groups = {int(q): g.sort_values("rank") for q, g in pdf.groupby("query_id")}
    for qi in range(len(queries)):
        g = groups.get(qi)
        if g is None or len(g) != want_n:
            problems.append(f"query {qi}: {0 if g is None else len(g)} rows, want {want_n}")
            continue
        got = g["vec_id"].to_numpy(np.int64)
        if list(g["rank"]) != list(range(1, want_n + 1)):
            problems.append(f"query {qi}: ranks {list(g['rank'])}")
            continue
        if any(int(v) not in col for v in got):
            problems.append(f"query {qi}: returned an id that is not live")
            continue
        d = dist[qi, [col[int(v)] for v in got]]
        if np.max(np.abs(d - g["score"].to_numpy(np.float64))) > TOL:
            problems.append(f"query {qi}: scores differ from the model")
        if np.any(np.diff(d) < -TOL):
            problems.append(f"query {qi}: results not in distance order")
        # every live id strictly closer than the k-th result must be returned
        closer = ids[dist[qi] < d[-1] - TOL]
        if not set(closer.tolist()) <= set(got.tolist()):
            problems.append(f"query {qi}: missed {len(set(closer.tolist()) - set(got.tolist()))} closer ids")
        if np.any((np.abs(np.diff(d)) <= TIE) & (np.diff(got) < 0)):
            problems.append(f"query {qi}: tied distances not ordered by id")
        if payload:
            bad = [v for v, t in zip(got, g["text"]) if model.text.get(int(v)) != t]
            if bad:
                problems.append(f"query {qi}: stale payload for ids {bad[:3]}")
    return problems


def check_status(model: VectorModel, status: dict) -> list[str]:
    want = model.status()
    return [f"status {k}={status.get(k)} want {v}" for k, v in want.items() if status.get(k) != v]


# -- registry rows against their DuckDB oracle ----------------------------


def _oracle_check_module():
    """tools/oracle_check.py holds the canonical row hash the repository's
    correctness gate uses; import it rather than re-deriving it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check

    return oracle_check


def spark_rows(pdf, schema) -> list[tuple]:
    """toPandas output back to the Python values collect() would give:
    integral columns that pandas widened to float for NULLs become ints
    again, NaN in them becomes None."""
    oc = _oracle_check_module()
    from pyspark.sql import types as st

    integral = {
        f.name for f in schema.fields
        if isinstance(f.dataType, (st.ByteType, st.ShortType, st.IntegerType, st.LongType))
    }
    cols = list(pdf.columns)
    rows = []
    for rec in pdf.itertuples(index=False, name=None):
        row = []
        for c, v in zip(cols, rec):
            v = oc._py(v)
            if isinstance(v, float) and math.isnan(v) and c in integral:
                v = None
            elif isinstance(v, float) and c in integral:
                v = int(v)
            row.append(v)
        rows.append(tuple(row))
    return rows


class Oracle:
    """DuckDB views over the generated tables and the canonical hash of
    each registry row's oracle result."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]) -> None:
        import duckdb

        self.oc = _oracle_check_module()
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in self.oc.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._hash: dict[str, tuple[list[str], int, str]] = {}

    def expected(self, name: str) -> tuple[list[str], int, str]:
        if name not in self._hash:
            at = self.con.execute(self.sql[name]).fetch_arrow_table()
            cols = list(at.column_names)
            rows = [tuple(self.oc._py(d[c]) for c in cols) for d in at.to_pylist()]
            self._hash[name] = (sorted(cols), len(rows), self.oc._hash_rows(cols, rows))
        return self._hash[name]

    def check(self, name: str, pdf, schema) -> list[str]:
        cols, n, h = self.expected(name)
        if sorted(pdf.columns) != cols:
            return [f"{name}: columns {sorted(pdf.columns)} want {cols}"]
        if len(pdf) != n:
            return [f"{name}: {len(pdf)} rows want {n}"]
        got = self.oc._hash_rows(list(pdf.columns), spark_rows(pdf, schema))
        return [] if got == h else [f"{name}: value hash {got} want {h}"]
