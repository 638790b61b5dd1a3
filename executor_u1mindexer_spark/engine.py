"""U1MIndexerSpark — the user-facing facade mirroring the reference's
endpoint surface (executor.py:73-257) so a reference user can switch:

    reference endpoint            this class
    /search  (executor.py:73)  -> .search(queries_df, limit=, is_distance=)
    /index   (executor.py:127) -> .index(docs_df)
    /update  (executor.py:170) -> .update(docs_df)
    /delete  (executor.py:213) -> .delete(ids)
    /dump    (executor.py:227) -> .dump()
    /clear   (executor.py:238) -> .clear()
    /status  (executor.py:246) -> .status()

Differences by design (Spark-first, north star):
- state is immutable DataFrames snapshotted to parquet under `workspace`,
  not a mutable in-process index + memmap. dump() commits the vectors and
  the docstore as ONE version (maintenance.dump):

      workspace/CURRENT              pointer naming the committed version
      workspace/v<N>/vectors/        parquet (id, internal_id, emb)
      workspace/v<N>/docstore/       parquet (id, payload columns)

  A new engine on the workspace follows the pointer. Each dump writes a
  fresh v<N>, swaps the pointer, re-roots the engine's state on the files
  it just wrote and deletes the other v<N> directories, so a workspace has
  ONE writer engine at a time, and a search() result — a lazy plan over
  the current version — must be consumed before the next dump();
- search is EXACT (recall 1.0): `ef_query`/`ef_construction`/`max_connection`
  are accepted and ignored with the reasoning documented (executor.py:22-24
  tune an approximation this engine does not make);
- `max_elements` (executor.py:21) is OPTIONAL and defaults to unbounded —
  the 100 TB point. When set, index() admits new ids in arrival order
  while the next slot (internal-id high-water mark; tombstones below it
  keep their slots, hnswlib element-count semantics) stays under the cap
  and returns the overflow as a `rejected` warn-set DataFrame instead of
  reproducing the hnswlib raise;
- ids may be any orderable type (the reference used strings).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark.operators import knn, maintenance as M, traverse

VECTORS = "vectors"
DOCSTORE = "docstore"

# Iterated mutations MUST truncate lineage every batch: one upsert embeds
# the previous state's LOGICAL plan ~16 times (kept/updated/inserted/anti
# branches, the prior-count aggregate, and the dense-rank key pipeline), so
# N stacked batches give a ~16^N-node logical plan — measured 55k plan lines
# and 40s of driver-side analysis after just 3 batches. persist() alone does
# not help: the cache dedupes execution, not analysis. localCheckpoint
# (eager) collapses the plan to a single LogicalRDD at the cost of one
# materialization per batch — the same eager per-batch processing the
# reference endpoints do. The docstore's keyed upsert (anti-join + union)
# grows linearly instead, and is truncated at the same point. On a real
# cluster dump() is the robust form: it re-roots both frames on durable
# parquet (localCheckpoint does not survive executor loss).


class U1MIndexerSpark:
    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        *,
        workspace: str | None = None,
        metric: str = "cosine",
        limit: int = 20,
        ef_construction: int | None = None,
        ef_query: int | None = None,
        max_connection: int | None = None,
        max_elements: int | None = None,
    ) -> None:
        self.spark = spark
        self.dim = dim
        self.metric = metric
        self.limit = limit
        # HNSW knobs accepted for signature parity; exact search has no
        # recall/speed trade-off to tune (executor.py:22-24).
        self._ignored_knobs = (ef_construction, ef_query, max_connection)
        if max_elements is not None and max_elements < 0:
            raise ValueError(f"max_elements must be >= 0, got {max_elements}")
        self.max_elements = max_elements  # None = unbounded (the default)
        self.workspace = workspace
        self.clear()
        committed = M.load(spark, workspace) if workspace else {}
        self._vectors = committed.get(VECTORS, self._vectors)
        self._docstore = committed.get(DOCSTORE)

    # -- helpers ---------------------------------------------------------

    def _empty_vectors(self) -> DataFrame:
        """Known-empty state as a one-row projection under WHERE FALSE, NOT
        `createDataFrame([])`: the latter is an RDD-backed relation whose
        emptiness Catalyst cannot see, so a fresh engine's first upsert
        would drag the full kept/updated/anti join machinery through the
        plan (measured: a 166-node physical plan for a first-batch ingest).
        A literal false filter folds to an empty LocalRelation and
        PropagateEmptyRelation then prunes the state-side branches away —
        the first batch compiles to just dedup + dense-rank + insert."""
        return self.spark.sql(
            f"""SELECT CAST(NULL AS BIGINT) AS {M.ID},
                       CAST(NULL AS BIGINT) AS {M.IID},
                       CAST(NULL AS ARRAY<DOUBLE>) AS {M.EMB}"""
        ).where(F.lit(False))

    def _as_batch(self, docs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """Normalize an input batch to (id, emb, seq). Arrival order := a
        `seq` column when present, else the id order (deterministic stand-in
        for the reference's list position, executor.py:151).

        Dim validation (executor.py:144-148) is the LAZY dim_guard fused
        into the emb column: it rides the batch into the pass that
        materializes it (dump/search), so ingest reads the batch ONCE —
        the eager validate-then-ingest shape would scan a 100 TB batch
        twice. Error timing divergence documented at knn.dim_guard."""
        seq = F.col("seq") if "seq" in docs.columns else F.col(id_col)
        return docs.select(
            F.col(id_col).alias(M.ID),
            knn.dim_guard(F.col(vec_col).cast("array<double>"), self.dim).alias(M.EMB),
            seq.alias(M.SEQ),
        )

    def _before_mutation(self) -> None:
        """Truncate pending mutation lineage (see module note) BEFORE
        stacking another level: coalesce caps the partition fan-out (each
        upsert unions 3 branches whose broadcast joins preserve child
        partitioning — partitions would multiply ~3x per batch), then an
        eager localCheckpoint collapses each frame's logical plan to one
        LogicalRDD so plan analysis stays O(1) per batch. Deferred to the
        NEXT mutation so the common one-shot flow (index once, then
        dump/search) pays no extra materialization; a dump() re-roots the
        state on its files, which leaves nothing to truncate."""
        if not self._dirty:
            return
        self._dirty = False
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self._vectors = self._vectors.coalesce(n).localCheckpoint(eager=True)
        if self._docstore is not None:
            self._docstore = self._docstore.coalesce(n).localCheckpoint(eager=True)

    # -- endpoints -------------------------------------------------------

    def search(
        self,
        queries: DataFrame,
        *,
        limit: int | None = None,
        is_distance: bool = True,
        traversal_paths: str = "r",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        with_payload: bool = True,
        impl: str = "catalyst",
    ) -> DataFrame:
        """Top-k exact KNN with full-payload rows (executor.py:73-125).

        traversal_paths (executor.py:86): 'r' searches the root rows; 'c'
        explodes the `chunks` array first, so each chunk Document is a
        query — the chunk struct must carry the query id/embedding fields.

        impl='arrow' routes scoring through the chunk-packed numpy kernel
        (bit-identical results, ~20x lower marginal cost for large query
        batches — see operators/knn.knn_search).
        """
        queries = traverse.traverse_flat(queries, traversal_paths, id_col=query_id_col)
        k = limit if limit is not None else self.limit
        # lazy dim check (executor.py:105-110): guard fused into the query
        # vec column — enforced in the search pass itself, no pre-scan job
        queries = queries.withColumn(
            query_vec_col, knn.dim_guard(F.col(query_vec_col), self.dim)
        )
        stored = self._vectors.select(
            F.col(M.ID).alias("vec_id"), F.col(M.EMB).alias("embedding")
        )
        payload = self._docstore if with_payload else None
        return knn.knn_search(
            stored,
            queries,
            k=k,
            metric=self.metric,
            is_distance=is_distance,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            payload=payload,
            payload_key=M.ID,
            impl=impl,
        )

    def index(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        traversal_paths: str = "r",
    ) -> DataFrame | None:
        """Keyed upsert (executor.py:127-168): existing ids keep their
        internal id, new ids get dense arrival-order ids. traversal_paths
        (executor.py:138): 'c' indexes the chunk level of each document.

        With `max_elements` configured (executor.py:21), admission is
        capacity-bounded: new ids land in arrival order while the next
        slot (the internal-id high-water mark — tombstones below it keep
        their slots, hnswlib element-count semantics) stays under the
        cap, and the overflow ids are RETURNED as a warn-set DataFrame
        (the update()-skipped pattern) rather than reproducing hnswlib's
        add_items raise — callers wanting the hard failure assert the
        set is empty. Rejected ids are also kept out of the doc store.
        Unbounded engines (the default) return None and pay no extra
        jobs.

        Error-timing divergence (ADVICE r09, deliberate): the eager
        rejected-set materialization below runs the batch through
        dedup_latest, so the lazy dim_guard fires AT index() TIME on a
        capacity-bounded engine — matching the reference's request-time
        ValueError (hnswlib raises inside add_items, executor.py:151) —
        while the unbounded path defers the same error to the first
        dump/search (documented there). The cost is one Spark job per
        index() call even when nothing is rejected; accepted because the
        warn-set contract ("callers assert it is empty") requires the
        rejection decision to be consumable immediately, not a lazy plan
        whose admission cutoff would shift under later re-planning."""
        docs = traverse.traverse_flat(docs, traversal_paths, id_col=id_col)
        self._before_mutation()
        batch = self._as_batch(docs, id_col, vec_col)
        rejected = None
        if self.max_elements is not None:
            # the operator admits against the surviving high-water mark
            # (next slot = max(internal_id) + 1); subtracting the slot
            # debt accumulated by deletes of highest-slot rows makes the
            # admission compare against slots EVER allocated — strict
            # hnswlib element-count semantics (a delete never refunds
            # room). Internal ids may renumber into freed top slots, but
            # two live rows can never collide.
            cap = self.max_elements - self._slot_debt
            new_state, rejected = M.upsert_capacity_bound(
                self._vectors, batch, max(cap, 0)
            )
            rejected = rejected.localCheckpoint(eager=True)
            self._vectors = new_state.select(M.ID, M.IID, M.EMB)
            docs = docs.join(
                F.broadcast(rejected.withColumnRenamed(M.ID, id_col)),
                on=id_col,
                how="left_anti",
            )
        else:
            self._vectors = M.upsert(self._vectors, batch).select(M.ID, M.IID, M.EMB)
        payload = docs.withColumnRenamed(id_col, M.ID).drop(vec_col)
        if self._docstore is None:
            self._docstore = payload
        else:
            # keyed upsert: the batch's payload replaces every stored row of
            # its ids (ids repeated WITHIN the batch keep all their rows)
            self._docstore = self._docstore.join(
                F.broadcast(payload.select(M.ID)), on=M.ID, how="left_anti"
            ).unionByName(payload, allowMissingColumns=True)
        self._dirty = True
        return rejected

    def update(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        traversal_paths: str = "r",
    ) -> DataFrame:
        """Re-embed only already-indexed ids (executor.py:170-211); returns
        the skipped-id DataFrame (the reference logs a warning per skip).
        traversal_paths (executor.py:181): 'c' updates the chunk level.

        Known divergence, by design: the reference's /update writes ALL
        traversed docs to its doc store, including ids it just skipped as
        not-indexed (executor.py:210-211 loops over docs_to_update, not
        docs_filtered) — so a skipped doc becomes fetchable as payload
        while having no vector. This engine's update never touches the doc
        store: payload changes go through index(). We treat the reference
        behavior as a bug rather than semantics to reproduce."""
        docs = traverse.traverse_flat(docs, traversal_paths, id_col=id_col)
        self._before_mutation()
        batch = self._as_batch(docs, id_col, vec_col)
        skipped = M.skipped_updates(self._vectors, batch)
        self._vectors = M.update_existing(self._vectors, batch).select(M.ID, M.IID, M.EMB)
        self._dirty = True
        return skipped

    def delete(self, ids: DataFrame | Sequence[int]) -> None:
        """Remove ids; unknown ids silently ignored (executor.py:213-225).
        count_indexed keeps counting removed slots via the _tombstones
        counter that status() adds to the live count; capacity admission
        additionally carries the freed-top-slot debt (see below). Both
        counters are driver state scoped to this engine's LIFE: a dump()
        snapshot is a COMPACTED index (live rows only, same reason
        status() shows zero tombstones after a workspace reload), so
        accounting starts fresh on load — the documented divergence from
        hnswlib's save_index, which persists dead slots."""
        ids_df = (
            ids
            if isinstance(ids, DataFrame)
            else self.spark.createDataFrame([(int(i),) for i in ids], f"{M.ID} long")
        )
        self._before_mutation()
        # ONE aggregate job against the state computes everything delete-time
        # accounting needs: how many ids actually hit, the pre-delete
        # internal-id mark, and the surviving mark. The gap between the two
        # marks is recorded as SLOT DEBT: capacity admission works off the
        # surviving high-water mark (see index()), so without the debt a
        # delete of the highest-slot row would silently refund its slot —
        # hnswlib never refunds (element_count keeps tombstones,
        # executor.py:252). mark + debt = slots ever allocated, exactly.
        # distinct() before the left join: a repeated id in the delete list
        # would duplicate its matched state row and inflate n_hit (the old
        # left_semi shape was naturally immune; a plain left join is not)
        marked = self._vectors.join(
            F.broadcast(
                ids_df.select(M.ID).distinct().withColumn("__del", F.lit(True))
            ),
            on=M.ID,
            how="left",
        )
        row = marked.agg(
            F.count(F.when(F.col("__del"), F.lit(1))).alias("n_hit"),
            F.max(M.IID).alias("mark_all"),
            F.max(F.when(F.col("__del").isNull(), F.col(M.IID))).alias("mark_surv"),
        ).collect()[0]
        n_hit = row["n_hit"]
        if n_hit:
            freed_top = (int(row["mark_all"]) + 1) - (
                int(row["mark_surv"]) + 1 if row["mark_surv"] is not None else 0
            )
            self._slot_debt += max(freed_top, 0)
        self._tombstones += n_hit
        self._vectors = M.delete_by_ids(self._vectors, ids_df)
        if self._docstore is not None:
            self._docstore = self._docstore.join(
                F.broadcast(ids_df.select(M.ID)), on=M.ID, how="left_anti"
            )
        self._dirty = True

    def dump(self) -> None:
        """Commit vectors + docstore to the workspace as one version
        (executor.py:227-236) and continue from the committed files — see
        the module docstring for the layout and maintenance.dump for the
        commit steps. A dump that fails before its commit leaves the
        workspace and the engine's state as they were."""
        if not self.workspace:
            raise ValueError("no workspace configured")
        frames = {VECTORS: self._vectors}
        if self._docstore is not None:
            frames[DOCSTORE] = self._docstore
        committed = M.dump(self.workspace, frames)
        self._vectors = committed[VECTORS]
        self._docstore = committed.get(DOCSTORE)
        self._dirty = False

    def clear(self) -> None:
        """Drop everything, keep config (executor.py:238-244); also the
        initial state of a new engine."""
        self._vectors = self._empty_vectors()
        self._docstore: DataFrame | None = None
        self._tombstones = 0  # deleted slots, counted by status()
        self._slot_debt = 0  # freed top slots capacity admission still counts
        self._dirty = False  # lineage grown since the last truncation point

    def status(self) -> dict[str, int]:
        """Counts (executor.py:246-257): count_indexed includes tombstoned
        slots, matching hnswlib element_count semantics. Both counts run in
        ONE Spark job (the scalar aggregates cross-join into a single 1-row
        plan) instead of two separate collects."""
        vec_n = self._vectors.agg(F.count(F.lit(1)).alias("n_vec"))
        ds = self._docstore
        if ds is not None:
            row = vec_n.crossJoin(
                ds.agg(F.count(F.lit(1)).alias("n_doc"))
            ).collect()[0]
            active, dam = row["n_vec"], row["n_doc"]
        else:
            active = vec_n.collect()[0]["n_vec"]
            dam = active
        return {
            "count_indexed": active + self._tombstones,
            "count_active": active,
            "count_deleted": self._tombstones,
            "size_dam": dam,
        }
