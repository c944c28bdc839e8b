"""Incremental materialized JOIN-view maintenance: keep a fact⋈dim
equi-join materialization up to date under keyed CDC batches WITHOUT ever
re-joining the full tables — the join sibling of streaming.rollup's
continuous aggregation, and the missing piece between the reference's
"land CDC into queryable tables" (reference README.md:234, 273) and the
denormalized views those tables exist to serve.

The delta-join algebra for a keyed view: when a batch Δ lands on either
side, the only view rows that can change are those whose FACT KEY is
affected —

- a fact batch affects exactly its own fact keys;
- a dim batch affects the fact keys whose FK references a changed dim key
  (one semi-join of the stored fact against the batch's dim keys — the
  batch side broadcasts).

Affected keys are re-derived from current state (post-merge fact rows ⋈
current dim) and upserted into the view; affected keys with no surviving
join row become view deletes. Cost per batch is O(|Δ| + affected rows) —
independent of table size — except that a batch which actually RETRACTS
rows additionally semi-joins the view to fetch the stale rows' partition
values (insert/update-only batches, the steady state, skip it). The view
write is a KeyedTable COW merge, partition-prunable the same way (pass
``partition_by``). At 100 TB this
is the difference between a nightly full re-join and a seconds-latency
denormalized serving table.

Restart/replay: every refresh recomputes affected rows FROM CURRENT
STATE (never from the delta alone), so re-delivering the LATEST batch
is a no-op. That is the whole guarantee: KeyedTable's merge gives any
incoming batch priority over the stored snapshot, so replaying an
EARLIER batch regresses the fact table (and therefore the view) —
at-least-once delivery must be guarded upstream by batch-id dedup,
exactly as streaming.rollup does with its (run_id, batch_id) commit
names. The `_ivm_seq` ordering column exists only to satisfy the
precombine contract; each refresh emits at most one row per fact key,
so its value never breaks a tie.

Contract: fact and dim column names must be disjoint (star-schema
prefixes — o_*, c_* — satisfy this); a fact row's FK may change between
batches (the refresh recomputes from current state, so re-pointing is
handled); ``how`` is "inner" or "left".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import KeyedTable

_SEQ = "_ivm_seq"


class IncrementalJoinView:
    """Materialized ``fact ⋈ dim`` view at ``path``, maintained
    incrementally from CDC batches applied to either side.

    >>> v = IncrementalJoinView(spark, path, fact_keys=["o_orderkey"],
    ...                         fk="o_custkey", dim_key="c_custkey")
    >>> v.apply_dim_batch(customers)          # op/_lsn per KeyedTable
    >>> v.apply_fact_batch(orders_batch_1)
    >>> v.read()                              # the denormalized view
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact_keys: Sequence[str],
        fk: str,
        dim_key: str,
        how: str = "inner",
        ordering: Sequence[str] = ("_lsn",),
        op_col: str | None = "op",
        partition_by: Sequence[str] = (),
    ) -> None:
        if how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
        if fk == dim_key:
            raise ValueError(
                f"fk and dim_key must have distinct names (both {fk!r}) — "
                "alias one side; the join keeps the fact's FK column"
            )
        self.spark = spark
        self.fact_keys = list(fact_keys)
        self.fk = fk
        self.dim_key = dim_key
        self.how = how
        self.fact = KeyedTable(
            spark, f"{path}_fact", keys=fact_keys, ordering=ordering,
            op_col=op_col, partition_by=partition_by,
        )
        self.dim = KeyedTable(
            spark, f"{path}_dim", keys=[dim_key], ordering=ordering,
            op_col=op_col,
        )
        self.view = KeyedTable(
            spark, f"{path}_view", keys=fact_keys, ordering=(_SEQ,),
            op_col="_op", partition_by=partition_by,
        )

    # -- apply --------------------------------------------------------------

    def _data_cols(self, table: KeyedTable, df_cols) -> set:
        """A change batch's DATA columns — what the KeyedTable will
        actually persist (CDC metadata stripped). RESERVED view-machinery
        names are rejected outright: a fact/dim data column named _op /
        _ivm_seq / __ivm_dkey would be silently clobbered by _refresh's
        withColumn or stripped as view metadata — fail loudly instead."""
        from ..operators.merge import cdc_meta_columns

        reserved = {"_op", _SEQ, "__ivm_dkey"} & set(df_cols)
        if reserved:
            raise ValueError(
                f"batch carries reserved IVM column(s) {sorted(reserved)}; "
                "rename them before joining into the view"
            )
        meta = cdc_meta_columns(table.op_col, table.ordering)
        return {c for c in df_cols if c not in meta}

    def _check_disjoint(self, fact_cols: set, dim_cols: set) -> None:
        """The contract check, run BEFORE any table is mutated: a batch
        that violates it must not poison the stored schema (KeyedTable's
        schema reconciliation would persist the colliding column and wedge
        every later clean batch). dim_key is NOT exempted — a fact column
        named like the dim key makes the join condition ambiguous."""
        overlap = fact_cols & dim_cols
        if overlap:
            raise ValueError(
                f"fact and dim column names must be disjoint, both carry "
                f"{sorted(overlap)} — prefix one side before joining"
            )

    def apply_fact_batch(self, changes: DataFrame) -> None:
        """Land one fact-side CDC batch (same change contract as
        KeyedTable.upsert: row columns + ordering + op column), then
        refresh the view rows for exactly the batch's fact keys.

        Facts may arrive BEFORE any dim batch: with ``how='left'`` the
        view materializes fact rows immediately (dim columns appear —
        null-backfilled — once the dim lands, via the KeyedTable merge's
        schema reconciliation); with ``how='inner'`` the rows stay out of
        the view until a dim batch brings their match."""
        if self.dim.exists():
            self._check_disjoint(
                self._data_cols(self.fact, changes.columns),
                set(self.dim.read().columns),
            )
        changes = changes.localCheckpoint(eager=True)
        self.fact.upsert(changes)
        self._refresh(changes.select(*self.fact_keys).distinct())

    def apply_dim_batch(self, changes: DataFrame) -> None:
        """Land one dim-side CDC batch, then refresh the view rows of
        every fact key referencing a changed dim key — found with ONE
        semi-join of the stored fact against the (broadcast) batch keys;
        with the fact partitioned by an FK-derived column this prunes at
        the directory level."""
        if self.fact.exists():
            self._check_disjoint(
                set(self.fact.read().columns),
                self._data_cols(self.dim, changes.columns),
            )
        changes = changes.localCheckpoint(eager=True)
        self.dim.upsert(changes)
        if not self.fact.exists():
            return  # no facts yet — nothing to refresh
        dkeys = changes.select(
            F.col(self.dim_key).alias("__ivm_dkey")
        ).distinct()
        affected = (
            self.fact.read()
            .join(F.broadcast(dkeys), F.col(self.fk) == F.col("__ivm_dkey"), "left_semi")
            .select(*self.fact_keys)
            .distinct()
        )
        self._refresh(affected)

    # -- maintenance core ---------------------------------------------------

    def _refresh(self, affected_keys: DataFrame) -> None:
        """Recompute the view rows for ``affected_keys`` from current
        fact/dim state: desired rows upsert; affected keys with no
        surviving join row (fact deleted, or inner join lost its dim
        match) become view deletes. Everything is keyed work — no
        full-table recomputation."""
        keys = affected_keys.localCheckpoint(eager=True)
        if keys.isEmpty():
            return
        fact_rows = self.fact.read().join(keys, self.fact_keys, "left_semi")
        if self.dim.exists():
            desired = fact_rows.join(
                self.dim.read(), F.col(self.fk) == F.col(self.dim_key), self.how
            ).drop(self.dim_key)
        elif self.how == "left":
            # Facts before any dim: left rows materialize now with no dim
            # columns; the dim's later refresh backfills via the merge's
            # schema reconciliation.
            desired = fact_rows
        else:
            desired = fact_rows.limit(0)
        desired = desired.localCheckpoint(eager=True)
        gone_keys = keys.join(
            desired.select(*self.fact_keys).distinct(), self.fact_keys, "left_anti"
        ).localCheckpoint(eager=True)
        # Retractions carry the CURRENT stale view row, not null-filled
        # keys: with a partitioned view, a delete row whose partition
        # columns are NULL lands in the wrong partition and the
        # partition-pruned merge never reaches the stale row — the
        # retraction would be silently dropped. The view semi-join scan is
        # paid ONLY on batches that actually retract (gone_keys empty is
        # the steady insert/update case), keeping per-batch cost
        # O(|Δ| + affected rows) outside retractions.
        if gone_keys.isEmpty() or not self.view.exists():
            stale = desired.limit(0)
        else:
            stale = self.view.read().join(gone_keys, self.fact_keys, "left_semi")
        batch = (
            desired.withColumn("_op", F.lit("u"))
            .unionByName(stale.withColumn("_op", F.lit("d")), allowMissingColumns=True)
            .withColumn(_SEQ, F.lit(1))
        )
        self.view.upsert(batch)

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The maintained denormalized view (internal columns stripped)."""
        return self.view.read()
