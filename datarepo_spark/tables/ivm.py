"""Incremental view maintenance: a GROUP BY aggregate table kept in
sync with a Delta source by consuming its change feed — never
re-scanning the source (except the bounded MIN/MAX re-derivation
below).

``IncrementalAggregate`` maintains ``SELECT group_cols, COUNT(*) AS
n_rows, SUM(c) AS sum_c, MIN(m) AS min_m, MAX(m) AS max_m ... GROUP BY
group_cols`` as a Delta table. Each :meth:`advance` polls the source's
:class:`DeltaChangeStream`, folds the batch into per-group DELTAS
(inserts count +1, deletes −1 — COUNT and SUM are the fully
self-maintainable aggregates), and applies them with one MERGE (upsert
combined values, including groups that reach zero) plus one DELETE of
``n_rows = 0`` groups.

MIN/MAX are self-maintainable under INSERTS (new extremum =
least/greatest of old and batch) but not under DELETES: when a batch
deletes a value that ties the group's stored extremum, the true new
extremum is unknowable from the change stream alone. Those groups —
and ONLY those groups — are re-derived by reading the source at the
batch's version semi-joined to the affected group keys, so the
re-derivation cost tracks the DELETE-AFFECTED group count (and their
partition/stats-pruned files), never the source or view size. AVG is
derived (sum / count) at read time — maintaining it separately would
just duplicate state.

Exactly-once across crash/replay without distributed transactions:
- both commits carry a SetTransaction (``app_id`` = the maintenance
  identity, versions ``2v`` and ``2v+1`` for source version ``v``), so
  a replayed MERGE is skipped off the ledger (the MIN/MAX
  re-derivation reads the source AT version ``v``, so a replay
  recomputes identical values);
- the zero-group DELETE is derived from the DESTINATION's current
  state (``n_rows = 0`` rows), not recomputed from the batch — on
  replay it deletes exactly the rows a crashed run left behind, or
  nothing;
- the stream cursor advances only after both commits land.
Readers may observe a transient ``n_rows = 0`` row between the two
commits — filter or treat as absent (they are deleted in the same
advance call).

At scale this is the standard sketch of materialized-view maintenance
(self-maintainable aggregates over a delta stream): per-advance cost
tracks the CHANGE volume and the affected groups' files (merge_delta
rewrites only those), never the source or view size. Sums accumulate
in DECIMAL(38,6) so repeated incremental application is exactly equal
to a from-scratch recompute — float sums would drift by ordering.

:class:`IncrementalJoinAggregate` extends the same fold to a JOIN VIEW
(fact ⋈ static dim) via the one-changing-side delta rule
Δ(view) = Δ(fact) ⋈ dim — see its docstring.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.filters import Filter
from .delta_cdf import CHANGE_TYPE, DeltaChangeStream
from .delta_log import DeltaLog
from .delta_table import DeltalakeTable
from .delta_writer import delete_delta, merge_delta, write_delta


class IncrementalAggregate:
    def __init__(
        self,
        source_uri: str,
        dest_uri: str,
        checkpoint_path: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        minmax_cols: Sequence[str] = (),
        avg_cols: Sequence[str] = (),
    ):
        if not group_cols:
            raise ValueError("group_cols must be non-empty")
        self.source_uri = source_uri.rstrip("/")
        self.dest_uri = dest_uri.rstrip("/")
        self.group_cols = list(group_cols)
        # AVG derives from sum/count: ensure the sum is maintained
        self.sum_cols = list(sum_cols) + [
            c for c in avg_cols if c not in sum_cols
        ]
        self.minmax_cols = list(minmax_cols)
        self.avg_cols = list(avg_cols)
        self.stream = DeltaChangeStream(source_uri, checkpoint_path)
        self.app_id = f"ivm:{self.dest_uri}"

    # -- the maintained schema ------------------------------------------------

    def _with_group_key(self, df: DataFrame) -> DataFrame:
        """Append the surrogate merge key: a sha256 over the group tuple
        with an explicit NULL marker. GROUP BY treats NULL keys as one
        group, but every join in the maintenance path (and merge_delta's
        key match) is null-UNSAFE — merging on the raw group columns
        would append a fresh row for the NULL group on every advance.
        The surrogate is non-null by construction, so all keying is
        exact."""
        parts = []
        for c in self.group_cols:
            v = F.col(c).cast("string")
            # length-prefixed encoding: "v<len>:<value>" / "n:" — no
            # separator can be injected by a value, so distinct tuples
            # can never encode (and hash) identically
            parts.append(
                F.coalesce(
                    F.concat(F.lit("v"), F.length(v), F.lit(":"), v),
                    F.lit("n:"),
                )
            )
        return df.withColumn(
            "__group_key", F.sha2(F.concat(*parts), 256)
        )

    def _prepare(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """Hook: transform source/change rows before keying+folding.
        Identity here; :class:`IncrementalJoinAggregate` enriches with
        the static dim so the same fold maintains a join view."""
        return df

    def _delta_frame(self, changes: DataFrame) -> DataFrame:
        changes = self._prepare(changes.sparkSession, changes)
        is_insert = F.col(CHANGE_TYPE) == "insert"
        sign = F.when(is_insert, F.lit(1)).otherwise(F.lit(-1))
        aggs = [
            F.sum(sign).cast("long").alias("n_rows"),
            *[
                F.sum(F.col(c).cast("decimal(38,6)") * sign)
                .cast("decimal(38,6)")
                .alias(f"sum_{c}")
                for c in self.sum_cols
            ],
        ]
        for m in self.minmax_cols:
            ins = F.when(is_insert, F.col(m))
            dels = F.when(~is_insert, F.col(m))
            aggs += [
                F.min(ins).alias(f"__insmin_{m}"),
                F.max(ins).alias(f"__insmax_{m}"),
                F.min(dels).alias(f"__delmin_{m}"),
                F.max(dels).alias(f"__delmax_{m}"),
            ]
        return self._with_group_key(changes).groupBy(
            "__group_key", *self.group_cols
        ).agg(*aggs)

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        """The maintained aggregate (None before the first advance).
        AVG columns are derived here — sum_c / n_rows as
        DECIMAL(38,6) — so they are exactly the ratio of the two
        maintained exact aggregates."""
        if not os.path.isdir(os.path.join(self.dest_uri, "_delta_log")):
            return None
        df = (
            DeltalakeTable(
                os.path.basename(self.dest_uri), self.dest_uri
            )(spark=spark)
            .filter(F.col("n_rows") > 0)
            .drop("__group_key")
        )
        for c in self.avg_cols:
            df = df.withColumn(
                f"avg_{c}",
                (F.col(f"sum_{c}") / F.col("n_rows")).cast(
                    "decimal(38,6)"
                ),
            )
        return df

    # -- maintenance ----------------------------------------------------------

    def _combined_frame(
        self,
        spark: SparkSession,
        current: Optional[DataFrame],
        delta: DataFrame,
        version: int,
        has_deletes: bool = True,
    ) -> DataFrame:
        """Fold the per-group delta into the current state, re-deriving
        MIN/MAX from the source (at ``version``) for exactly the groups
        whose delete batch could have removed a stored extremum."""
        d = delta.alias("d")
        if current is not None:
            cur = current.join(
                delta.select("__group_key"), "__group_key", "left_semi"
            ).alias("c")
            joined = cur.join(d, "__group_key", "full_outer")

            def c_col(name):
                return F.col(f"c.{name}")
        else:
            joined = d

            def c_col(name):
                return F.lit(None)

        cols = [
            "__group_key",
            *[
                F.coalesce(F.col(f"d.{g}"), c_col(g)).alias(g)
                for g in self.group_cols
            ],
            (
                F.coalesce(c_col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d.n_rows"), F.lit(0))
            ).cast("long").alias("n_rows"),
            *[
                (
                    F.coalesce(
                        c_col(f"sum_{c2}"),
                        F.lit(0).cast("decimal(38,6)"),
                    )
                    + F.coalesce(
                        F.col(f"d.sum_{c2}"),
                        F.lit(0).cast("decimal(38,6)"),
                    )
                ).cast("decimal(38,6)").alias(f"sum_{c2}")
                for c2 in self.sum_cols
            ],
        ]
        if not self.minmax_cols:
            return joined.select(*cols)

        cand = {
            m: (
                F.least(c_col(f"min_{m}"), F.col(f"d.__insmin_{m}")),
                F.greatest(c_col(f"max_{m}"), F.col(f"d.__insmax_{m}")),
            )
            for m in self.minmax_cols
        }
        if not has_deletes:
            # insert-only batch: MIN/MAX are fully self-maintainable —
            # no source read appears in the plan at all
            for m in self.minmax_cols:
                cols += [
                    cand[m][0].alias(f"min_{m}"),
                    cand[m][1].alias(f"max_{m}"),
                ]
            return joined.select(*cols)

        # insert-side candidates are self-maintainable; a delete that
        # ties (or, for a group new in this batch, undercuts) the
        # candidate poisons it
        need_any = F.lit(False)
        for m in self.minmax_cols:
            cand_min, cand_max = cand[m]
            cols += [
                cand_min.alias(f"__cand_min_{m}"),
                cand_max.alias(f"__cand_max_{m}"),
            ]
            dmin = F.col(f"d.__delmin_{m}")
            dmax = F.col(f"d.__delmax_{m}")
            need_any = (
                need_any
                | (dmin.isNotNull() & (cand_min.isNull() | (dmin <= cand_min)))
                | (dmax.isNotNull() & (cand_max.isNull() | (dmax >= cand_max)))
            )
        cols.append(need_any.alias("__need_rederive"))
        combined = joined.select(*cols)

        # bounded re-derivation: source AT the batch version, restricted
        # to the poisoned groups (delete-affected only) — cost tracks
        # |affected groups|, not view/source size
        affected = combined.filter(F.col("__need_rederive")).select(
            "__group_key"
        )
        source = DeltalakeTable(
            os.path.basename(self.source_uri), self.source_uri
        )(spark=spark, version=version)
        keyed = self._with_group_key(self._prepare(spark, source)).join(
            affected, "__group_key", "left_semi"
        )
        rederived = keyed.groupBy("__group_key").agg(
            *[
                a
                for m in self.minmax_cols
                for a in (
                    F.min(m).alias(f"__true_min_{m}"),
                    F.max(m).alias(f"__true_max_{m}"),
                )
            ]
        )
        final = combined.join(rederived, "__group_key", "left")
        out = ["__group_key", *self.group_cols, "n_rows"] + [
            f"sum_{c2}" for c2 in self.sum_cols
        ]
        selected = [*out]
        for m in self.minmax_cols:
            selected.append(
                F.when(
                    F.col("__need_rederive"), F.col(f"__true_min_{m}")
                ).otherwise(F.col(f"__cand_min_{m}")).alias(f"min_{m}")
            )
            selected.append(
                F.when(
                    F.col("__need_rederive"), F.col(f"__true_max_{m}")
                ).otherwise(F.col(f"__cand_max_{m}")).alias(f"max_{m}")
            )
        return final.select(*selected)

    def advance(
        self, spark: SparkSession, max_versions: Optional[int] = None
    ) -> Optional[int]:
        """Apply the next change batch; returns the source version
        caught up to, or None when already current."""
        batch = self.stream.poll(spark, max_versions=max_versions)
        if batch is None:
            return None
        changes, version = batch
        delta = self._delta_frame(changes)
        exists = os.path.isdir(os.path.join(self.dest_uri, "_delta_log"))
        has_deletes = bool(self.minmax_cols) and bool(
            changes.filter(F.col(CHANGE_TYPE) != "insert").head(1)
        )

        if not exists:
            combined = self._combined_frame(
                spark, None, delta, version, has_deletes
            )
            write_delta(
                combined.filter(F.col("n_rows") > 0),
                self.dest_uri,
                txn_app_id=self.app_id,
                txn_version=2 * version,
            )
        else:
            current = DeltalakeTable(
                os.path.basename(self.dest_uri), self.dest_uri
            )(spark=spark)
            if "__group_key" not in current.columns:
                raise ValueError(
                    f"IVM destination {self.dest_uri} predates the "
                    f"surrogate-group-key schema (no __group_key "
                    f"column); rebuild the view (drop the destination "
                    f"table and cursor, then advance from scratch)"
                )
            combined = self._combined_frame(
                spark, current, delta, version, has_deletes
            )
            merge_delta(
                spark,
                self.dest_uri,
                combined,
                on=["__group_key"],
                txn_app_id=self.app_id,
                txn_version=2 * version,
            )
            # groups that reached zero: delete by DESTINATION state, so a
            # crash-replay deletes the leftovers or nothing (see module
            # docstring)
            if (
                DeltaLog(self.dest_uri)
                .snapshot()
                .app_transactions.get(self.app_id, -1)
                < 2 * version + 1
            ):
                delete_delta(
                    spark,
                    self.dest_uri,
                    [Filter("n_rows", "=", 0)],
                    txn_app_id=self.app_id,
                    txn_version=2 * version + 1,
                )
        self.stream.ack(version)
        return version


class IncrementalJoinAggregate(IncrementalAggregate):
    """A fact ⋈ static-dim JOIN VIEW kept in sync from the FACT's change
    feed: ``SELECT <dim attrs>, COUNT(*)/SUM/MIN/MAX(fact cols) FROM
    fact JOIN dim ON fact.fk = dim.pk GROUP BY <dim attrs>``.

    Delta rule for a join with one changing side and a static dim
    unique on its key: Δ(view) = Δ(fact) ⋈ dim. Each change batch is
    therefore enriched with the (broadcast) dim before the signed fold
    the base class already does, and the bounded MIN/MAX re-derivation
    enriches its source-at-version read identically — maintenance cost
    still tracks change volume, never fact or view size. Inner-join
    semantics: a fact change whose key has no dim row leaves the view
    untouched (both on insert and on delete — the enrichment is applied
    symmetrically, so the signs still cancel).

    ``dim_fn(spark)`` must return the SAME dim content on every call
    while a view is being maintained — a changing dim breaks the delta
    rule (Δ(view) would need Δ(dim) ⋈ fact too); rebuild the view to
    pick up dim changes.
    """

    def __init__(
        self,
        source_uri: str,
        dest_uri: str,
        checkpoint_path: str,
        dim_fn,
        fact_key: str,
        dim_key: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        minmax_cols: Sequence[str] = (),
        avg_cols: Sequence[str] = (),
    ):
        super().__init__(
            source_uri,
            dest_uri,
            checkpoint_path,
            group_cols=group_cols,
            sum_cols=sum_cols,
            minmax_cols=minmax_cols,
            avg_cols=avg_cols,
        )
        self._dim_fn = dim_fn
        self.fact_key = fact_key
        self.dim_key = dim_key

    def _prepare(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        dim = self._dim_fn(spark).select(self.dim_key, *self.group_cols)
        if self.fact_key == self.dim_key:
            return df.join(F.broadcast(dim), on=self.fact_key, how="inner")
        return df.join(
            F.broadcast(dim),
            df[self.fact_key] == dim[self.dim_key],
            "inner",
        ).drop(self.dim_key)


class IncrementalDistinctCount:
    """COUNT(DISTINCT key) per group, incrementally maintained — the
    aggregate the base class deliberately excludes (distinct counts are
    NOT self-maintainable from per-group scalars: a delete can't tell
    you whether the key still exists in the group).

    The standard fix is the 2-LEVEL construction: the maintained state
    is per-(group, key) MULTIPLICITIES — which ARE fully
    self-maintainable under both inserts and deletes (plain counts,
    +1/−1, zero-rows purged) — and the distinct count is a derived
    COUNT(*) of surviving keys at read time. This composes the existing
    :class:`IncrementalAggregate` machinery verbatim (the inner
    aggregate's group is ``group_cols + [distinct_col]``), inheriting
    its MERGE + zero-delete maintenance, SetTransaction exactly-once,
    and change-volume-proportional cost. No MIN/MAX re-derivation path
    is ever needed: every maintained aggregate here is a count.

    State size is O(live (group, key) pairs) — the true lower bound
    for EXACT distinct maintenance under deletes (approximate HLL
    state can't process deletes at all). At 100 TB that state is a
    Delta table merged on the (group, key) surrogate, so per-advance
    cost tracks the change volume and affected keys' files, never the
    source or state size.

    ``read(spark)`` → one row per group:
    (group_cols…, n_distinct_<distinct_col>, n_rows)."""

    def __init__(
        self,
        source_uri: str,
        dest_uri: str,
        checkpoint_path: str,
        group_cols: Sequence[str],
        distinct_col: str,
    ):
        if distinct_col in group_cols:
            raise ValueError("distinct_col cannot be a group column")
        self.group_cols = list(group_cols)
        self.distinct_col = distinct_col
        self.dest_uri = dest_uri.rstrip("/")
        self._inner = IncrementalAggregate(
            source_uri,
            dest_uri,
            checkpoint_path,
            group_cols=list(group_cols) + [distinct_col],
        )

    def advance(self, spark: SparkSession):
        """Fold the next change batch into the multiplicity state (see
        :meth:`IncrementalAggregate.advance`); returns its result."""
        return self._inner.advance(spark)

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        state = self._inner.read(spark)
        if state is None:
            return None
        return state.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias(f"n_distinct_{self.distinct_col}"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        )


class IncrementalTopK:
    """Top-k rows per group (by ``val_col`` DESC, ``id_col`` ASC),
    incrementally maintained — the leaderboard/materialized-ranking
    view. Reference parity note: the reference library has no write or
    maintenance path at all (SURVEY.md §2A "No write paths"); this
    extends the repo's IVM family alongside
    :class:`IncrementalAggregate`.

    Maintainability follows the MIN/MAX analysis (k=1 is exactly MIN/
    MAX): INSERTS are self-maintainable — rank (stored ∪ inserted)
    rows and keep k; an insert that doesn't beat the stored k-th can
    never enter the view later (stored state IS the true top-k while
    no delete has hit it). DELETES of a NON-stored row (below the
    k-th) provably leave the view unchanged. DELETES that hit a STORED
    row evict it, and the replacement (the old k+1-th) is not in
    state — those groups, and ONLY those, are re-derived from the
    source AT the batch's version, semi-joined to the affected group
    keys: cost tracks the delete-affected group count, never source or
    view size.

    Exactly-once uses the module's two-commit SetTransaction pattern:
    MERGE upserts the new top-k rows AND marks evicted/deleted stored
    rows ``rnk = 0`` (version ``2v``); a destination-derived DELETE of
    ``rnk = 0`` rows follows (``2v+1``) — a crash-replay deletes the
    leftovers or nothing. ``read()`` filters ``rnk > 0``, so the
    transient marker rows are never observable through the API.

    State is O(k · groups) rows merged on a per-row surrogate key —
    at 100 TB the MERGE rewrites only the affected groups' files."""

    def __init__(
        self,
        source_uri: str,
        dest_uri: str,
        checkpoint_path: str,
        group_cols: Sequence[str],
        id_col: str,
        val_col: str,
        k: int = 3,
    ):
        if not group_cols:
            raise ValueError("group_cols must be non-empty")
        if k < 1:
            raise ValueError("k must be >= 1")
        self.source_uri = source_uri.rstrip("/")
        self.dest_uri = dest_uri.rstrip("/")
        self.group_cols = list(group_cols)
        self.id_col = id_col
        self.val_col = val_col
        self.k = k
        self.stream = DeltaChangeStream(source_uri, checkpoint_path)
        self.app_id = f"ivm-topk:{self.dest_uri}"
        # reuse the base class's injection-safe surrogate keying
        self._keyer = IncrementalAggregate(
            source_uri, dest_uri + "__keyer", checkpoint_path + "__keyer",
            group_cols=group_cols,
        )

    # -- keying ---------------------------------------------------------------

    def _keyed(self, df: DataFrame) -> DataFrame:
        """__group_key over the group tuple plus __row_key over
        (group tuple, id) — both length-prefixed sha256 (see
        IncrementalAggregate._with_group_key)."""
        df = self._keyer._with_group_key(df)
        rid = F.col(self.id_col).cast("string")
        return df.withColumn(
            "__row_key",
            F.sha2(
                F.concat(
                    F.col("__group_key"),
                    F.coalesce(
                        F.concat(F.lit("v"), F.length(rid), F.lit(":"), rid),
                        F.lit("n:"),
                    ),
                ),
                256,
            ),
        )

    def _project(self, df: DataFrame) -> DataFrame:
        return df.select(
            "__group_key", "__row_key", *self.group_cols,
            self.id_col, self.val_col,
        )

    def _ranked_topk(self, candidates: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("__group_key").orderBy(
            F.desc(self.val_col), F.asc(self.id_col)
        )
        return (
            candidates.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= self.k)
            .withColumn("rnk", F.col("rnk").cast("int"))
        )

    # -- API ------------------------------------------------------------------

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        """The maintained top-k (None before the first advance)."""
        if not os.path.isdir(os.path.join(self.dest_uri, "_delta_log")):
            return None
        return (
            DeltalakeTable(
                os.path.basename(self.dest_uri), self.dest_uri
            )(spark=spark)
            .filter(F.col("rnk") > 0)
            .drop("__group_key", "__row_key")
        )

    def advance(
        self, spark: SparkSession, max_versions: Optional[int] = None
    ) -> Optional[int]:
        """Apply the next change batch; returns the source version
        caught up to, or None when already current."""
        batch = self.stream.poll(spark, max_versions=max_versions)
        if batch is None:
            return None
        changes, version = batch
        ch = self._keyed(changes)
        inserts = self._project(ch.filter(F.col(CHANGE_TYPE) == "insert"))
        deletes = ch.filter(F.col(CHANGE_TYPE) != "insert").select(
            "__group_key", "__row_key"
        )
        exists = os.path.isdir(os.path.join(self.dest_uri, "_delta_log"))

        if not exists:
            # derive the first state from the SOURCE at this batch's
            # version, not from the batch's insert records: a
            # multi-commit first window can insert a row and delete it
            # again (or delete-then-reinsert), and replaying only the
            # inserts would admit ghost rows — the source snapshot is
            # the ground truth either way (r11 advice)
            state = self._ranked_topk(
                self._project(
                    self._keyed(
                        DeltalakeTable(
                            os.path.basename(self.source_uri),
                            self.source_uri,
                        )(spark=spark, version=version)
                    )
                )
            )
            write_delta(
                state,
                self.dest_uri,
                txn_app_id=self.app_id,
                txn_version=2 * version,
            )
            self.stream.ack(version)
            return version

        current = (
            DeltalakeTable(
                os.path.basename(self.dest_uri), self.dest_uri
            )(spark=spark)
            .filter(F.col("rnk") > 0)
        )
        affected = (
            inserts.select("__group_key")
            .unionByName(deletes.select("__group_key"))
            .distinct()
        )
        cur_aff = self._project(
            current.join(affected, "__group_key", "left_semi")
        )
        # groups where a delete evicted a STORED row: the old k+1-th is
        # unknowable from state — re-derive exactly these from the
        # source at this batch's version. ALSO re-derive any group
        # where a delete's row key matches a same-batch insert (r11
        # advice): within a multi-commit window the batch can carry
        # insert-then-delete (a ghost if the insert were kept) or
        # delete-then-reinsert (a lost row if the insert were netted
        # away) — the change records don't order within the window, so
        # the source snapshot at `version` is the only safe truth for
        # those groups. Cost stays change-proportional: the set is
        # keyed by the batch's own delete records.
        same_batch = deletes.join(
            inserts.select("__row_key"), "__row_key", "left_semi"
        )
        rederive = (
            deletes.join(cur_aff, "__row_key", "left_semi")
            .select("__group_key")
            .unionByName(same_batch.select("__group_key"))
            .distinct()
        )
        source_rows = self._project(
            self._keyed(
                DeltalakeTable(
                    os.path.basename(self.source_uri), self.source_uri
                )(spark=spark, version=version)
            ).join(rederive, "__group_key", "left_semi")
        )
        kept_cur = cur_aff.join(rederive, "__group_key", "left_anti")
        kept_ins = inserts.join(rederive, "__group_key", "left_anti")
        candidates = source_rows.unionByName(kept_cur).unionByName(kept_ins)
        topk = self._ranked_topk(candidates)
        # stored rows of affected groups that fell out (evicted, deleted,
        # or out-ranked) are upserted as rnk=0 markers, then purged by the
        # destination-derived delete below
        dropped = (
            cur_aff.join(topk.select("__row_key"), "__row_key", "left_anti")
            .withColumn("rnk", F.lit(0).cast("int"))
        )
        merge_delta(
            spark,
            self.dest_uri,
            topk.unionByName(dropped),
            on=["__row_key"],
            txn_app_id=self.app_id,
            txn_version=2 * version,
        )
        if (
            DeltaLog(self.dest_uri)
            .snapshot()
            .app_transactions.get(self.app_id, -1)
            < 2 * version + 1
        ):
            delete_delta(
                spark,
                self.dest_uri,
                [Filter("rnk", "=", 0)],
                txn_app_id=self.app_id,
                txn_version=2 * version + 1,
            )
        self.stream.ack(version)
        return version
