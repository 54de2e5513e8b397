"""Change-data-capture merge: SCD Type-2 apply as a batch operator.

The warehouse-side upsert a 100 TB pipeline runs on every dimension
refresh: given the CURRENT dimension state (one open row per key) and
an UPDATES batch, emit the new state where

  - keys absent from the batch keep their open row untouched,
  - changed keys get their open row CLOSED (valid_to = batch_time)
    plus a NEW open row carrying the new attributes,
  - unchanged keys (attributes equal) are left alone (no churn),
  - brand-new keys get their first open row.

Shape: ONE equi-join of current × updates on the key plus unions —
no window, no shuffle beyond the join key; with both sides bucketed
by key (operators.scale.write_bucketed) the join is shuffle-free.
Delta/Iceberg implement this as MERGE INTO; this is the same logic as
a deterministic DataFrame program with a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _scd2_row(cols: list, key: str, attrs: list[str]) -> F.Column:
    """One SCD2 output row as a struct. Positional layout:
    [key, *attrs, valid_from, valid_to] — zip would truncate silently
    on a wrong-length list, so the length is checked (a raise, not an
    assert: ``python -O`` strips asserts)."""
    if len(cols) != len(attrs) + 3:
        raise ValueError(
            f"_scd2_row expects {len(attrs) + 3} columns "
            f"(key, {len(attrs)} attrs, valid_from, valid_to), got {len(cols)}"
        )
    return F.struct(
        cols[0].alias(key),
        *[c.alias(a) for c, a in zip(cols[1:-2], attrs)],
        cols[-2].alias("valid_from"),
        cols[-1].alias("valid_to"),
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    batch_time: int,
) -> DataFrame:
    """Returns the post-merge SCD2 table.

    ``current`` must carry (key, *attrs, valid_from, valid_to) with
    exactly one open row (valid_to IS NULL) per key; ``updates``
    carries (key, *attrs).  ``batch_time`` is the integer effective
    time of the batch.

    A CDC batch may legitimately carry several rows per key (several
    source commits between syncs); applying them all would emit
    multiple open rows and break the one-open-row invariant the next
    apply depends on, so updates are deduplicated to the LAST row per
    key first (last-writer-wins, the MERGE-style resolution; "last" =
    highest attr tuple when the batch carries no ordering column —
    deterministic under shuffle, unlike first-seen).
    """
    # a NULL business key cannot equi-join and would both (a) vanish
    # from opened_now and (b) smuggle an all-NULL cur-side row through
    # keep_open's "no update for this key" test (upd.key IS NULL is
    # true for the unmatched full-outer row) — drop such rows by
    # contract, and mark update presence with a non-null sentinel so
    # the branch conditions never key off a nullable business column
    updates = updates.where(F.col(key).isNotNull())
    updates = updates.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy(key).orderBy(*[F.col(a).desc_nulls_last() for a in attrs])
        ),
    ).where(F.col("_rn") == 1).drop("_rn").withColumn("_upd", F.lit(True))
    cur_open = current.where(F.col("valid_to").isNull()).withColumn(
        "_cur", F.lit(True)
    )
    cur_closed = current.where(F.col("valid_to").isNotNull())

    changed_cond = F.lit(False)
    for a in attrs:
        changed_cond = changed_cond | ~(
            F.col(f"cur.{a}").eqNullSafe(F.col(f"upd.{a}"))
        )

    j = cur_open.alias("cur").join(
        updates.alias("upd"), F.col(f"cur.{key}") == F.col(f"upd.{key}"), "full_outer"
    )
    has_upd = F.col("upd._upd").isNotNull()
    has_cur = F.col("cur._cur").isNotNull()
    # One pass over the join (r12 optimization round, guide §2.4): the
    # former three-branch UNION (keep_open / closed_now / opened_now)
    # consumed `j` three times, so the dimension join (and the updates
    # window dedup under it) EXECUTED three times per apply. Each
    # branch's projection now becomes a CASE-guarded struct in a 3-slot
    # array; explode + null-filter emits exactly the same row multiset
    # (a changed key still yields its closed AND opened rows — slots 2
    # and 3 of its single join row). Branch predicates and per-branch
    # column expressions are verbatim, so every surviving value is
    # bit-identical to the union form.
    # open rows with no update, or update equal to current → unchanged
    keep_open_row = F.when(
        ~has_upd | (has_cur & ~changed_cond),
        _scd2_row(
            [F.col(f"cur.{key}")]
            + [F.col(f"cur.{a}") for a in attrs]
            + [F.col("cur.valid_from"), F.col("cur.valid_to")],
            key,
            attrs,
        ),
    )
    # changed keys: close the old row
    closed_now_row = F.when(
        has_cur & has_upd & changed_cond,
        _scd2_row(
            [F.col(f"cur.{key}")]
            + [F.col(f"cur.{a}") for a in attrs]
            + [F.col("cur.valid_from"), F.lit(batch_time).cast("long")],
            key,
            attrs,
        ),
    )
    # changed + brand-new keys: open a fresh row
    opened_now_row = F.when(
        has_upd & (~has_cur | changed_cond),
        _scd2_row(
            [F.col(f"upd.{key}")]
            + [F.col(f"upd.{a}") for a in attrs]
            + [F.lit(batch_time).cast("long"), F.lit(None).cast("long")],
            key,
            attrs,
        ),
    )
    merged = (
        j.select(
            F.explode(
                F.array(keep_open_row, closed_now_row, opened_now_row)
            ).alias("_r")
        )
        .where(F.col("_r").isNotNull())
        .select("_r.*")
    )
    return cur_closed.unionByName(merged)
