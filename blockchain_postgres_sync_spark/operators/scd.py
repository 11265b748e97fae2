"""SCD Type-2 maintenance as pure window recomputation.

The reference maintains (uid, superseded_by) validity chains imperatively:
close the current row and insert the new one inside a transaction
(src/lib/consumer/mod.rs:583-677 for asset_updates, 679-767 for
asset_tickers; UNNEST bulk-UPDATE in repo/pg.rs:225-256).  An open (current)
row has ``superseded_by = 9223372036854775806`` (pg.rs:31).

Spark-first translation (SURVEY.md W1/A8/J6): ``superseded_by`` is a pure
function of the set of update rows — within each asset_id ordered by uid,
each row's superseded_by is the next row's uid, the last row gets MAX_UID.
One window shuffle per recompute; rollback "reopen" repair (mod.rs:824-858)
falls out for free because we recompute from the surviving rows.

Scale: partitionBy(key) windows shuffle once on the key; per-key row counts
are tiny (1-4 updates per asset), so no skew concern. At 100 TB the update
log is partitioned by key-hash bucket so the window shuffle is co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import MAX_UID


def chain_superseded_by(
    updates: DataFrame, key: str = "asset_id", uid: str = "uid"
) -> DataFrame:
    """W1: (re)derive the superseded_by chain from the raw update log.

    Replaces the reference's reverse in-memory scan (mod.rs:623-647) and its
    close/reopen UPDATEs with one ``lead`` window.
    """
    w = Window.partitionBy(key).orderBy(F.col(uid).asc())
    return updates.withColumn(
        "superseded_by",
        F.coalesce(F.lead(uid).over(w), F.lit(MAX_UID)).cast("long"),
    )


def current_snapshot(
    df: DataFrame, key: str = "asset_id", uid: str = "uid"
) -> DataFrame:
    """A8 (DISTINCT ON): latest row per key by uid — the "current" dimension
    state (tickers view, up.sql:432-435; superseded_by = MAX_UID filter in
    the assets view, up.sql:451-469).

    Implemented as max_by of the packed row struct keyed on uid, rather than
    a row_number window: a declarative aggregate gets a partial (map-side)
    combine — each map task keeps one candidate row per key before the
    shuffle — and the reducer needs no sort, so the exchange moves at most
    one row per (key, map task) instead of the whole table.  uid is unique
    per key (the log's primary order), so max_by is deterministic.
    """
    others = [c for c in df.columns if c != key]
    packed = df.groupBy(key).agg(
        F.max_by(F.struct(*others), F.col(uid)).alias("_row")
    )
    return packed.select(key, *[F.col(f"_row.{c}").alias(c) for c in others])


def table_diff(
    before: DataFrame,
    after: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff — the backfill-validation / CDC primitive: classify
    every key as ``added`` (only in ``after``), ``removed`` (only in
    ``before``), or ``changed`` (in both, payload differs); unchanged keys
    are absent.  The batch analog of the reference's keyed upsert deltas
    (what a consumer restart re-derives, mod.rs:168-186) and the check a
    migration runs after rewriting a table.

    Payloads compare by ``xxhash64`` over the compare columns in a FIXED
    order (the sorted column list, or ``compare_cols`` as given) with an
    OUT-OF-BAND null flag per column (a one-char present/null marker
    hashed alongside the value — never an in-band sentinel string, which a
    real value could collide with), so the comparison is type-agnostic and
    the diff never widens the shuffle with full payloads twice: each side
    reduces to (key, hash) before the join.

    Plan shape (100 TB): two map-only projections to (key, hash), one
    full-outer hash join on the key — the minimal-width diff.  Output
    (key, status) joins back to ``after``/``before`` by the caller if the
    payload is wanted; keeping that join OUT of the operator means the
    expensive wide tables are only re-read for the (usually tiny) changed
    set.
    """

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        cols = compare_cols or sorted(c for c in df.columns if c != key)
        parts = []
        for c in cols:
            # explicit null flag: NULL -> "n\x1f", value v -> "v" + v + "\x1f"
            # — no string value can impersonate NULL (an in-band sentinel
            # like "\x00null" could)
            parts.append(F.when(F.col(c).isNull(), F.lit("n")).otherwise(F.lit("v")))
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
            parts.append(F.lit("\x1f"))  # unit separator: no concat ambiguity
        return df.select(
            F.col(key), F.xxhash64(F.concat(*parts)).alias(alias)
        )

    b = hashed(before, "_hb")
    a = hashed(after, "_ha")
    joined = b.join(a, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("_hb").isNull(), F.lit("added"))
        .when(F.col("_ha").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    ).filter(
        F.col("_hb").isNull()
        | F.col("_ha").isNull()
        | (F.col("_hb") != F.col("_ha"))
    )
