"""Microblock squash on key-block arrival (T2) as a pure DataFrame
recomputation — the append-only translation of the reference's in-place
UPDATE/DELETE transaction.

Reference behavior (mod.rs:769-792): when a key block arrives, all pending
microblocks fold into the previous key block — their rows' block_uid
re-points to the key block uid (pg.rs:216-223, 315-322, 383-390), microblock
rows are deleted (pg.rs:160-166), and the key block takes the last
total-block id (pg.rs:151-158).

This single-step form backs the catalog's ``squash_*`` queries.  The
streaming pipeline normalizes its whole speculative tail instead
(streaming/pipeline.py::normalize_squash), and rollback with the SCD reopen
repair lives there too (pipeline.rollback_to_uid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def squash_microblocks(
    blocks: DataFrame,
    tx_tables: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame] | None]:
    """T2: fold the current microblock tail into its key block.

    ``blocks``: blocks_microblocks frame (uid, id, height, time_stamp);
    microblocks have NULL time_stamp.  ``tx_tables``: any frames carrying a
    ``block_uid`` column to re-point.

    Returns (new_blocks, new_tx_tables).
    """
    key_uid_row = (
        blocks.filter(F.col("time_stamp").isNotNull())
        .agg(F.max("uid").alias("uid"))
        .collect()[0]
    )
    key_uid = key_uid_row["uid"]
    if key_uid is None:
        return blocks, tx_tables

    tail = blocks.filter(F.col("uid") > key_uid)
    total_id_row = tail.orderBy(F.col("uid").desc()).limit(1).collect()
    if not total_id_row:
        return blocks, tx_tables  # no microblocks pending
    total_id = total_id_row[0]["id"]

    # key block takes the last total-block id (pg.rs:151-158); tail deleted
    new_blocks = blocks.filter(F.col("uid") <= key_uid).withColumn(
        "id",
        F.when(F.col("uid") == key_uid, F.lit(total_id)).otherwise(F.col("id")),
    )
    new_tables = None
    if tx_tables is not None:
        new_tables = {
            name: df.withColumn(
                "block_uid",
                F.when(F.col("block_uid") > key_uid, F.lit(key_uid)).otherwise(
                    F.col("block_uid")
                ),
            )
            for name, df in tx_tables.items()
        }
    return new_blocks, new_tables

