"""Torrent assignment as a DataFrame program (SURVEY.md §3.1 step 5;
reference: otrrentetl/server/etl.py:163-260).

Scraped tracker rows (already typed by sources.scrape.tracker_rows) →
F5 date gate (the I4 stop condition on the ctime-DESC feed) → J2
normalized-key equi-join against the 'top' recordings (minute-
truncated stamp + normalized sender) → matched torrents upsert with
the recording's Id as PartitionKey; top recordings with zero matches
are deleted along with their stale torrents (A2/J3).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import TORRENTS_SCHEMA
from otrrentetl_spark.functions import dates, strings
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.pipelines.toprecordings import TOP_PARTITION
from otrrentetl_spark.sources.scrape import take_while


def in_window(tracker: DataFrame, startdate: dt.date) -> DataFrame:
    """F5/I4: maximal prefix of the ctime-DESC feed with
    ``beginn.date() >= startdate`` (etl.py:196,240-242)."""
    return take_while(
        tracker,
        ["start_offset", "row_idx"],
        F.to_date("beginn") >= F.lit(startdate),
    )


def update_torrents(
    spark: SparkSession,
    tracker: DataFrame,
    recordings_store: KeyedParquetTable,
    torrents_store: KeyedParquetTable,
    startdate: dt.date,
) -> tuple[int, int]:
    """Returns (n_torrents_saved, n_top_recordings_deleted).

    J2 both-side key normalization: torrent side carries the parsed
    filename stamp (seconds forced to 00) and token sender; the
    recording side derives the identical minute-truncated stamp and
    lower/space-stripped sender (S6 projected scan of the partition-
    pruned 'top' slice, etl.py:249-251).
    """
    torrents = in_window(tracker, startdate).withColumns(
        {
            "stamp": dates.join_stamp(F.col("beginn")),
            "sender_key": F.col("sender"),
        }
    )
    top = (
        recordings_store.read()
        .filter(F.col("PartitionKey") == TOP_PARTITION)  # partition-pruned
        .select(  # P1 projection, etl.py:249
            F.col("RowKey").alias("top_rowkey"),
            F.col("Id").alias("top_id"),
            dates.join_stamp(F.col("beginn")).alias("stamp"),
            strings.normalize_key(F.col("sender")).alias("sender_key"),
        )
    )
    matched = torrents.join(
        F.broadcast(top), ["stamp", "sender_key"], "inner"
    )  # J2: 'top' is a small dimension-sized slice → broadcast
    new_torrents = matched.select(
        F.col("top_id").cast("string").alias("PartitionKey"),
        F.col("Resolution").alias("RowKey"),
        F.col("top_id").alias("Id"),
        "Resolution",
        "TorrentFile",
        "TorrentLink",
        "finished",
        "loading",
        "loaded",
    ).select(*TORRENTS_SCHEMA.fieldNames())
    n_saved = torrents_store.upsert_replace_partitions(new_torrents)

    # A2/J3: top recordings with zero matching torrents → delete the
    # recording and any stale stored torrents for it (etl.py:254-259).
    # Collected (a subset of the broadcast 'top' slice): the deletes
    # below rewrite the recordings store, from which a lazy plan would
    # re-derive an empty set.
    dead = top.join(
        matched.select("top_rowkey"), "top_rowkey", "left_anti"
    ).select("top_rowkey", "top_id").collect()
    if dead:
        recordings_store.delete_by_keys(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "PartitionKey": TOP_PARTITION,
                        "RowKey": [r["top_rowkey"] for r in dead],
                    }
                ),
                "PartitionKey string, RowKey string",
            )
        )
        # the torrents table is partitioned by recording Id, so "every
        # stored torrent of a dead recording" is exactly its partition
        torrents_store.drop_partitions(
            {str(r["top_id"]) for r in dead if r["top_id"] is not None}
        )
    return n_saved, len(dead)
