"""EPG daily ingest as a DataFrame program (SURVEY.md §3.1 step 3;
reference: otrrentetl/server/etl.py:57-110).

Per date: I2 idempotency gate by partition (before the day's CSV is
fetched) → S2 CSV scan → F4 language filter → C1 typed coercion with
default-on-failure → P2 key derivation → J1 genre enrichment →
projection to the declared schema → K2 upsert.
The reference writes one REST call per row; here the day is a single
dynamic-partition-overwrite write.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import RECORDINGS_SCHEMA
from otrrentetl_spark.functions import casts
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.pipelines.genres import enrich_with_genre

# Source CSV fields that carry through as plain strings.
_STRING_COLS = [
    "sender",
    "titel",
    "typ",
    "text",
    "fsk",
    "language",
    "weekday",
    "zusatz",
    "wdh",
    "downloadlink",
    "infolink",
    "programlink",
]


def typed_epg(raw: DataFrame, partition_key: str) -> DataFrame:
    """Coerce the all-string CSV rows into the recordings schema with
    the reference's default-on-failure semantics (C1): bad longs → 0,
    bad timestamps → 1900-01-01, missing strings → ''."""
    cols = [
        F.lit(partition_key).alias("PartitionKey"),
        casts.safe_string(F.col("Id")).alias("RowKey"),
        casts.safe_long(F.col("Id")).alias("Id"),
        casts.safe_timestamp(F.col("beginn"), casts.FMT_TS_EPG).alias("beginn"),
        casts.safe_timestamp(F.col("ende"), casts.FMT_TS_EPG).alias("ende"),
        casts.safe_long(F.col("dauer")).alias("dauer"),
        casts.safe_long(F.col("genre_id")).alias("genre_id"),
    ]
    cols += [casts.safe_string(F.col(c)).alias(c) for c in _STRING_COLS]
    return raw.filter(F.col("language") == "de").select(*cols)


def day_partition(day: dt.date) -> str:
    """The recordings partition that holds ``day``'s EPG rows."""
    return day.strftime("%Y_%m_%d")


def ingest_epg_day(
    spark: SparkSession,
    day: dt.date,
    raw: DataFrame,
    genres: DataFrame,
    store: KeyedParquetTable,
) -> int:
    """One day's ingest; returns the number of rows upserted."""
    pk = day_partition(day)
    typed = typed_epg(raw, pk)
    enriched = enrich_with_genre(typed, genres)
    # rating/previewimagelink arrive later via the toplist promotion;
    # they default to '' at ingest (tablemodels.py:58-59).
    full = enriched.withColumns(
        {"rating": F.lit(""), "previewimagelink": F.lit("")}
    ).select(*RECORDINGS_SCHEMA.fieldNames())
    return store.upsert_replace_partitions(full)


def backfill(
    spark: SparkSession,
    days: list[dt.date],
    raw_for_day,
    genres: DataFrame,
    store: KeyedParquetTable,
) -> list[dt.date]:
    """D4/I3: run the ingest over a date window (the reference's
    10-day sliding backfill, runetl.py:49-59); ``raw_for_day(day)``
    supplies that day's CSV DataFrame (or None when the source has no
    file — the reference tolerates missing days). A day whose
    partition is already stored is skipped by the I2 gate BEFORE its
    CSV is fetched, as the reference gates (etl.py:71) before it
    downloads (etl.py:75-78). Returns the dates actually ingested."""
    written = []
    for day in days:
        if not store.partition_is_empty(day_partition(day)):
            continue
        raw = raw_for_day(day)
        if raw is not None:
            ingest_epg_day(spark, day, raw, genres, store)
            written.append(day)
    return written
