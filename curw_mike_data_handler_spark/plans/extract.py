"""Output extraction pipeline (reference: outputs/extract_water_level.py
and its twin extract_discharge.py — factored ONCE here, SURVEY §7 note
on duplicated helper code).

Wide MIKE result matrix → melt long → 3-dp round → station-dimension
semi join (+ anti-join skip report, wl_x:77/104) → deterministic
sha2 series IDs (wl_x:88-92) → fgt-versioned upsert into the fact
table + run-header maintenance (wl_x:93-97).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.functions.ids import timeseries_id
from curw_mike_data_handler_spark.operators.spine import melt_long
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable


@dataclass
class ExtractConfig:
    """CLI/config surface of wl_x:155-210."""

    sim_tag: str = "hourly_run"
    model: str = "MIKE11"
    version: str = "2016"
    variable: str = "WaterLevel"
    unit: str = "m"
    unit_type: str = "Instantaneous"
    source_id: int = 1
    variable_id: int = 1
    unit_id: int = 1


def melt_result_matrix(wide: DataFrame, time_col: str = "Time Stamp") -> DataFrame:
    """time×station matrix → long (station, time, value), 3 dp
    (wl_x:247-249); values kept verbatim otherwise — the output path
    does NOT clean negatives (FIXTURES.md §7)."""
    value_cols = [c for c in wide.columns if c != time_col]
    long_df = melt_long(wide, time_col, value_cols, series_col="station", value_col="value")
    return long_df.select(
        F.col("station"),
        F.col(time_col).alias("time"),
        F.round("value", 3).alias("value"),
    )


def attach_series_ids(
    long_df: DataFrame, station_dim: DataFrame, cfg: ExtractConfig
) -> tuple[DataFrame, DataFrame]:
    """Semi join against the station dimension; returns (matched rows
    with tms_id, skipped station names) — wl_x:77-82 + the wl_x:104
    skip report as an anti join."""
    dim = station_dim.select(
        F.col("name").alias("station"), "station_id", "latitude", "longitude"
    )
    matched = long_df.join(F.broadcast(dim), "station", "inner")
    skipped = (
        long_df.select("station").distinct()
        .join(F.broadcast(dim), "station", "left_anti")
    )
    with_ids = matched.withColumn(
        "tms_id",
        timeseries_id(
            F.lit(cfg.sim_tag),
            F.lit(cfg.model),
            F.lit(cfg.version),
            F.lit(cfg.variable),
            F.lit(cfg.unit),
            F.lit(cfg.unit_type),
            F.lit(cfg.source_id),
            F.lit(cfg.variable_id),
            F.lit(cfg.unit_id),
            F.format_number(F.col("latitude"), 6),   # "%.6f" — init:41-42
            F.format_number(F.col("longitude"), 6),
            F.col("station_id"),
        ),
    )
    return with_ids, skipped


def upsert_forecast(
    with_ids: DataFrame,
    fgt: str,
    data_table: ParquetMergeTable,
    run_table: ParquetMergeTable,
    cfg: ExtractConfig,
) -> None:
    """Fact upsert on PK (tms_id, time, fgt) + run-header maintenance
    (wl_x:93-97).  Both writes are idempotent: re-extracting the same
    fgt is a fixpoint."""
    with_ids = with_ids.persist()  # read by both writes; released below
    try:
        fact = with_ids.select(
            "tms_id",
            "time",
            F.lit(fgt).cast("timestamp").alias("fgt"),
            "value",
        )
        data_table.merge(fact)
        run_table.overwrite(_run_header(with_ids, fgt, run_table, cfg))
    finally:
        with_ids.unpersist()


def _run_header(with_ids: DataFrame, fgt: str, run_table: ParquetMergeTable,
                cfg: ExtractConfig) -> DataFrame:
    """The whole run header after this batch.  It holds one row per
    series, so it is rebuilt whole: one full outer join of the stored
    and the new headers keeps the earliest ``start_date`` and the newest
    ``latest_fgt``; the new header wins every other column."""
    new = (
        with_ids.groupBy("tms_id", "station_id")
        .agg(F.min("time").alias("start_date"))
        .select(
            "tms_id",
            F.lit(cfg.sim_tag).alias("sim_tag"),
            "station_id",
            F.lit(cfg.source_id).alias("source_id"),
            F.lit(cfg.variable_id).alias("variable_id"),
            F.lit(cfg.unit_id).alias("unit_id"),
            "start_date",
            F.lit(fgt).cast("timestamp").alias("latest_fgt"),
        )
        .alias("new")
    )
    old = run_table.read().alias("old")
    kept = {"start_date": F.least, "latest_fgt": F.greatest}
    return old.join(new, "tms_id", "full_outer").select(
        "tms_id",
        *[
            kept.get(c, F.coalesce)(F.col(f"new.{c}"), F.col(f"old.{c}")).alias(c)
            for c in run_table.schema.fieldNames() if c != "tms_id"
        ],
    )
