"""Golden end-to-end tests for the reference-shaped pipelines
(SURVEY §5 strategy 2): each pipeline runs on synthetic fixtures and is
value-compared against an independent pandas re-execution of the
reference's formulas (pandas-0.25 semantics reproduced explicitly).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.plans.discharge import prepare_discharge_input
from curw_mike_data_handler_spark.plans.rainfall import prepare_rainfall_input
from curw_mike_data_handler_spark.plans.tide import prepare_tide_input, write_tide_input
from curw_mike_data_handler_spark.schemas import (
    SB_RF_COEFFICIENTS,
    SIM_RUN,
    SIM_TIMESERIES,
)
from tests import fixtures as fx

START = "2020-05-22 00:00:00"
END = "2020-05-23 00:00:00"


def _ts_df(spark, **kw):
    return spark.createDataFrame(fx.gen_sim_timeseries(**kw), SIM_TIMESERIES)


def test_tide_pipeline_matches_pandas(spark, tmp_path):
    rows = fx.gen_sim_timeseries(n_series=1, step_min=15, gap_rate=0.15,
                                 neg_rate=0.0, sentinel_rate=0.1)
    series = spark.createDataFrame(rows, SIM_TIMESERIES)
    got = prepare_tide_input(spark, series, START, END).toPandas()

    # independent pandas re-execution (tide:88-120)
    spine = pd.DataFrame({"time": pd.date_range(START, END, freq="15min")})
    pdf = pd.DataFrame(rows, columns=["id", "time", "value"])
    merged = spine.merge(pdf[["time", "value"]], how="left", on="time")
    merged.loc[merged["value"] == -99999.0, "value"] = None
    if pd.isna(merged["value"].iloc[-1]):
        merged.loc[merged.index[-1], "value"] = 0.0
    expect = merged.dropna().reset_index(drop=True)

    assert len(got) == len(expect)
    pd.testing.assert_frame_equal(
        got.sort_values("time").reset_index(drop=True),
        expect.sort_values("time").reset_index(drop=True),
        check_dtype=False,
    )

    # file contract: headerless (time,value), ordered (tide:187)
    out = str(tmp_path / "tide.csv")
    write_tide_input(prepare_tide_input(spark, series, START, END), out)
    lines = open(out).read().strip().split("\n")
    assert len(lines) == len(expect)
    assert lines[0].startswith("2020-05-22 00:")
    assert "," in lines[0] and not lines[0].startswith("time")


def test_discharge_last_row_negative_patch(spark):
    rows = [
        ("a" * 64, pd.Timestamp("2020-05-22 00:15:00").to_pydatetime(), 5.0),
        ("a" * 64, pd.Timestamp("2020-05-22 00:30:00").to_pydatetime(), -2.0),
    ]
    series = spark.createDataFrame(rows, SIM_TIMESERIES)
    got = prepare_discharge_input(
        spark, series, "2020-05-22 00:15:00", "2020-05-22 00:30:00"
    ).toPandas()
    # last row was negative → cleaned to NULL → patched to 0 (dis:105-106)
    assert got.iloc[-1]["value"] == 0.0
    assert got.iloc[0]["value"] == 5.0
    # reference dropna is a no-op (dis:108): NULL mid-series rows remain
    rows2 = rows + [("a" * 64, pd.Timestamp("2020-05-22 00:45:00").to_pydatetime(), 1.0)]
    series2 = spark.createDataFrame(rows2, SIM_TIMESERIES)
    got2 = prepare_discharge_input(
        spark, series2, "2020-05-22 00:15:00", "2020-05-22 01:00:00"
    ).toPandas()
    assert len(got2) == 4  # spine rows preserved, NULLs not dropped
    assert pd.isna(got2.iloc[1]["value"])  # 00:30 negative → NULL, not last → kept NULL


def _pandas_rainfall_reference(ts_rows, run_rows, coeff_rows, start, end):
    """Faithful re-execution of prepare_mike_rf_input (rf_linux:138-210)
    with pandas-0.25 semantics (all-NaN 15-min bucket sums to 0.0)."""
    coeff = pd.DataFrame(coeff_rows, columns=["name", "curw_obs_id", "coefficient"])
    run = pd.DataFrame(run_rows, columns=["id", "model", "grid_id", "obs_end"])
    run = run[(run.model == "hechms") & (run.obs_end >= pd.Timestamp(start))]
    run["obs_id"] = run.grid_id.str.split("_").str[1]
    ts = pd.DataFrame(ts_rows, columns=["id", "time", "value"])

    spine = pd.DataFrame({"time": pd.date_range(start, end, freq="5min")})
    hybrid = spine.copy()
    for obs_id in coeff.curw_obs_id.unique():
        match = run[run.obs_id == obs_id]
        if match.empty:
            continue
        sid = match.iloc[0]["id"]
        s = ts[(ts.id == sid) & (ts.time > pd.Timestamp(start)) & (ts.time <= pd.Timestamp(end))]
        hybrid = hybrid.merge(
            s[["time", "value"]].rename(columns={"value": obs_id}), how="left", on="time"
        )
    hybrid = hybrid.set_index("time")
    # right-closed resample; pandas>=1 gives NaN for all-NaN buckets,
    # pandas 0.25 gave 0.0 → emulate with min_count default (sum() of
    # all-NaN = 0.0 when min_count=0)
    res = hybrid.resample("15min", label="right", closed="right").sum(min_count=0)
    res[res < 0] = None
    m = res.mean(axis=1)
    for c in res.columns:
        res[c] = res[c].fillna(m)
    out = {}
    for name in coeff.name.unique():
        sub = coeff[coeff.name == name]
        acc = None
        for _, r in sub.iterrows():
            if r.curw_obs_id not in res.columns:
                continue
            col = res[r.curw_obs_id] * r.coefficient
            acc = col if acc is None else acc + col
        out[name] = acc
    return pd.DataFrame(out)


def test_rainfall_pipeline_matches_pandas(spark):
    ts_rows = fx.gen_sim_timeseries(n_series=6)
    run_rows = fx.gen_run(6)
    coeff_rows = fx.gen_coefficients(6)

    sim_ts = spark.createDataFrame(ts_rows, SIM_TIMESERIES)
    run = spark.createDataFrame(run_rows, SIM_RUN)
    coeff = spark.createDataFrame(coeff_rows, SB_RF_COEFFICIENTS)

    got = prepare_rainfall_input(
        spark, sim_ts, run, coeff, START, END, obs_end_min=START
    ).toPandas()
    wide = got.pivot(index="time", columns="name", values="value").sort_index()

    expect = _pandas_rainfall_reference(ts_rows, run_rows, coeff_rows, START, END)
    # drop the spine's first tick? reference's resample of the spine
    # starting at 00:00 right-closed produces a bucket labeled 00:00
    # (containing only the 00:00 row); ours does too via the -1µs shift
    assert list(wide.columns) == sorted(expect.columns)
    common = expect.index.intersection(wide.index)
    assert len(common) == len(expect)
    for c in expect.columns:
        pd.testing.assert_series_equal(
            wide[c].loc[common], expect[c].loc[common],
            check_names=False, check_freq=False, rtol=1e-9, atol=1e-9,
        )


@pytest.mark.parametrize("partitions", [1, 4, 8])
def test_rainfall_bucket_summing_to_zero_is_kept(spark, partitions):
    """A 15-min bucket whose 5-min values cancel exactly sums to 0 and is
    kept, at any shuffle partitioning.  As doubles, 0.41 + 0.61 - 1.02
    can come out as -5.6e-17 and 1.02 + 1.7 - 2.72 is negative in every
    order; the cleaning then nulls the bucket and the row mean fills it."""
    a, b = fx.series_hash(0), fx.series_hash(1)
    t0 = pd.Timestamp(START).to_pydatetime()
    cancel = [0.41, 0.61, -1.02, 1.02, 1.7, -2.72]
    ts_rows = [(a, t0 + pd.Timedelta(minutes=5 * (i + 1)), v) for i, v in enumerate(cancel)]
    ts_rows += [(b, t0 + pd.Timedelta(minutes=5 * (i + 1)), 1.0) for i in range(len(cancel))]
    run_rows = [(a, "hechms", "rainfall_100000_a", pd.Timestamp(END).to_pydatetime()),
                (b, "hechms", "rainfall_100001_b", pd.Timestamp(END).to_pydatetime())]
    coeff_rows = [("C_00", "100000", 1.0), ("C_01", "100000", 0.5), ("C_01", "100001", 0.5)]
    end = "2020-05-22 00:30:00"

    previous = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        got = prepare_rainfall_input(
            spark, spark.createDataFrame(ts_rows, SIM_TIMESERIES),
            spark.createDataFrame(run_rows, SIM_RUN),
            spark.createDataFrame(coeff_rows, SB_RF_COEFFICIENTS), START, end,
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", previous)
    wide = got.pivot(index="time", columns="name", values="value").sort_index()
    expect = _pandas_rainfall_reference(ts_rows, run_rows, coeff_rows, START, end)
    assert expect["C_00"].tolist() == [0.0, 0.0, 0.0]
    for c in expect.columns:
        pd.testing.assert_series_equal(
            wide[c], expect[c], check_names=False, check_freq=False, check_index_type=False,
            rtol=1e-9, atol=1e-9,
        )


def test_rainfall_staleness_filter_excludes_stale_series(spark):
    ts_rows = fx.gen_sim_timeseries(n_series=2, gap_rate=0.0, neg_rate=0.0)
    run_rows = fx.gen_run(2)  # series 1 is stale
    coeff_rows = [("C_00", "100000", 0.5), ("C_00", "100001", 0.5)]
    sim_ts = spark.createDataFrame(ts_rows, SIM_TIMESERIES)
    run = spark.createDataFrame(run_rows, SIM_RUN)
    coeff = spark.createDataFrame(coeff_rows, SB_RF_COEFFICIENTS)
    got = prepare_rainfall_input(
        spark, sim_ts, run, coeff, START, END, obs_end_min=START
    )
    # only station 100000 contributes; catchment value = 0.5 × its series
    # (station 100001 never joins, so no rows for it pre-aggregation)
    assert got.filter(F.col("value").isNotNull()).count() > 0
    expect = _pandas_rainfall_reference(ts_rows, run_rows, coeff_rows, START, END)
    wide = got.toPandas().pivot(index="time", columns="name", values="value").sort_index()
    pd.testing.assert_series_equal(
        wide["C_00"], expect["C_00"], check_names=False, check_freq=False, rtol=1e-9, atol=1e-9
    )


import os as _os
import pytest as _pytest


@_pytest.mark.skipif(
    not _os.path.exists("/root/reference/resources/resmike11_WL.csv"),
    reason="reference golden artifact not present",
)
def test_extract_melt_on_reference_golden_matrix(spark):
    """End-to-end melt of the reference's REAL MIKE result file
    (481 time rows × 48 stations): row count, 3-dp rounding, and a
    spot value match the source matrix (SURVEY §5 golden artifacts)."""
    from curw_mike_data_handler_spark.plans.extract import melt_result_matrix
    from curw_mike_data_handler_spark.sources.csv_io import read_wide_matrix

    path = "/root/reference/resources/resmike11_WL.csv"
    import csv

    with open(path) as f:
        rows = list(csv.reader(f))
    header, data = rows[0], rows[1:]
    n_stations, n_times = len(header) - 1, len(data)

    wide = read_wide_matrix(spark, path, time_col="Time Stamp")
    long_df = melt_result_matrix(wide, time_col="Time Stamp")
    assert long_df.count() == n_stations * n_times

    got = {
        (r["station"], str(r["time"])): r["value"]
        for r in long_df.filter(
            "time = timestamp'2020-05-22 00:00:00'"
        ).collect()
    }
    # spot checks against the raw file's first data row
    assert got[(header[1], "2020-05-22 00:00:00")] == round(float(data[0][1]), 3)
    assert got[(header[-1], "2020-05-22 00:00:00")] == round(float(data[0][-1]), 3)
    # 3-dp rounding applied everywhere (wl_x:249)
    assert long_df.filter("value != round(value, 3)").count() == 0
