"""The two workloads, ``mike_cron`` and ``catalog_mix``.  Each op calls the package's public functions the
way ``jobs/*.py`` and ``bench.py`` do; spans wrap every call into a
layer (plans, sources, catalog).

A workload exposes:

* ``__init__(work, seed)``: generates the inputs, before any Spark;
* ``prepare(spark, tracer)``: untimed set-up on the warmed session;
* ``unit()``: the op names of one timed unit (a cron hour, two catalog
  passes); the timed region runs whole units;
* ``run_op(index, name)``: one op, the thing a user waits for;
* ``check(index, name, result)`` and ``final_check()``: correctness,
  always outside the timed region; a failed final check fails every op
  named in ``final_check_ops``.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

import gen
import reference as ref
from curw_mike_data_handler_spark import catalog
from curw_mike_data_handler_spark.jobs.all_stations_raw import read_mike_stations
from curw_mike_data_handler_spark.jobs.rainfall import read_coefficients
from curw_mike_data_handler_spark.plans.all_stations_raw import (
    prepare_all_stations_raw,
    write_all_stations_raw,
)
from curw_mike_data_handler_spark.plans.discharge import (
    prepare_discharge_input,
    write_discharge_input,
)
from curw_mike_data_handler_spark.plans.extract import (
    ExtractConfig,
    attach_series_ids,
    melt_result_matrix,
    upsert_forecast,
)
from curw_mike_data_handler_spark.plans.rainfall import (
    prepare_rainfall_input,
    write_rainfall_input,
)
from curw_mike_data_handler_spark.plans.tide import prepare_tide_input, write_tide_input
from curw_mike_data_handler_spark.schemas import (
    FCST_DATA,
    FCST_RUN,
    MIKE_RAINFALL_STATIONS,
    SB_RF_COEFFICIENTS,
)
from curw_mike_data_handler_spark.sources.csv_io import read_wide_matrix
from curw_mike_data_handler_spark.sources.tables import TABLES
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable


# Store history before the first timed extraction: six hours of 30-minute
# ticks, ~531k fcst_data rows.  Production passes a day (~2.1M rows) and
# keeps growing, but at a day's depth the cold extraction tick doubles and
# a run no longer fits its time.
HISTORY_TICKS = 12
REEXTRACT_LAG = 3  # a re-extraction loads again the fgt loaded 3 ticks before


class MikeCron:
    """The crontab's hour (crontab.txt:5,8): one input tick and two
    extraction ticks.  The second extraction loads an fgt that is
    already in the store, a batch that changes nothing.  Op names are
    ``mike_inputs``, ``mike_extract`` and ``mike_reextract``."""

    name = "mike_cron"
    final_check_ops = ("mike_extract", "mike_reextract")

    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.root = work
        self.wh = os.path.join(work, "warehouse")
        self.info = {**gen.gen_mike_inputs(self.src, seed), **gen.gen_mike_extract(work, seed)}

    def prepare(self, spark, tracer):
        self.spark, self.tr = spark, tracer
        self.inputs_ref = ref.MikeInputsReference(self.src)
        self.store = ref.WarehouseReference(os.path.join(self.wh, "station"))
        for t in range(HISTORY_TICKS):
            for kind in ref.EXTRACT_KINDS:
                self.store.apply(kind, self._matrix(kind, t), gen.fgt_of(t))
        self.info["history_ticks"] = HISTORY_TICKS
        self.info["history_rows"] = self.store.write_history(self.wh)

    def unit(self) -> list[str]:
        return ["mike_inputs", "mike_extract", "mike_reextract"]

    def run_op(self, index: int, name: str):
        hour, pos = divmod(index, 3)
        if name == "mike_inputs":
            return self.input_tick(hour)
        return self.extract_tick(self.source_tick(2 * hour + pos - 1))

    def check(self, index: int, name: str, result) -> list[str]:
        if name == "mike_inputs":
            return self.inputs_ref.check_tick(result, *gen.input_window(index // 3))
        # replays the extraction into the model: ops are checked in order
        tick, absent = result
        errs = []
        for kind in ref.EXTRACT_KINDS:
            want = self.store.apply(kind, self._matrix(kind, tick), gen.fgt_of(tick))
            if absent[kind] != want:
                errs.append(f"{kind} skip report {absent[kind]} != {want}")
        return errs

    def final_check(self) -> list[str]:
        return self.store.check(self.wh)

    # --- the hourly input job ------------------------------------------

    def _src(self, name: str) -> str:
        return os.path.join(self.src, name)

    def input_tick(self, hour: int) -> str:
        """Rainfall, all-stations raw, tide and discharge MIKE files."""
        spark, span = self.spark, self.tr.span
        start, end = gen.input_window(hour)
        out = os.path.join(self.out, f"hour{hour}")
        sim_ts = spark.read.parquet(self._src("sim_ts.parquet"))

        coeff_rows, order = read_coefficients(self._src("coefficients.csv"))
        coefficients = spark.createDataFrame(coeff_rows, SB_RF_COEFFICIENTS)
        with span("plans.build", plan="rainfall"):
            rf = prepare_rainfall_input(spark, sim_ts, spark.read.parquet(self._src("run.parquet")),
                                        coefficients, start, end)
        with span("csv_io.write", plan="rainfall"):
            write_rainfall_input(rf, os.path.join(out, "DailyRain.csv"), order)

        st_rows, st_order = read_mike_stations(self._src("mike_stations.csv"))
        stations = spark.createDataFrame(st_rows, MIKE_RAINFALL_STATIONS)
        with span("plans.build", plan="all_stations_raw"):
            raw = prepare_all_stations_raw(spark, sim_ts, stations,
                                           spark.read.parquet(self._src("active_obs.parquet")),
                                           start, end)
        with span("csv_io.write", plan="all_stations_raw"):
            write_all_stations_raw(raw, os.path.join(out, "DailyRainAllStations.csv"),
                                   stations.select("station_id", "station_name"), st_order)

        with span("plans.build", plan="tide"):
            tide = prepare_tide_input(spark, spark.read.parquet(self._src("tide.parquet")),
                                      start, end)
        with span("csv_io.write", plan="tide"):
            write_tide_input(tide, os.path.join(out, "Tide.csv"))

        with span("plans.build", plan="discharge"):
            dis = prepare_discharge_input(spark, spark.read.parquet(self._src("discharge.parquet")),
                                          start, end)
        with span("csv_io.write", plan="discharge"):
            write_discharge_input(dis, os.path.join(out, "Discharge.csv"))
        return out

    # --- the 30-minute extraction job ----------------------------------

    def _matrix(self, kind: str, tick: int) -> str:
        return gen.matrix_path(self.root, kind, tick % gen.N_MATRIX_VARIANTS)

    @staticmethod
    def source_tick(n: int) -> int:
        """Tick loaded by the n-th extraction of the run: even ones load a
        new fgt, odd ones an fgt already in the store."""
        tick = HISTORY_TICKS + n // 2
        return tick - REEXTRACT_LAG if n % 2 else tick

    def extract_tick(self, tick: int):
        """Both result matrices of ``tick`` into the store."""
        spark, span = self.spark, self.tr.span
        fgt = gen.fgt_of(tick).strftime("%Y-%m-%d %H:%M:%S")
        station_dim = spark.read.parquet(os.path.join(self.wh, "station"))
        data_t = ParquetMergeTable(spark, os.path.join(self.wh, "fcst_data"),
                                   ["tms_id", "time", "fgt"], FCST_DATA)
        run_t = ParquetMergeTable(spark, os.path.join(self.wh, "fcst_run"), ["tms_id"], FCST_RUN)
        absent = {}
        for kind in ref.EXTRACT_KINDS:
            variable, unit, variable_id, unit_id = ref.EXTRACT_KINDS[kind]
            cfg = ExtractConfig(variable=variable, unit=unit, variable_id=variable_id,
                                unit_id=unit_id)
            with span("csv_io.read"):
                wide = read_wide_matrix(spark, self._matrix(kind, tick))
            with span("extract.melt_ids"):
                with_ids, skipped = attach_series_ids(melt_result_matrix(wide), station_dim, cfg)
                absent[kind] = sorted(r["station"] for r in skipped.collect())
            with span("upsert.merge"):
                upsert_forecast(with_ids, fgt, data_t, run_t, cfg)
        return tick, absent

    def batch_rows(self) -> int:
        return sum(self.store.batch(k, self._matrix(k, 0))[1].num_rows for k in ref.EXTRACT_KINDS)

    def table_size(self) -> tuple[int, int]:
        """(rows, bytes) of fcst_data."""
        path = os.path.join(self.wh, "fcst_data")
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                sum(os.path.getsize(f) for f in files))


FAMILIES = {
    "relational": ["q1_pricing_summary", "q3_top_revenue_orders", "q5_regional_revenue",
                   "w2_topk_per_group"],
    "robust": ["mad_anomalies", "a9_quantiles"],
    "iterative": ["dedup_keep_list", "graph_pagerank"],
    "manifest": ["manifest_merge_cow_read"],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
CATALOG_SF = 0.01
PASSES = 2  # the first pass runs each query cold, the second warm


class CatalogMix:
    """One catalog query per op; a unit is PASSES passes over the fixed
    query list.  The op builds the query and collects its result; the
    result is compared with the query's DuckDB oracle afterwards.  The
    op collects where bench.py writes to ``noop``: the check needs the
    rows, and fetching them apart would run every query twice."""

    name = "catalog_mix"
    final_check_ops = ()

    def __init__(self, work: str, seed: int):
        self.sf = os.path.join(work, "sf")
        self.info = {"rows": gen.gen_catalog(self.sf, seed, CATALOG_SF), "sf": CATALOG_SF}

    def prepare(self, spark, tracer):
        self.spark, self.tr = spark, tracer
        self._oracle: dict[str, tuple] = {}

    def unit(self) -> list[str]:
        return list(FAMILY_OF) * PASSES

    def run_op(self, index: int, name: str):
        span = self.tr.span
        family = FAMILY_OF[name]
        with span("plans.build", family=family):
            df = catalog.QUERIES[name](self.spark, self.sf)
        with span("catalog.exec", family=family):
            return df.columns, df.collect()

    def check(self, index: int, name: str, result) -> list[str]:
        if name not in self._oracle:
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
                self._oracle[name] = ref.duckdb_oracle(con, catalog.oracle_sql()[name])
            finally:
                con.close()
        return ref.check_query(name, *result, *self._oracle[name])

    def final_check(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (MikeCron, CatalogMix)}
