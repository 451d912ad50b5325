"""Independent references the benchmark checks the program's outputs
against.  Nothing here imports the package under test: the MIKE input
formulas are re-run in pandas (rf_linux / all_raw / tide / dis), the
forecast store is recomputed last-writer-wins with ``hashlib`` series
ids, and catalog queries are compared with their DuckDB oracles.

Every ``check_*`` returns a list of mismatch descriptions; empty means
the output is correct.
"""

from __future__ import annotations

import csv
import hashlib
import math
import os
import re
from datetime import datetime
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TIME_RE = re.compile(r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d$")
REL_TOL = 1e-9


def _read_lines(path: str) -> list[list[str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


def _num(cell: str) -> float:
    return math.nan if cell == "" else float(cell)


def _same(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)


def _compare_file(path: str, header: list[str] | None, times: list[str],
                  expect: np.ndarray, what: str) -> list[str]:
    """File layout (header, column order, time format, row order) and
    values of one MIKE input file."""
    if not os.path.isfile(path):
        return [f"{what}: missing file {path}"]
    rows = _read_lines(path)
    errs = []
    if header is not None:
        if rows[0] != header:
            return [f"{what}: header {rows[0][:4]}... != {header[:4]}..."]
        rows = rows[1:]
    if len(rows) != len(times):
        return [f"{what}: {len(rows)} rows, expected {len(times)}"]
    for k, (row, t) in enumerate(zip(rows, times)):
        if not TIME_RE.match(row[0]) or row[0] != t:
            errs.append(f"{what}: row {k} time {row[0]!r} != {t!r}")
            break
        if len(row) != expect.shape[1] + 1:
            errs.append(f"{what}: row {k} has {len(row)} fields")
            break
        for j, cell in enumerate(row[1:]):
            if not _same(_num(cell), float(expect[k, j])):
                errs.append(f"{what}: row {k} col {j} {cell!r} != {expect[k, j]!r}")
                break
        if errs:
            break
    return errs


def _grid(start: str, end: str, minutes: int) -> pd.DatetimeIndex:
    return pd.date_range(start, end, freq=f"{minutes}min")


def _fmt_times(idx) -> list[str]:
    return [t.strftime("%Y-%m-%d %H:%M:%S") for t in idx]


class MikeInputsReference:
    """pandas re-execution of the four hourly MIKE input files."""

    def __init__(self, root: str):
        ts = pd.read_parquet(os.path.join(root, "sim_ts.parquet"))
        self.ts = {k: g.set_index("time")["value"].sort_index() for k, g in ts.groupby("id")}
        run = pd.read_parquet(os.path.join(root, "run.parquet"))
        run = run[run.model == "hechms"].copy()
        run["obs_id"] = run.grid_id.str.split("_").str[1]
        self.run = run
        self.coeff = pd.read_csv(os.path.join(root, "coefficients.csv"), dtype={"curw_obs_id": str})
        with open(os.path.join(root, "mike_stations.csv"), newline="") as fh:
            self.stations = list(csv.DictReader(fh))
        active = pd.read_parquet(os.path.join(root, "active_obs.parquet"))
        self.active = list(active.itertuples(index=False))
        self.tide = pd.read_parquet(os.path.join(root, "tide.parquet"))
        self.discharge = pd.read_parquet(os.path.join(root, "discharge.parquet"))
        self.neighbors = self._neighbors(k=2, max_km=100.0)

    def _window(self, series_id: str, t0, t1) -> pd.Series:
        s = self.ts.get(series_id, pd.Series(dtype=float))
        return s[(s.index > t0) & (s.index <= t1)]

    # rf_linux:138-210, pandas-0.25 semantics (all-NaN bucket sums to 0)
    def rainfall(self, start: str, end: str):
        t0, t1 = pd.Timestamp(start), pd.Timestamp(end)
        hybrid = pd.DataFrame(index=_grid(start, end, 5))
        for obs_id in self.coeff.curw_obs_id.unique():
            match = self.run[self.run.obs_id == obs_id]
            if match.empty:
                continue
            s = self._window(match.iloc[0]["id"], t0, t1)
            hybrid[obs_id] = s.reindex(hybrid.index)
        res = hybrid.resample("15min", label="right", closed="right").sum(min_count=0)
        res[res < 0] = np.nan
        m = res.mean(axis=1)
        for c in res.columns:
            res[c] = res[c].fillna(m)
        names = list(dict.fromkeys(self.coeff.name))
        out = np.full((len(res), len(names)), np.nan)
        for j, name in enumerate(names):
            acc = None
            for r in self.coeff[self.coeff.name == name].itertuples():
                if r.curw_obs_id in res.columns:
                    col = res[r.curw_obs_id].to_numpy() * r.coefficient
                    acc = col if acc is None else acc + col
            if acc is not None:
                out[:, j] = acc
        return ["time"] + names, _fmt_times(res.index), out

    def _neighbors(self, k: int, max_km: float) -> dict[str, list[str]]:
        """all_raw:159-202: nearest <=k active stations within max_km,
        ties broken by station id."""
        out = {}
        for s in self.stations:
            p1, l1 = math.radians(float(s["latitude"])), math.radians(float(s["longitude"]))
            cand = []
            for a in self.active:
                if a.station_id == s["station_id"]:
                    continue
                p2, l2 = math.radians(a.latitude), math.radians(a.longitude)
                inner = math.cos(p1) * math.cos(p2) * math.cos(l2 - l1) + math.sin(p1) * math.sin(p2)
                d = 6371.0 * math.acos(min(inner, 1.0))
                if d <= max_km:
                    cand.append((d, a.station_id))
            out[s["station_id"]] = [sid for _, sid in sorted(cand)[:k]]
        return out

    # all_raw:220-294 in exact hundredths (the program sums decimals)
    def all_stations_raw(self, start: str, end: str):
        t0, t1 = pd.Timestamp(start), pd.Timestamp(end)
        q = _grid(start, end, 15)
        n = len(q)
        cleaned = {}
        for s in self.stations:
            ser = self._window(s["hash_id"], t0, t1)
            sums = [0] * n
            for t, v in ser.items():
                b = math.ceil((t - t0) / pd.Timedelta(minutes=15))
                sums[b] += int(round(v * 100))
            cleaned[s["station_id"]] = [x if x >= 0 else None for x in sums]
        filled = {}
        for sid, vals in cleaned.items():
            col = list(vals)
            for nb in self.neighbors[sid]:
                col = [c if c is not None else cleaned[nb][k] for k, c in enumerate(col)]
            filled[sid] = col
        out = np.full((n, len(self.stations)), np.nan)
        for k in range(n):
            present = [filled[sid][k] for sid in filled if filled[sid][k] is not None]
            mean = Fraction(sum(present), len(present)) if present else None
            for j, s in enumerate(self.stations):
                v = filled[s["station_id"]][k]
                v = Fraction(v) if v is not None else mean
                if v is not None:
                    out[k, j] = float(_round_half_even(v / 100, 1))
        return ["time"] + [s["station_name"] for s in self.stations], _fmt_times(q), out

    # tide:88-120
    def tide_file(self, start: str, end: str):
        spine = pd.DataFrame({"time": _grid(start, end, 15)})
        m = spine.merge(self.tide[["time", "value"]], how="left", on="time")
        m.loc[m["value"] == -99999.0, "value"] = np.nan
        if pd.isna(m["value"].iloc[-1]):
            m.loc[m.index[-1], "value"] = 0.0
        m = m.dropna()
        return None, _fmt_times(m.time), m[["value"]].to_numpy()

    # dis:88-115 (the reference's final dropna is a no-op)
    def discharge_file(self, start: str, end: str):
        spine = pd.DataFrame({"time": _grid(start, end, 15)})
        m = spine.merge(self.discharge[["time", "value"]], how="left", on="time")
        m.loc[m["value"] < 0, "value"] = np.nan
        if pd.isna(m["value"].iloc[-1]):
            m.loc[m.index[-1], "value"] = 0.0
        return None, _fmt_times(m.time), m[["value"]].to_numpy()

    def check_tick(self, out_dir: str, start: str, end: str) -> list[str]:
        errs = []
        for fname, fn in (("DailyRain.csv", self.rainfall),
                          ("DailyRainAllStations.csv", self.all_stations_raw),
                          ("Tide.csv", self.tide_file),
                          ("Discharge.csv", self.discharge_file)):
            header, times, expect = fn(start, end)
            errs += _compare_file(os.path.join(out_dir, fname), header, times, expect, fname)
        return errs


def _round_half_even(x: Fraction, places: int) -> Decimal:
    d = Decimal(x.numerator) / Decimal(x.denominator)
    return d.quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_EVEN)


# --- forecast store -------------------------------------------------------

EXTRACT_KINDS = {
    # kind: (variable, unit, variable_id, unit_id), wl_x:225-235 / dis_x
    "WL": ("WaterLevel", "m", 1, 1),
    "Discharge": ("Discharge", "m3/s", 2, 2),
}
SIM_TAG, MODEL, VERSION, UNIT_TYPE, SOURCE_ID = "hourly_run", "MIKE11", "2016", "Instantaneous", 1


def tms_id(kind: str, lat: float, lon: float, station_id: int) -> str:
    """functions/ids.py contract: SHA-256 of the '|'-joined metadata."""
    variable, unit, variable_id, unit_id = EXTRACT_KINDS[kind]
    meta = [SIM_TAG, MODEL, VERSION, variable, unit, UNIT_TYPE, SOURCE_ID,
            variable_id, unit_id, f"{lat:.6f}", f"{lon:.6f}", station_id]
    return hashlib.sha256("|".join(str(m) for m in meta).encode()).hexdigest()


def _round3(cell: str) -> float:
    # Spark's round(): HALF_UP on the shortest decimal form of the double
    return float(Decimal(repr(float(cell))).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))


class WarehouseReference:
    """Last-writer-wins model of fcst_data (PK tms_id, time, fgt) and
    fcst_run (PK tms_id; earliest start_date, newest latest_fgt).

    fcst_data is kept as the ordered list of batches applied and is
    resolved in DuckDB when it is written or checked, so a history of
    millions of rows costs no Python loop per row."""

    def __init__(self, station_dim_dir: str):
        dim = pq.read_table(station_dim_dir).to_pandas()
        self.dim = {r.name: (float(r.latitude), float(r.longitude), int(r.station_id))
                    for r in dim.itertuples()}
        self.applied: list[tuple[str, str, datetime]] = []
        self.run: dict[str, list] = {}
        self._batches: dict[tuple, tuple] = {}

    def batch(self, kind: str, path: str):
        """(absent stations, rows, {tms_id: earliest time}) of one
        matrix; rows is a table of tms_id, time, value in file order."""
        key = (kind, path)
        if key not in self._batches:
            rows = _read_lines(path)
            header, body = rows[0], rows[1:]
            absent = sorted(h for h in header[1:] if h not in self.dim)
            times = [datetime.strptime(r[0], "%Y-%m-%d %H:%M:%S") for r in body]
            tids, vals = [], []
            for j, name in enumerate(header[1:], start=1):
                if name in self.dim:
                    tids += [tms_id(kind, *self.dim[name])] * len(body)
                    vals += [_round3(r[j]) for r in body]
            n_series = len(tids) // max(len(body), 1)
            table = pa.table({
                "tms_id": pa.array(tids),
                "time": pa.array(times * n_series, pa.timestamp("us", tz="UTC")),
                "value": pa.array(vals, pa.float64()),
            })
            starts = dict.fromkeys(tids[::max(len(body), 1)], min(times))
            self._batches[key] = (absent, table, starts)
        return self._batches[key]

    def apply(self, kind: str, path: str, fgt: datetime) -> list[str]:
        absent, _, starts = self.batch(kind, path)
        self.applied.append((kind, path, fgt))
        station_of = {tms_id(kind, *d): d[2] for d in self.dim.values()}
        _, _, variable_id, unit_id = EXTRACT_KINDS[kind]
        for tid, st in starts.items():
            old = self.run.get(tid)
            if old is None:
                self.run[tid] = [SIM_TAG, station_of[tid], SOURCE_ID, variable_id, unit_id, st, fgt]
            else:
                old[5], old[6] = min(old[5], st), max(old[6], fgt)
        return absent

    def data(self, con) -> None:
        """Registers the expected fcst_data as view ``want`` on ``con``."""
        parts = []
        for seq, (kind, path, fgt) in enumerate(self.applied):
            t = self._batches[(kind, path)][1]
            parts.append(t.append_column("fgt", pa.array([fgt] * len(t), pa.timestamp("us", tz="UTC")))
                          .append_column("seq", pa.array([seq] * len(t), pa.int64()))
                          .append_column("pos", pa.array(range(len(t)), pa.int64())))
        con.register("applied", pa.concat_tables(parts))
        con.execute("CREATE VIEW want AS SELECT tms_id, time, fgt, value FROM applied "
                    "QUALIFY row_number() OVER (PARTITION BY tms_id, time, fgt "
                    "ORDER BY seq DESC, pos DESC) = 1")

    def write_history(self, wh: str) -> int:
        """Materialise the model as the warehouse's starting state."""
        con = duckdb.connect()
        try:
            self.data(con)
            data = con.execute("SELECT * FROM want ORDER BY fgt, tms_id, time").arrow()
        finally:
            con.close()
        os.makedirs(os.path.join(wh, "fcst_data"), exist_ok=True)
        pq.write_table(data, os.path.join(wh, "fcst_data", "part-00000.parquet"))
        tids = list(self.run)
        cols = list(zip(*[self.run[t] for t in tids]))
        run = pa.table({
            "tms_id": pa.array(tids),
            "sim_tag": pa.array(cols[0]),
            "station_id": pa.array(cols[1], pa.int32()),
            "source_id": pa.array(cols[2], pa.int32()),
            "variable_id": pa.array(cols[3], pa.int32()),
            "unit_id": pa.array(cols[4], pa.int32()),
            "start_date": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
            "latest_fgt": pa.array(cols[6], pa.timestamp("us", tz="UTC")),
        })
        os.makedirs(os.path.join(wh, "fcst_run"), exist_ok=True)
        pq.write_table(run, os.path.join(wh, "fcst_run", "part-00000.parquet"))
        return data.num_rows

    def check(self, wh: str) -> list[str]:
        errs = []
        con = duckdb.connect()
        try:
            self.data(con)
            # epoch_us reads a zoned timestamp as its instant and a plain
            # one as UTC wall time, whichever way the writer stored it
            con.execute("CREATE VIEW got AS SELECT * FROM read_parquet('"
                        + os.path.join(wh, "fcst_data", "*.parquet") + "')")
            norm = "SELECT tms_id, epoch_us(time) AS t, epoch_us(fgt) AS f, value FROM {}"
            n_got, n_keys = con.execute(
                "SELECT count(*), count(DISTINCT (tms_id, time, fgt)) FROM got").fetchone()
            n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
            if n_got != n_keys:
                errs.append(f"fcst_data: {n_got - n_keys} duplicate keys")
            if n_got != n_want:
                errs.append(f"fcst_data: {n_got} rows, expected {n_want}")
            bad = con.execute(f"{norm.format('want')} EXCEPT ALL {norm.format('got')}").fetchall()
            if bad:
                tid, t, f, v = bad[0]
                errs.append(f"fcst_data: {len(bad)} expected rows missing or wrong, e.g. "
                            f"{tid[:8]} t={t} fgt={f} value {v}")
        finally:
            con.close()
        run = pq.read_table(os.path.join(wh, "fcst_run")).to_pandas()
        run_got = {r.tms_id: [r.sim_tag, r.station_id, r.source_id, r.variable_id, r.unit_id,
                              _naive([r.start_date])[0], _naive([r.latest_fgt])[0]]
                   for r in run.itertuples()}
        if len(run) != len(run_got) or run_got != self.run:
            diff = [t for t in set(run_got) | set(self.run) if run_got.get(t) != self.run.get(t)]
            errs.append(f"fcst_run: {len(diff)} wrong headers of {len(self.run)}, e.g. "
                        f"{run_got.get(diff[0]) if diff else None} != {self.run.get(diff[0]) if diff else None}")
        return errs


def _naive(ts) -> list[datetime]:
    s = pd.Series(ts)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return [t.to_pydatetime() for t in s]


# --- catalog oracles ------------------------------------------------------


def duckdb_oracle(con, sql: str):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()


def canonical(rows, columns) -> list[tuple]:
    """Column-name-sorted, order-insensitive form (the parity gate's)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else (0.0 if v == 0 else round(v, 9))
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def check_query(name: str, spark_cols, spark_rows, oracle_cols, oracle_rows) -> list[str]:
    if sorted(spark_cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(spark_cols)} != {sorted(oracle_cols)}"]
    s, o = canonical(spark_rows, spark_cols), canonical(oracle_rows, oracle_cols)
    if len(s) != len(o):
        return [f"{name}: {len(s)} rows, oracle {len(o)}"]
    bad = [(a, b) for a, b in zip(s, o) if a != b]
    return [f"{name}: {len(bad)} rows differ, e.g. {bad[0]}"] if bad else []
