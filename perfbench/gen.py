"""Seeded input generation.  The program under test sees only the files
written here; the same seed always writes the same bytes of data.

Three input sets:

* ``mike_inputs``: the hourly input job's sources at production size -
  46 rainfall stations on a 5-minute grid, ~60 catchments of weights,
  one tide and one discharge series.
* ``mike_extract``: MIKE wide result matrices (481 rows x 48 station
  columns, 2 of them absent from the station dimension) for water
  level and discharge, plus a pre-seeded warehouse history.
* ``catalog``: the ten TPC-H-style tables the catalog queries read.
"""

from __future__ import annotations

import csv
import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = datetime(2020, 5, 20, 0, 0, 0)
WINDOW = timedelta(days=5)
# Input ticks slide the 5-day window by one hour; tick i uses offset
# i % INPUT_HOURS, so the sources cover WINDOW + INPUT_HOURS hours.
INPUT_HOURS = 48
N_RAIN_STATIONS = 46
N_CATCHMENTS = 60

N_MATRIX_ROWS = 481  # 5 days on the 15-minute grid, both ends included
N_MATRIX_STATIONS = 48
N_ABSENT_STATIONS = 2
N_MATRIX_VARIANTS = 6
FGT_BASE = datetime(2020, 6, 1, 0, 0, 0)


def station_hash(i: int) -> str:
    return hashlib.sha256(f"obs-station-{i}".encode()).hexdigest()


def _fmt(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _ts_array(times) -> pa.Array:
    return pa.array(times, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _station_coords(rng, n):
    # Kelani basin box; 6 decimals, as station coordinates are stored.
    lat = np.round(6.80 + rng.random(n) * 0.35, 6)
    lon = np.round(79.85 + rng.random(n) * 0.75, 6)
    return lat, lon


# --- mike_inputs ----------------------------------------------------------


def gen_mike_inputs(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    lat, lon = _station_coords(rng, N_RAIN_STATIONS)
    ids = [str(100000 + i) for i in range(N_RAIN_STATIONS)]
    hashes = [station_hash(i) for i in range(N_RAIN_STATIONS)]

    # 5-minute observations with gaps and invalid negatives.
    span_min = int((WINDOW + timedelta(hours=INPUT_HOURS)).total_seconds() // 60)
    grid = [BASE + timedelta(minutes=m) for m in range(0, span_min + 1, 5)]
    sid, times, vals = [], [], []
    for i in range(N_RAIN_STATIONS):
        u = rng.random(len(grid))
        wet = rng.random(len(grid)) < 0.3
        amount = np.round(rng.exponential(1.5, len(grid)) * wet, 2)
        neg = np.round(-rng.random(len(grid)) * 5, 2)
        keep = u >= 0.08
        v = np.where(u < 0.11, neg, amount)
        for t, x in zip(np.array(grid, dtype=object)[keep], v[keep]):
            sid.append(hashes[i])
            times.append(t)
            vals.append(float(x))
    _write(pa.table({"id": pa.array(sid), "time": _ts_array(times),
                     "value": pa.array(vals, pa.float64())}),
           os.path.join(root, "sim_ts.parquet"))

    # run registry: every station fresh under hechms, plus a distractor.
    run_ids = hashes + [station_hash(999)]
    models = ["hechms"] * N_RAIN_STATIONS + ["wrf"]
    grid_ids = [f"rainfall_{s}_stn{k}" for k, s in enumerate(ids)] + ["rainfall_100999_x"]
    obs_end = [BASE + WINDOW + timedelta(hours=INPUT_HOURS)] * len(run_ids)
    _write(pa.table({"id": pa.array(run_ids), "model": pa.array(models),
                     "grid_id": pa.array(grid_ids), "obs_end": _ts_array(obs_end)}),
           os.path.join(root, "run.parquet"))

    # catchment weights: 2-5 stations each, weights summing to 1.
    coeff = []
    for c in range(N_CATCHMENTS):
        k = int(rng.integers(2, 6))
        members = rng.choice(N_RAIN_STATIONS, size=k, replace=False)
        w = rng.random(k) + 0.1
        w = np.round(w / w.sum(), 4)
        for m, x in zip(members, w):
            coeff.append((f"Catchment_{c:02d}", ids[m], float(x)))
    with open(os.path.join(root, "coefficients.csv"), "w", newline="") as fh:
        wr = csv.writer(fh)
        wr.writerow(["name", "curw_obs_id", "coefficient"])
        wr.writerows(coeff)

    # MIKE rainfall stations (file order = output column order) and the
    # active observation stations they borrow from.
    stations = [(hashes[i], ids[i], f"Station {i:02d}", float(lat[i]), float(lon[i]))
                for i in range(N_RAIN_STATIONS)]
    order = rng.permutation(N_RAIN_STATIONS)
    with open(os.path.join(root, "mike_stations.csv"), "w", newline="") as fh:
        wr = csv.writer(fh)
        wr.writerow(["hash_id", "station_id", "station_name", "latitude", "longitude"])
        wr.writerows(stations[i] for i in order)
    _write(pa.table({
        "hash_id": pa.array([s[0] for s in stations]),
        "station_id": pa.array([s[1] for s in stations]),
        "station_name": pa.array([s[2] for s in stations]),
        "latitude": pa.array([s[3] for s in stations], pa.float64()),
        "longitude": pa.array([s[4] for s in stations], pa.float64()),
    }), os.path.join(root, "active_obs.parquet"))

    # tide (with -99999 sentinels) and discharge (with negatives), 15-min.
    q_grid = [BASE + timedelta(minutes=m) for m in range(0, span_min + 1, 15)]
    for name, bad in (("tide", "sentinel"), ("discharge", "negative")):
        n = len(q_grid)
        u = rng.random(n)
        base = np.sin(np.arange(n) / 12.0) + 1.5 if name == "tide" else rng.gamma(4, 40, n)
        v = np.round(base + rng.normal(0, 0.05, n), 3)
        v = np.where(u < 0.06, -99999.0 if bad == "sentinel" else -np.round(rng.random(n) * 3, 3), v)
        keep = u >= 0.03
        _write(pa.table({
            "id": pa.array([station_hash(500 + len(name))] * int(keep.sum())),
            "time": _ts_array(list(np.array(q_grid, dtype=object)[keep])),
            "value": pa.array(v[keep].astype(float), pa.float64()),
        }), os.path.join(root, f"{name}.parquet"))
    return {"source_rows": len(sid)}


def input_window(tick: int) -> tuple[str, str]:
    start = BASE + timedelta(hours=tick % INPUT_HOURS)
    return _fmt(start), _fmt(start + WINDOW)


# --- mike_extract ---------------------------------------------------------


def gen_mike_extract(root: str, seed: int) -> dict:
    """Station dimension + result-matrix variants.  The warehouse
    history is written by ``reference.WarehouseReference.write_history``,
    which computes series ids independently of the program."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    lat, lon = _station_coords(rng, N_MATRIX_STATIONS)
    names = [f"WL_Stn_{i:02d}" for i in range(N_MATRIX_STATIONS)]
    absent = set(rng.choice(N_MATRIX_STATIONS, N_ABSENT_STATIONS, replace=False).tolist())
    dim = [i for i in range(N_MATRIX_STATIONS) if i not in absent]
    n_dim = len(dim)
    _write(pa.table({
        "station_id": pa.array([1000 + i for i in dim], pa.int32()),
        "name": pa.array([names[i] for i in dim]),
        "latitude": pa.array([float(lat[i]) for i in dim], pa.float64()),
        "longitude": pa.array([float(lon[i]) for i in dim], pa.float64()),
        "station_type": pa.array(["CHANNEL_CELL_MAP"] * n_dim),
        "description": pa.array(["MIKE11 station"] * n_dim),
    }), os.path.join(root, "warehouse", "station", "part-0.parquet"))

    for kind, scale in (("WL", 2.0), ("Discharge", 300.0)):
        for v in range(N_MATRIX_VARIANTS):
            times = [_fmt(matrix_start(v) + timedelta(minutes=15 * k))
                     for k in range(N_MATRIX_ROWS)]
            m = rng.random((N_MATRIX_ROWS, N_MATRIX_STATIONS)) * scale - 0.05 * scale
            # 4 decimals, so the 3-dp round meets its ties
            m = np.round(m, 4)
            path = matrix_path(root, kind, v)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", newline="") as fh:
                wr = csv.writer(fh)
                wr.writerow(["Time Stamp"] + names)
                for k in range(N_MATRIX_ROWS):
                    wr.writerow([times[k]] + [repr(float(x)) for x in m[k]])
    return {"absent": sorted(names[i] for i in absent)}


def fgt_of(tick: int) -> datetime:
    """Forecast-generated time of extraction tick ``tick`` (30-min cron)."""
    return FGT_BASE + timedelta(minutes=30 * tick)


def matrix_start(variant: int) -> datetime:
    """Each variant's forecast starts 6 h later than the previous one."""
    return FGT_BASE + timedelta(hours=6 * variant)


def matrix_path(root: str, kind: str, variant: int) -> str:
    return os.path.join(root, "results", f"{kind}_{variant}", f"resmike11_{kind}.csv")


# --- catalog tables -------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(rng, start: datetime, span_days: int, n: int):
    d = rng.integers(0, span_days, n)
    return [start + timedelta(days=int(x)) for x in d]


def gen_catalog(root: str, seed: int, sf: float = 0.01) -> dict:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_array(_days(rng, datetime(1995, 1, 1), 2404, n_ord)),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts_array(_days(rng, datetime(1995, 1, 2), 2498, n_line)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    ev0 = datetime(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array([ev0 + timedelta(microseconds=int(x)) for x in ev_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    dup = rng.random(n_emb) < 0.04
    src = rng.integers(0, n_emb, n_emb)
    for i in np.nonzero(dup)[0]:  # near-duplicate vectors within a label
        j = int(src[i])
        vecs[i] = vecs[j] + rng.normal(0, 0.3, 64)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, 64 * (n_emb + 1), 64, dtype=np.int32))
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(root, exist_ok=True)
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(root, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}
