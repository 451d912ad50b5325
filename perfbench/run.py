#!/usr/bin/env python3
"""Benchmark of the MIKE cron pipelines and the catalog hot spots.

    python3 perfbench/run.py --workload mike_cron --seed 1 --seconds 5 --trace 0

Run it from the repository root.  One process runs one workload as a
closed loop: one client, each op issued when the previous one returns,
on ``local[<cores>]``.  The timed region runs whole units of the
workload (a cron hour, two catalog passes) until ``--seconds`` have
passed, so a short ``--seconds`` times exactly one unit.

The last line of standard output is the result object; the line before
it carries the run's details.  With ``--trace 0`` the result holds the
end-to-end metrics, with ``--trace 1`` the per-layer ones (spans and
Spark counters).  Reports and span files go to ``.perfbench/results/``
in the repository.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "curw_mike_data_handler_spark"
RETAINED = 200_000


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["mike_cron", "catalog_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def host_config() -> dict:
    """Cores this process may use and a driver heap sized to the host:
    a sixteenth of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"cores": len(os.sched_getaffinity(0)),
            "heap_mb": max(1024, min(4096, total_kb // 1024 // 16))}


def session_conf(work: str, heap_mb: int) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": f"{heap_mb}m",
        # per-op counters are read from the status store after the run
        "spark.ui.retainedJobs": str(RETAINED),
        "spark.ui.retainedStages": str(RETAINED),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def start_session(host: dict, conf: dict, workload: str):
    """One set-up: launch the JVM, build the session with the package's
    factory and run a first job.  Returns (spark, seconds)."""
    from curw_mike_data_handler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", master=f"local[{host['cores']}]",
                      shuffle_partitions=host["cores"], extra_conf=conf)
    spark.range(1).count()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it started) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- memory ----------------------------------------------------------------


def _reset_peak(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return int(next(line for line in fh if line.startswith("VmHWM")).split()[1])


# --- statistics ------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile).  Below 20 samples that percentile would fall
    under the median, so the maximum is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def layer_metrics(spans, counters, attribution, cores, extract_sizes):
    """Per-layer metrics, each per timed op unless named otherwise.  A
    layer the workload does not run reads 0."""
    from workloads import FAMILIES, FAMILY_OF

    op_list = [s for s in spans if s["name"] == "op"]
    inner = [s for s in spans if s["name"] != "op"]
    n = len(op_list)

    def dur(s):
        return s["end"] - s["start"]

    def cnt(s, key):
        return counters.get(s["tag"], {}).get(key, 0)

    def layer_s(name):
        return sum(dur(s) for s in inner if s["name"] == name) / n

    m = {
        "plans.build_s": layer_s("plans.build"),
        "plans.build_jobs": sum(cnt(s, "jobs") for s in inner if s["name"] == "plans.build") / n,
        "spark.jobs": sum(cnt(s, "jobs") for s in op_list) / n,
        "spark.stages": sum(cnt(s, "stages") for s in op_list) / n,
        "spark.tasks": sum(cnt(s, "tasks") for s in op_list) / n,
        "spark.busy_frac": sum(cnt(s, "run_ms") for s in op_list) / 1000.0
        / max(sum(dur(s) for s in op_list) * cores, 1e-9),
        "spark.cpu_s": sum(cnt(s, "cpu_ns") for s in op_list) / 1e9 / n,
        "spark.shuffle_read_bytes": sum(cnt(s, "shuffle_read") for s in op_list) / n,
        "spark.shuffle_write_bytes": sum(cnt(s, "shuffle_write") for s in op_list) / n,
        "spark.spill_bytes": sum(cnt(s, "spill") for s in op_list) / n,
        "csv_io.write_s": layer_s("csv_io.write"),
        "csv_io.read_s": layer_s("csv_io.read"),
        "extract.melt_ids_s": layer_s("extract.melt_ids"),
        "upsert.merge_s": layer_s("upsert.merge"),
        "upsert.bytes_written": sum(cnt(s, "output_bytes") for s in inner
                                    if s["name"] == "upsert.merge") / n,
        "upsert.write_amp": 0.0,
        "upsert.table_rows": 0.0,
        "trace.attributed_frac": attribution["attributed_jobs"] / max(attribution["timed_jobs"], 1),
    }
    if extract_sizes:
        (rows0, _), (rows1, bytes1), batch_rows = extract_sizes
        m["upsert.table_rows"] = (rows0 + rows1) / 2
        n_extract = sum(s["label"] != "mike_inputs" for s in op_list)
        new_bytes = batch_rows * n_extract * bytes1 / max(rows1, 1)
        m["upsert.write_amp"] = m["upsert.bytes_written"] * n / max(new_bytes, 1e-9)
    for fam in FAMILIES:
        fam_ops = [s for s in op_list if FAMILY_OF.get(s["label"]) == fam]
        k = max(len(fam_ops), 1)
        ids = {s["id"] for s in fam_ops}
        fam_inner = [s for s in inner if s["parent"] in ids]
        m[f"catalog.{fam}.build_s"] = sum(dur(s) for s in fam_inner if s["name"] == "plans.build") / k
        m[f"catalog.{fam}.exec_s"] = sum(dur(s) for s in fam_inner if s["name"] == "catalog.exec") / k
        m[f"catalog.{fam}.jobs"] = sum(cnt(s, "jobs") for s in fam_ops) / k
        m[f"catalog.{fam}.stages"] = sum(cnt(s, "stages") for s in fam_ops) / k
    return m


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# --- main ------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    # Spark's Python workers import the package from any start directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)

    results = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        return run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, results: str) -> int:
    import workloads
    from tracing import Tracer, self_times, spark_counters, write_spans

    import_s = time.perf_counter() - PROCESS_START
    host = host_config()

    # inputs first: the program sees only the generated files
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    gen_s = time.perf_counter() - t0
    spark, session_s = start_session(host, session_conf(work, host["heap_mb"]), args.workload)
    # set-up is everything from the first line to a warmed session,
    # except the input generation
    setup_s = import_s + session_s
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc, enabled=bool(args.trace))
        t0 = time.perf_counter()
        wl.prepare(spark, tracer)
        prepare_s = time.perf_counter() - t0
        sizes = [wl.table_size()] if args.trace and args.workload == "mike_cron" else None

        done = []  # (index, name, latency, result, error)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        for pid in (os.getpid(), jvm_pid):
            _reset_peak(pid)
        start = time.perf_counter()
        with tracer.timed_region():
            while not done or time.perf_counter() - start < args.seconds:
                for name in wl.unit():
                    i, t = len(done), time.perf_counter()
                    try:
                        with tracer.op(name, i):
                            res, err = wl.run_op(i, name), None
                    except Exception as exc:  # an op that raises counts as failed
                        res, err = None, f"{type(exc).__name__}: {exc}"[:300]
                    done.append((i, name, time.perf_counter() - t, res, err))
        wall = time.perf_counter() - start
        peak_mb = (_peak_kb(os.getpid()) + _peak_kb(jvm_pid)) / 1024.0
        effective = {
            "cores": host["cores"], "heap_mb": host["heap_mb"],
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "default_parallelism": sc.defaultParallelism,
        }
        if args.trace:
            if sizes is not None:
                sizes += [wl.table_size(), wl.batch_rows()]
            counters, attribution = spark_counters(sc, RETAINED, RETAINED)
    finally:
        stop_session(spark)

    # correctness, outside the timed region
    t0 = time.perf_counter()
    errors, bad = [], set()
    for i, name, _lat, res, err in done:
        errs = [err] if err else wl.check(i, name, res)
        if errs:
            errors.append(f"op {i} {name}: {errs[0]}")
            bad.add(i)
    final = wl.final_check()
    if final:  # the end state is wrong: every op that wrote it counts as failed
        errors += final
        bad |= {d[0] for d in done if d[1] in wl.final_check_ops}
    failed = len(bad)
    check_s = time.perf_counter() - t0

    lat = [d[2] for d in done]
    n = len(lat)
    tail_s, tail_p = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "tick_p50_s": statistics.median(lat),
        "tick_tail_s": tail_s,
        "ops_per_s": n / wall,
        "peak_rss_mb": peak_mb,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "ops": n, "wall_s": wall, "failed_frac": failed / n,
        "tail_percentile": tail_p, "import_s": import_s, "session_start_s": session_s,
        "gen_s": gen_s,
        "prepare_s": prepare_s, "check_s": check_s, "inputs": wl.info, "effective": effective,
        "errors": errors[:10], "e2e": e2e,
        "p50_by_op": {k: statistics.median(d[2] for d in done if d[1] == k)
                      for k in sorted({d[1] for d in done})},
        "ops_list": [[d[0], d[1], round(d[2], 4)] for d in done],
    }
    metrics = e2e
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    if args.trace:
        metrics = layer_metrics(tracer.spans, counters, attribution, host["cores"], sizes)
        metrics["session.start_s"] = session_s
        detail["self_s_per_op"] = {k: v / n for k, v in self_times(tracer.spans).items()}
        detail["attribution"] = attribution
        detail["per_layer"] = metrics
        detail["op_counters"] = [
            [s["index"], s["label"]] + [counters.get(s["tag"], {}).get(k, 0)
                                        for k in ("jobs", "stages", "tasks")]
            for s in tracer.spans if s["name"] == "op"]
        write_spans(f"{stem}.spans.jsonl", tracer.spans, counters)

    with open(f"{stem}.json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in detail.items() if k != "ops_list"}, default=str))
    units = declared_units(args.trace)
    if units.keys() != metrics.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {units.keys() ^ metrics.keys()}")
    print(json.dumps({
        "correct": not errors, "attempted": n, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
