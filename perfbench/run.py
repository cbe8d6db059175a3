"""Closed-loop benchmark of dask_histogram_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One client on ``local[<cores>]`` sends
its next request only after the last one returned.  The run

1. generates the workload's inputs from ``--seed`` and lands them as
   parquet in a per-run directory under ``.perfbench/`` (removed at
   exit; Spark's local, warehouse and temp files go there too);
2. sets up ``SETUPS`` times: start a Spark session, load and cache the
   inputs, run the warm-up requests.  The first set-up also launches
   the JVM;
3. runs the workload's once-per-run ``ingest`` step, if it has one.
   ``setup_s`` is the median set-up plus this step;
4. runs ``steady`` untimed requests;
5. sends a fixed number of timed requests (``timed_requests``: about
   ``--seconds`` of work at the workload's nominal latency) and checks
   every response against the generator's reference or planted truth;
6. prints a table of every metric with its unit and sample count, then,
   as the last line, one JSON object.  ``--trace 0`` reports the
   end-to-end metrics.  ``--trace 1`` records spans around each call
   into the library, puts each span's Spark jobs in a job group read
   back from the status store, reports the per-layer metrics and writes
   the spans to ``.perfbench/trace-<workload>-<seed>.json``.

Before it exits, on every path out, the run ends the Spark JVM and the
Python workers under it and waits for each (``probes.stop_spark_jvm``).

The program is driven only through its public functions; every timing
is taken on this side of the calls.  Host CPU pressure, load average
and stolen CPU time are printed as context and never used to gate or
repeat a measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
SESSION = {"session.start_s": "s", "session.load_s": "s",
           "session.warmup_s": "s"}
# per request: name -> (field summed over the request's jobs, unit)
SPARK = {
    "spark.jobs": (None, "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.job_wall_s": (None, "s"),
    "spark.executor_run_s": ("run_s", "s"),
    "spark.shuffle_write_bytes": ("shuffle_write", "bytes"),
    "spark.shuffle_read_bytes": ("shuffle_read", "bytes"),
    "spark.spill_bytes": ("spill", "bytes"),
    "spark.gc_s": ("gc_s", "s"),
}
RUN_LEVEL = {"driver.gap_s": "s", "request.self_s": "s",
             "leak.persisted_rdds": "count", "leak.catalog_tables": "count",
             "leak.temp_dirs": "count", "jvm.heap_used_peak_mb": "MB",
             "trace.latency_p50_s": "s"}


def per_layer_units(workloads) -> dict:
    """Per-layer metrics reported by a traced run: the same set for
    every declared workload (a layer a workload does not use reads 0)."""
    units = dict(SESSION)
    for w in workloads:
        for p in (*w.phases, *w.ingest_phases):
            units[f"{p}_s"] = "s"
            units[f"{p}_jobs"] = "count"
        units.update(w.counts)
    units.update({k: u for k, (_, u) in SPARK.items()})
    units.update(RUN_LEVEL)
    return units


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def kind_percentile(lat: list, q: float) -> float:
    """The ``q``-th percentile of each request kind's latencies, averaged
    over the kinds.  Every kind weighs the same, so the figure does not
    jump when a percentile of the pooled mix would fall on the edge
    between cheap and costly kinds.  With one kind it is the plain
    percentile."""
    import numpy as np

    by_kind: dict = {}
    for kind, dt in lat:
        by_kind.setdefault(kind, []).append(dt)
    return float(np.mean([np.percentile(v, q) for v in by_kind.values()])
                 ) if lat else 0.0


def _spark_conf(work: dict) -> dict:
    return {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": work["warehouse"],
        "spark.local.dir": work["local"],
        # C1-only JIT, with the code cache the default tiered JIT gets:
        # see "The JIT" in README.md
        "spark.driver.extraJavaOptions": (
            "-Xms1g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
            f" -Djava.io.tmpdir={work['tmp']}"),
    }


def timed_requests(wl, seconds: float) -> int:
    """Requests of the timed phase: whole passes over the workload's
    request mix, as many as last ``seconds`` at the workload's nominal
    latency ``wl.nominal_s``, a fixed sizing constant.  The count depends
    on the arguments only, so every run, on every commit, times the same
    requests, however fast they are."""
    n = max(1, round(seconds / wl.nominal_s))
    return -(-n // wl.pass_len) * wl.pass_len


def _temp_entries(work: dict) -> int:
    """Top-level entries of the directories temp files go to: a count
    that grows means something leaves a temp dir behind per request."""
    return sum(len(os.listdir(work[k])) for k in ("tmp", "warehouse", "local"))


def phase_layers(tr, sc, req, phases) -> tuple[dict, list]:
    """Time and jobs of each phase among the spans of request ``req``,
    and every job of those spans."""
    from probes import group_jobs

    spans = tr.request_spans(req)
    jobs_by_span = {s["id"]: group_jobs(sc, s["group"]) for s in spans}
    out = {}
    for p in phases:
        mine = [s for s in spans if s["name"] == p]
        out[f"{p}_s"] = sum(s["end"] - s["start"] for s in mine)
        out[f"{p}_jobs"] = sum(len(jobs_by_span[s["id"]]) for s in mine)
    return out, [j for js in jobs_by_span.values() for j in js]


def request_layers(tr, sc, req: int, latency: float, phases) -> dict:
    """Per-layer numbers of one traced request."""
    from probes import union_s

    out, all_jobs = phase_layers(tr, sc, req, phases)
    wall = union_s((j["start"], j["end"]) for j in all_jobs)
    out["spark.jobs"] = len(all_jobs)
    out["spark.job_wall_s"] = wall
    for k, (fld, _) in SPARK.items():
        if fld:
            out[k] = sum(j[fld] for j in all_jobs)
    out["driver.gap_s"] = max(latency - wall, 0.0)
    root = next(s for s in tr.request_spans(req) if s["parent"] is None)
    out["request.self_s"] = tr.self_time(root)
    return out


def measure(args, work: dict) -> dict:
    from dask_histogram_spark.session import get_spark

    import probes
    from workloads import WORKLOADS

    host_start = probes.host_load()
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)
    wl.land(work["input"])
    generate_s = time.perf_counter() - t

    null = probes.Tracer(False)
    tr = probes.Tracer(bool(args.trace))
    spark, setups, warm_ok = None, [], True
    counts = []
    cpus = len(os.sched_getaffinity(0))
    try:
        for _ in range(SETUPS):
            if spark is not None:
                wl.release()
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=cpus,
                              extra_conf=_spark_conf(work))
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            wl.load(spark)
            t2 = time.perf_counter()
            for _ in range(wl.warmups):
                state = wl.prepare()
                warm_ok &= wl.finish(state, wl.request(state, null), null).ok
            setups.append((t1 - t0, t2 - t1, time.perf_counter() - t2))

        sc = spark.sparkContext
        tr.sc, tr.request = sc, "ingest"
        ingest, ingest_s = {}, 0.0
        if wl.ingest_phases:
            t0 = time.perf_counter()
            res = wl.ingest(spark, tr)
            ingest_s = time.perf_counter() - t0
            warm_ok &= res.ok
            ingest = dict(res.counts)
            if tr.enabled:
                ingest.update(phase_layers(tr, sc, "ingest",
                                           wl.ingest_phases)[0])
        # the first requests after set-up still run slow: untimed, but
        # their answers are checked like any other
        for _ in range(wl.steady):
            state = wl.prepare()
            warm_ok &= wl.finish(state, wl.request(state, null), null).ok
        base = (probes.persisted_rdds(sc), probes.catalog_tables(spark),
                _temp_entries(work))
        probes.jvm_heap_peak_mb(sc, reset=True)
        jvm0 = probes.jvm_gc_jit_s(sc)
        lat, layers = [], []
        rows = attempted = failed = 0
        for _ in range(timed_requests(wl, args.seconds)):
            state = wl.prepare()
            tr.request = attempted
            attempted += 1
            try:
                t0 = time.perf_counter()
                with tr.span("request"):
                    out = wl.request(state, tr)
                dt = time.perf_counter() - t0
                res = wl.finish(state, out, tr)
            except Exception:  # counted as failed; the loop goes on
                traceback.print_exc()
                failed += 1
                continue
            failed += not res.ok
            lat.append((wl.kind(state), dt))
            rows += res.rows
            counts.append(res.counts)
            if tr.enabled:
                layers.append(request_layers(tr, sc, tr.request, dt,
                                             wl.phases))
        leaks = (probes.persisted_rdds(sc) - base[0],
                 probes.catalog_tables(spark) - base[1],
                 _temp_entries(work) - base[2])
        heap = probes.jvm_heap_peak_mb(sc)
        jvm = [b - a for a, b in zip(jvm0, probes.jvm_gc_jit_s(sc))]
        rss = probes.tree_rss_mb(os.getpid())
        wl.release()
    finally:
        if spark is not None:
            spark.stop()

    if args.trace:
        units = per_layer_units(WORKLOADS.values())
        m = {k: 0.0 for k in units}
        for i, k in enumerate(SESSION):
            m[k] = _median([s[i] for s in setups])
        for k in units:
            vals = [d[k] for d in [*layers, *counts, ingest] if k in d]
            if vals:
                m[k] = _median(vals)
        (m["leak.persisted_rdds"], m["leak.catalog_tables"],
         m["leak.temp_dirs"]) = leaks
        m["jvm.heap_used_peak_mb"] = heap
        m["trace.latency_p50_s"] = kind_percentile(lat, 50)
        with open(os.path.join(ROOT, ".perfbench",
                               f"trace-{args.workload}-{args.seed}.json"),
                  "w") as f:
            json.dump({"spans": tr.spans, "requests": layers,
                       "counts": counts, "ingest": ingest}, f)
    else:
        units = END_TO_END
        m = {"setup_s": _median([sum(s) for s in setups]) + ingest_s,
             "latency_p50_s": kind_percentile(lat, 50),
             "latency_p90_s": kind_percentile(lat, 90),
             "throughput_rows_per_s": (rows / sum(dt for _, dt in lat)
                                       if lat else 0.0),
             "peak_rss_mb": rss}
    per_setup = {"setup_s", *SESSION}
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": attempted, "failed": failed, "warmup_ok": warm_ok,
        "error_rate": failed / attempted, "generate_s": generate_s,
        "setups": setups, "ingest_s": ingest_s,
        "latencies": [dt for _, dt in lat],
        "host_start": host_start,
        "host_end": probes.host_load(), "jvm_gc_jit_s": jvm,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
        "samples": {k: len(setups) if k in per_setup
                    else 1 if k in ingest else len(lat) for k in units},
    }


def print_report(r: dict) -> None:
    print(f"# workload={r['workload']} seed={r['seed']} trace={r['trace']} "
          f"attempted={r['attempted']} failed={r['failed']} "
          f"error_rate={r['error_rate']:.4f} warmup_ok={r['warmup_ok']} "
          f"generate_s={r['generate_s']:.2f}")
    print("# setups (start, load, warmup) s: " + "; ".join(
        ", ".join(f"{x:.2f}" for x in s) for s in r["setups"])
        + f"; once-per-run ingest {r['ingest_s']:.2f}")
    print("# request latencies s: " + ", ".join(f"{x:.3f}" for x in r["latencies"]))
    for when in ("start", "end"):
        h = r[f"host_{when}"]
        print(f"# host {when}: cpu psi avg10={h['psi_avg10']} "
              f"loadavg_1m={h['loadavg_1m']}")
    s0, s1 = r["host_start"]["steal_s"], r["host_end"]["steal_s"]
    if s0 is not None and s1 is not None:
        print(f"# cpu time stolen from this machine during the run: "
              f"{s1 - s0:.2f} s")
    print("# driver JVM in the timed phase: gc {:.2f} s, jit {:.2f} s".format(
        *r["jvm_gc_jit_s"]))
    for k, v in r["metrics"].items():
        print(f"{k:32s} {v['value']:>16.6g} {v['unit']:8s} "
              f"n={r['samples'][k]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import dask_histogram_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    top = tempfile.mkdtemp(prefix="run-", dir=base)
    work = {k: os.path.join(top, k)
            for k in ("input", "tmp", "warehouse", "local")}
    for d in work.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = work["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = work["local"]
    tempfile.tempdir = None
    # a run stopped from outside still ends the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        report = measure(args, work)
    finally:
        import probes

        probes.stop_spark_jvm()
        shutil.rmtree(top, ignore_errors=True)
    print_report(report)
    print(json.dumps({
        "correct": report["failed"] == 0 and report["warmup_ok"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
