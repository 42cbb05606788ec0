#!/usr/bin/env python3
"""Cold/warm query-cost benchmark for the engine, run from the repo root:

    python3 perfbench/run.py --workload mix_sf0.1 --seed 1 --seconds 10 --trace 0

One process, one closed-loop client on ``local[nproc]``.  A run generates
its inputs from the seed, sets up once (the JVM start, the session, the
registry and the fixed warm-up), makes one cold pass over the workload's
queries, then warm passes for ``--seconds`` (at least three), each pass in
a seed-chosen order.  Each call is
``query_fns()[q](spark, dir)`` followed by a ``noop`` sink.  Every
distinct query's output is then checked once against its DuckDB oracle,
outside the timed passes.  See perfbench/README.md.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer split, taken from Spark's
event log, a streaming listener, timing wrappers around the table
loaders and the benchmark's own spans.  The line before it is the full
run record (host fingerprint, CPU sentinel, per-call times, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigdata_assigment3_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import spans  # noqa: E402
from workloads import WARMUP, WORKLOADS, module_of  # noqa: E402

# interpreter start and the benchmark's own imports, counted in setup_s
AGE_AT_IMPORT = host.process_age_s() or 0.0
T_START = time.time()
MIN_WARM_PASSES = 3  # the first warm pass still pays some JIT warming
UNITS = {"_s": "s", "_mb": "MB"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(".util") else "count"


# ------------------------------------------------------------- inputs

def make_inputs(wl: dict, seed: int, run_dir: str) -> tuple[str, str, dict[str, int]]:
    """Write the seeded base tree and, for a scaled workload, derive the
    scaled tree from it and check its row counts; return (base dir, data
    dir, row counts of the data tree)."""
    base = os.path.join(run_dir, "base")
    counts = gen.write_tables(base, wl["sf"], seed)
    copies = wl.get("copies", 1)
    if copies == 1:
        return base, base, counts
    data = os.path.join(run_dir, "data")
    subprocess.run([sys.executable, os.path.join(ROOT, "tests", "make_scale_fixture.py"),
                    str(copies), base, data], stdout=subprocess.DEVNULL, check=True, timeout=300)
    import pyarrow.parquet as pq

    scaled = {}
    for t, n in counts.items():
        got = pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
        want = n if t in ("region", "nation") else n * copies
        if got != want:
            raise RuntimeError(f"scaled tree: {t} has {got} rows, expected {want}")
        scaled[t] = got
    return base, data, scaled


# -------------------------------------------------------------- set-up

def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def inside(path: str, directory: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(directory) + os.sep)


def set_up(warm_dir: str, run_dir: str) -> tuple:
    """Import, build the session (this starts the JVM), load the registry
    and run the fixed warm-up queries on the base tree (the same work for
    every workload); return (spark, fns, parts in seconds, scratch).

    The program picks its own scratch directory; it is pinned to the
    run's TMPDIR only where that pick would leave the checkout (a large
    tmpfs, where the pick has already created an empty directory)."""
    t0 = time.perf_counter()
    import bigdata_assigment3_spark as pkg
    from bigdata_assigment3_spark.session import scratch_dir

    t1 = time.perf_counter()
    picked = scratch_dir()
    scratch = {"picked": picked, "pinned": not inside(picked, run_dir)}
    if scratch["pinned"]:
        os.environ["SPARK_GRAFT_SCRATCH"] = os.environ["TMPDIR"]
    t2 = time.perf_counter()
    spark = pkg.get_spark("perfbench")
    t3 = time.perf_counter()
    fns = pkg.query_fns()
    t4 = time.perf_counter()
    for q in WARMUP:
        sink(fns[q](spark, warm_dir))
    t5 = time.perf_counter()
    parts = {"interpreter_s": AGE_AT_IMPORT, "import_s": t1 - t0, "get_spark_s": t3 - t2,
             "query_fns_s": t4 - t3, "warmup_s": t5 - t4}
    parts["total_s"] = sum(parts.values())
    return spark, fns, parts, scratch


# ------------------------------------------------------------- tracing

class LoadTimer:
    """Timing wrappers around the package's table loaders, installed by
    rebinding every module attribute that holds one of them."""

    NAMES = ("load_table", "load_table_parallel")

    def __init__(self):
        self.spans: list[tuple[float, float]] = []
        self._depth = 0

    def _wrap(self, fn):
        def timed(*a, **kw):
            self._depth += 1
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self._depth -= 1
                if self._depth == 0:  # load_table_parallel calls load_table
                    self.spans.append((t0, time.time()))
        return timed

    def install(self) -> None:
        from bigdata_assigment3_spark.sources import tables

        originals = [getattr(tables, n) for n in self.NAMES]
        wrapped = [self._wrap(fn) for fn in originals]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                for fn, timed in zip(originals, wrapped):
                    if val is fn:
                        setattr(mod, attr, timed)


def make_listener(sink_list: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink_list.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# --------------------------------------------------------------- passes

def run_pass(spark, fns, data, names, label, traced, calls, failures, outputs):
    """One pass over ``names``; append one record per call to ``calls``
    and keep each call's DataFrame in ``outputs``, by query."""
    sc = spark.sparkContext
    t_pass = time.time()
    for q in names:
        group = f"pb:{label}:{q}"
        if traced:
            sc.setJobGroup(group, group)
        rec = {"pass": label, "query": q, "group": group, "start": time.time()}
        try:
            df = outputs[q] = fns[q](spark, data)
            rec["build_end"] = time.time()
            sink(df)
            rec["end"] = time.time()
        except Exception as e:  # counted, recorded, never retried
            rec.setdefault("build_end", time.time())
            rec["end"] = time.time()
            failures.append({"query": q, "pass": label, "error": repr(e)[:300]})
        calls.append(rec)
    if traced:
        sc.setJobGroup("pb:idle", "pb:idle")
    return t_pass, time.time()


def check_outputs(spark, fns, data, names, traced, failures, outputs) -> dict[str, int]:
    """Compare each query's output, the DataFrame its last timed call
    returned, with its DuckDB oracle once; return shuffle-exchange counts
    per query when traced."""
    import duckdb

    from bigdata_assigment3_spark import oracle_sqls
    from tests.oracle_utils import compare

    oracles = oracle_sqls()
    exchanges: dict[str, int] = {}
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for q in names:
            try:
                df = outputs[q] if q in outputs else fns[q](spark, data)
                if traced:
                    from bigdata_assigment3_spark.plans.explain import shuffle_exchanges

                    exchanges[q] = shuffle_exchanges(df)
                problems = compare(df, con.sql(oracles[q]), q)
            except Exception as e:
                problems = [f"{q}: {e!r}"[:300]]
            if problems:
                failures.append({"query": q, "pass": "check", "error": "; ".join(problems)[:300]})
    finally:
        con.close()
    return exchanges


# -------------------------------------------------------------- metrics

def failure_counts(calls, names, failures) -> tuple[int, int]:
    """(attempted, failed): every timed call plus one output check per
    distinct query is an attempt; a call or check fails at most once."""
    return len(calls) + len(names), len({(f["pass"], f["query"]) for f in failures})


def is_warm(label: str) -> bool:
    return label.startswith("w")


def end_to_end(setup, passes, calls) -> tuple[dict, dict]:
    """End-to-end metrics, plus the warm-call tail for the record: the
    highest percentile with at least ten warm calls beyond it."""
    warm_calls = [c["end"] - c["start"] for c in calls if is_warm(c["pass"])]
    m = {
        "setup_s": setup["total_s"],
        "cold_pass_s": spans.median(e - s for k, (s, e) in passes.items() if not is_warm(k)),
        "warm_pass_s": spans.median(e - s for k, (s, e) in passes.items() if is_warm(k)),
        "query_p50_s": spans.median(warm_calls),
    }
    tail = spans.tail_percentile(warm_calls, 10)
    info = {"query_tail": None if tail is None else
            {"pct": tail[0], "value_s": tail[1], "samples": tail[2], "beyond": tail[3]}}
    return m, info


def per_layer(wl, fns, setup, passes, calls, loads, jobs, stages, progress,
              exchanges, proc, cores) -> tuple[dict, dict]:
    """The per-layer split, per warm pass (median over warm passes) where
    the layer is a pass quantity, as (layers every workload has,
    workload-specific layers)."""
    windows = [spans.Window(f"{c['pass']}:{c['query']}", c["group"], c["start"], c["build_end"], c["end"])
               for c in calls]
    attr = spans.attribute_jobs(jobs, windows)
    owner = spans.stage_owner(jobs)
    by_call: dict[str, dict] = {w.key: {"build": [], "sink": [], "grouped": 0, "window": 0} for w in windows}
    for job_id, a in attr.items():
        j = jobs[job_id]
        by_call[a.call][a.phase].append((j.submit, j.end))
        by_call[a.call]["grouped" if a.grouped else "window"] += 1
    stage_call = {s: attr[j].call for s, j in owner.items() if j in attr}

    module = {q: module_of(fns[q]) for q in wl["queries"]}
    per_pass: dict[str, dict[str, float]] = {}
    for c in calls:
        key = f"{c['pass']}:{c['query']}"
        p = per_pass.setdefault(c["pass"], {})
        bc = by_call[key]
        add = {
            "query.build_s": c["build_end"] - c["start"],
            "query.build_driver_s": spans.self_time(c["start"], c["build_end"], bc["build"]),
            "query.eager_jobs": len(bc["build"]),
            "query.sink_s": c["end"] - c["build_end"],
            "query.sink_jobs": len(bc["sink"]),
            "query.grouped_jobs": bc["grouped"],
            "query.window_jobs": bc["window"],
            "sources.load_s": spans.union_length(loads, c["start"], c["build_end"]),
            "sources.load_calls": sum(1 for s, e in loads if c["start"] <= s < c["build_end"]),
            f"{module[c['query']]}.call_s": c["end"] - c["start"],
        }
        for k, v in add.items():
            p[k] = p.get(k, 0.0) + v
    for label, (s, e) in passes.items():
        p = per_pass.setdefault(label, {})
        ran = [tot for sid, tot in stages.items() if stage_call.get(sid, "").split(":", 1)[0] == label]
        st = spans.StageTotals()
        for tot in ran:
            st.add(tot)
        p.update({
            "pass_s": e - s,
            "spark.stages": len(ran),
            "spark.tasks": st.tasks, "spark.failed_tasks": st.failed_tasks,
            "spark.task_run_s": st.run_s, "spark.task_cpu_s": st.cpu_s, "spark.gc_s": st.gc_s,
            "spark.shuffle_read_mb": st.shuffle_read_bytes / spans.MB,
            "spark.shuffle_write_mb": st.shuffle_write_bytes / spans.MB,
            "spark.spill_disk_mb": st.spill_disk_bytes / spans.MB,
            "spark.util": st.run_s / ((e - s) * cores),
        })
        for k, v in spans.streaming_totals(pr for pr in progress if s <= spans.progress_epoch(pr) <= e).items():
            p[f"streaming.{k}"] = v
        p["unattributed_s"] = p["pass_s"] - p.get("query.build_s", 0.0) - p.get("query.sink_s", 0.0)

    warm = [d for label, d in per_pass.items() if is_warm(label)]
    cold = [d for label, d in per_pass.items() if not is_warm(label)]
    keys = sorted({k for d in warm for k in d})
    out = {k: spans.median(d.get(k, 0.0) for d in warm) for k in keys if not k.endswith(".call_s")}
    out["trace.warm_pass_s"] = out.pop("pass_s")
    modules = sorted(set(module.values()))
    for m in modules:
        out[f"{m}.warm_s"] = spans.median(d.get(f"{m}.call_s", 0.0) for d in warm)
        out[f"{m}.cold_s"] = spans.median(d.get(f"{m}.call_s", 0.0) for d in cold)
    # memo builds: what each query's cold call pays over its warm call (medians)
    wall, n_jobs = {}, {}
    for c in calls:
        key = f"{c['pass']}:{c['query']}"
        grp = "warm" if is_warm(c["pass"]) else "cold"
        wall.setdefault((grp, c["query"]), []).append(c["end"] - c["start"])
        n_jobs.setdefault((grp, c["query"]), []).append(len(by_call[key]["build"]) + len(by_call[key]["sink"]))
    pairs = [q for q in wl["queries"] if ("cold", q) in wall and ("warm", q) in wall]
    out["memo.cold_extra_s"] = sum(spans.median(wall["cold", q]) - spans.median(wall["warm", q]) for q in pairs)
    out["memo.cold_extra_jobs"] = sum(spans.median(n_jobs["cold", q]) - spans.median(n_jobs["warm", q])
                                      for q in pairs)
    out["plans.shuffle_exchanges"] = sum(exchanges.values())
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["registry.query_fns_s"] = setup["query_fns_s"]
    out["session.import_s"] = setup["import_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out.update(proc)
    # Per-module and streaming figures exist only where the workload has
    # such queries; elsewhere they would read 0 on every run.  They go to
    # the run record; the result line carries the layers every workload has.
    specific = {k: out.pop(k) for k in list(out) if k.split(".", 1)[0] in ("streaming", *modules)}
    return out, specific


# ----------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str, event_dir: str | None) -> None:
    """Per-run temp dir (on the checkout's filesystem), all cores, no
    console progress bar, optional event log; set before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    confs = ["spark.ui.showConsoleProgress=false", f"spark.sql.warehouse.dir={tmp}/warehouse",
             # no /tmp/hsperfdata_<user> files: the run writes only inside the checkout
             "spark.driver.defaultJavaOptions=-XX:-UsePerfData"]
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if event_dir:
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false", f"spark.eventLog.dir=file://{event_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


def stop_jvm() -> None:
    """Stop the active session and the JVM it runs in, if any, and wait
    for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dir: str) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    event_dir = os.path.join(run_dir, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    configure_env(run_dir, event_dir)
    try:
        return measure(args, wl, traced, event_dir, run_dir)
    finally:
        stop_jvm()


def measure(args, wl, traced, event_dir, run_dir) -> tuple[dict, dict]:
    sent_start = host.sentinel_s()
    base, data, counts = make_inputs(wl, args.seed, run_dir)
    phases = {"inputs": time.time()}

    sys.path.insert(0, ROOT)
    spark, fns, setup, scratch = set_up(base, run_dir)
    phases["setup"] = time.time()
    loads, progress = LoadTimer(), []
    if traced:
        loads.install()
        spark.streams.addListener(make_listener(progress))
    rng = random.Random(args.seed)
    order = lambda: rng.sample(wl["queries"], len(wl["queries"]))  # noqa: E731
    calls, failures, passes, outputs = [], [], {}, {}
    passes["c1"] = run_pass(spark, fns, data, order(), "c1", traced, calls, failures, outputs)
    cores = spark.sparkContext.defaultParallelism
    phases["cold"] = time.time()
    fp = host.fingerprint()

    measure_end = time.time() + args.seconds
    i = 0
    while i < MIN_WARM_PASSES or time.time() < measure_end:
        i += 1
        passes[f"w{i}"] = run_pass(spark, fns, data, order(), f"w{i}", traced, calls, failures, outputs)

    phases["passes"] = time.time()
    pid = jvm_pid(spark)
    proc = {"process.driver_rss_mb": host.vm_hwm_mb(), "process.jvm_rss_mb": host.vm_hwm_mb(pid) if pid else 0.0,
            "process.jvm_disk_write_mb": host.write_bytes_mb(pid) if pid else 0.0}
    proc["process.peak_rss_mb"] = proc["process.driver_rss_mb"] + proc["process.jvm_rss_mb"]
    exchanges = check_outputs(spark, fns, data, wl["queries"], traced, failures, outputs)
    sent_end = host.sentinel_s()
    phases["check"] = time.time()

    stop_jvm()
    phases["stop"] = time.time()

    e2e, tail_info = end_to_end(setup, passes, calls)
    attempted, failed = failure_counts(calls, wl["queries"], failures)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": fp, "cpu_sentinel": {"start_s": sent_start, "end_s": sent_end,
                                     "start_ratio": host.sentinel_ratio(sent_start, fp),
                                     "end_ratio": host.sentinel_ratio(sent_end, fp)},
        "input_rows": counts, "setup": setup, "scratch": scratch,
        "phase_ends_s": {k: v - T_START for k, v in phases.items()}, "warm_passes": sum(map(is_warm, passes)),
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "failures": failures, **tail_info, "end_to_end": e2e, "process": proc,
        "calls": [{k: c[k] for k in ("pass", "query")} | {"build_s": c["build_end"] - c["start"],
                                                            "sink_s": c["end"] - c["build_end"]} for c in calls],
    }
    if traced:
        (log,) = os.listdir(event_dir)  # one session, one application
        with open(os.path.join(event_dir, log)) as f:
            jobs, stages = spans.parse_event_log(f)
        layers, specific = per_layer(wl, fns, setup, passes, calls, loads.spans, jobs, stages, progress,
                                     exchanges, proc, cores)
        layers["host.cpu_sentinel_start_s"] = sent_start
        layers["host.cpu_sentinel_end_s"] = sent_end
        record["per_layer"] = {**layers, **specific}
        record["stream_progress_events"] = len(progress)
        metrics = layers
    else:
        metrics = e2e
    return record, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        record, metrics = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    out = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
