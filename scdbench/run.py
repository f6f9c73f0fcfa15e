"""Benchmark of the SCD2 engine: a closed loop with one client that calls
only the package's public functions.

    python3 scdbench/run.py --workload scd2_sparse --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything the run writes stays under ``scdbench/_work``.
See ``scdbench/NOTES.md`` for what each workload and metric is for."""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen
from model import SupplierModel, same_rows, table_digest
from probe import Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "slowly_changing_dimensions_data_engineering_spark"

#: Spark task slots and driver heap, fixed so every commit is measured
#: with the same session. ``session.get_spark`` defaults to a 32g heap,
#: more than the machines this runs on.
CPUS = 4
DRIVER_MEM = "2g"

PIPELINES = {
    # Fixed per-statement cost dominates: a 100-row load into 20k codes.
    # task6_maintenance runs after cycles 4, 10, 16, ...: every 6th cycle,
    # phased so the first tick falls in a short timed region.
    "scd2_sparse": {"n_codes": 20_000, "load_rows": 100, "maintain_every": 6},
}
#: Untimed cycles after the initial load; the first cycles after a cold
#: start run slower than steady state.
WARMUP_CYCLES = 2

#: query_mix: registry queries that keep no module-level memo, so every
#: call does the same work: relational, window, set-op, sketch and
#: near-dup text queries, each with a DuckDB oracle.
MIX_QUERIES = (
    "q1_pricing_summary", "top_customers", "semi_join_active_customers",
    "rollup_order_status", "window_top3_orders_per_customer",
    "window_running_spend", "set_except_finished_only", "set_intersect_segments",
    "approx_distinct_nations", "quantile_sketch_prices", "simhash_near_dups",
)
#: The store the mix reads: a small dimension that set-up fragments with
#: pipeline cycles and never maintains.
MIX_STORE = {"n_codes": 5_000, "load_rows": 100, "cycles": 2}
WORKLOADS = (*PIPELINES, "query_mix")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the engine write inside ``work``
    (the run chdirs there, so relative paths land in it). The JVM's perf
    data file is off: HotSpot would put it in /tmp."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.chdir(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CKPT_DIR"] = os.path.join(work, "tmp", "ckpt")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.local.dir=local "
        "--driver-java-options '-Djava.io.tmpdir=tmp -XX:-UsePerfData' "
        "pyspark-shell")
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]


def start_spark():
    from slowly_changing_dimensions_data_engineering_spark.session import get_spark
    spark = get_spark("scdbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Instrumented public calls

STORE_CALLS = ("read", "read_buckets", "read_changes", "history_df", "commit",
               "commit_buckets", "commit_append", "truncate", "compact",
               "vacuum", "vacuum_changes")
TASKS = ("task1_truncate_raw", "task2_copy_into_raw", "task3_merge_landing",
         "task4_scd2_merge", "task5_refresh_master", "task6_maintenance")


def _wrap(tracer, name, fn):
    def call(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return call


def instrument(pipe, tracer) -> None:
    """Spans around this one pipeline's task methods and the TableStore
    calls beneath them (instance attributes shadow the class methods the
    pipeline and operators look up)."""
    for t in TASKS:
        setattr(pipe, t, _wrap(tracer, t, getattr(pipe, t)))
    for m in STORE_CALLS:
        setattr(pipe.store, m, _wrap(tracer, f"store.{m}", getattr(pipe.store, m)))


# ---------------------------------------------------------------------------
# Workloads


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []        # timed ops, in order
        self.checks: list[str] = []      # correctness failures
        self.own_s = 0.0     # the benchmark's own work: inputs and the model
        self.probe_s = 0.0   # tracer bookkeeping in the timed region

    def own(self, fn, *a):
        """Call ``fn``, counting its time as the benchmark's, not set-up's."""
        t = time.perf_counter()
        out = fn(*a)
        self.own_s += time.perf_counter() - t
        return out


class Cycler:
    """Drives one SupplierPipeline from a seeded feed and keeps the model
    in step with every cycle the engine runs."""

    def __init__(self, run: Run, spark, tracer, root: str, seed: int,
                 n_codes: int, load_rows: int):
        from slowly_changing_dimensions_data_engineering_spark.pipeline import (
            SupplierPipeline)

        self.run, self.tracer = run, tracer
        self.pipe = SupplierPipeline(spark, os.path.join(root, "store"))
        self.pipe.setup()
        instrument(self.pipe, tracer)
        self.loads = os.path.join(root, "loads")
        os.makedirs(self.loads, exist_ok=True)
        self.feed = gen.SupplierFeed(seed, n_codes, load_rows)
        self.model = SupplierModel()
        self.now = dt.datetime(2024, 1, 1)

    def next_file(self):
        k = self.feed.loads
        rows = self.run.own(self.feed.next_load)
        path = self.run.own(gen.write_csv, rows,
                                 os.path.join(self.loads, f"load{k:05d}.csv"))
        return k, rows, path

    def cycle(self, k, rows, path) -> dict:
        now = self.now + dt.timedelta(minutes=k)
        with self.tracer.span("run_cycle", k=k, rows=len(rows),
                              staged_bytes=os.path.getsize(path)) as sp:
            self.pipe.stage.put(path)
            self.pipe.run_cycle(now=now)
        self.run.own(self.model.apply, rows, now)
        os.remove(path)
        return sp


def pipeline_workload(run: Run, spark, tracer, params: dict, t_setup0: float):
    cy = Cycler(run, spark, tracer, run.work, run.args.seed,
                params["n_codes"], params["load_rows"])
    for _ in range(1 + WARMUP_CYCLES):
        cy.cycle(*cy.next_file())
    setup_s = time.perf_counter() - t_setup0 - run.own_s
    every = params["maintain_every"]
    probe0 = tracer.probe_s
    deadline = time.perf_counter() + run.args.seconds
    while time.perf_counter() < deadline:
        k, rows, path = cy.next_file()
        run.attempted += 1
        op = {"k": k, "rows": len(rows)}
        try:
            op["cycle"] = cy.cycle(k, rows, path)
            op["s"] = op["cycle"]["dur"]
            if every and k % every == 4:
                with tracer.span("maintenance", k=k) as m:
                    cy.pipe.task6_maintenance()
                op["maintenance"] = m
                op["s"] += m["dur"]
        except Exception:
            run.failed += 1
            traceback.print_exc()
            break
        run.ops.append(op)
    run.probe_s = tracer.probe_s - probe0
    gate_pipeline(run, spark, cy)
    return setup_s, cy


def gate_pipeline(run: Run, spark, cy: Cycler) -> None:
    """LANDING, STAGING and MASTER equal the model: row counts and
    order-insensitive content hashes."""
    from slowly_changing_dimensions_data_engineering_spark.pipeline import (
        LANDING, MASTER, STAGING)

    want = cy.model.frames()
    for label, table in (("landing", LANDING), ("staging", STAGING),
                         ("master", MASTER)):
        got = table_digest(cy.pipe.store.read(spark, table).toPandas())
        exp = table_digest(want[label])
        if got != exp:
            run.checks.append(f"{label}: engine {got} != model {exp}")


def mix_ops(spark, corpus: str, store):
    """The read mix: ``name -> thunk`` returning a pandas result."""
    from slowly_changing_dimensions_data_engineering_spark import queries as q
    from slowly_changing_dimensions_data_engineering_spark.pipeline import (
        LANDING, MASTER, STAGING)

    registry = q.queries()
    ops = {n: (lambda fn=registry[n]: fn(spark, corpus).toPandas())
           for n in MIX_QUERIES}
    mid = store.version(STAGING) // 2
    ops.update({
        "store.read_master": lambda: store.read(spark, MASTER).toPandas(),
        "store.read_staging_version": lambda: store.read(
            spark, STAGING, version=mid).toPandas(),
        "store.history_df": lambda: store.history_df(spark, LANDING).toPandas(),
        "store.read_changes": lambda: store.read_changes(
            spark, LANDING, since=-1).toPandas(),
    })
    return ops


def query_workload(run: Run, spark, tracer, t_setup0: float):
    import random

    corpus = run.own(gen.write_corpus, run.args.seed,
                     os.path.join(run.work, "corpus"))
    cy = Cycler(run, spark, tracer, run.work, run.args.seed,
                MIX_STORE["n_codes"], MIX_STORE["load_rows"])
    for _ in range(MIX_STORE["cycles"]):
        cy.cycle(*cy.next_file())
    ops = mix_ops(spark, corpus, cy.pipe.store)
    order = sorted(ops)
    random.Random(run.args.seed).shuffle(order)
    first = {}
    for name in order:                  # warm-up pass, also the reference
        first[name] = ops[name]()
    setup_s = time.perf_counter() - t_setup0 - run.own_s
    ref = {n: table_digest(df) for n, df in first.items()}
    probe0 = tracer.probe_s
    deadline = time.perf_counter() + run.args.seconds
    p = 0
    while time.perf_counter() < deadline:   # whole passes only
        for name in order:
            run.attempted += 1
            op = {"name": name, "pass": p}
            try:
                with tracer.span(name, kind="store" if name.startswith("store.")
                                 else "query") as sp:
                    res = ops[name]()
            except Exception:
                run.failed += 1
                traceback.print_exc()
                continue
            op.update(s=sp["dur"], span=sp, rows=len(res))
            if table_digest(res) != ref[name]:
                run.failed += 1
                run.checks.append(f"{name} pass {p}: result differs from pass 0")
            run.ops.append(op)
        p += 1
    run.probe_s = tracer.probe_s - probe0
    gate_oracle(run, corpus, first)
    gate_pipeline(run, spark, cy)
    return setup_s, cy


def gate_oracle(run: Run, corpus: str, results: dict) -> None:
    """Each mix query's result equals the registry's DuckDB oracle."""
    import duckdb

    from slowly_changing_dimensions_data_engineering_spark import queries as q

    oracles = q.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus, t)}.parquet'")
        for name in MIX_QUERIES:
            if name in oracles and not same_rows(results[name],
                                                 con.sql(oracles[name]).df()):
                run.checks.append(f"{name}: differs from the DuckDB oracle")
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Metrics


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    """Op-level metrics over the timed region. An op is one run_cycle (plus
    the maintenance tick that follows it when due) on the pipeline
    workloads, and one query or store read on query_mix."""
    ops = run.ops
    cycle_s = [o["cycle"]["dur"] if "cycle" in o else o["s"] for o in ops]
    busy = sum(o["s"] for o in ops)
    rows = sum(o["rows"] for o in ops)
    passes = {}
    for o in ops:
        passes.setdefault(o.get("pass", 0), []).append(o["s"])
    return {
        "cycle_p50_s": (median(cycle_s), "s"),
        "delta_rows_per_s": (rows / busy if busy else 0.0, "1/s"),
        "mix_geomean_s": (median([geomean(v) for v in passes.values()]), "s"),
        "queries_per_s": (len(ops) / busy if busy else 0.0, "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def dump_trace(spans, path: str) -> None:
    """Write the spans out at run end, one JSON object per line, each with
    its self time."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    own = self_times(spans)
    with open(path, "w") as f:
        for s in spans:
            rec = {k: v for k, v in s.items() if k != "job_intervals"}
            f.write(json.dumps({**rec, "self_s": own[s["id"]]}) + "\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"scdbench: {PACKAGE}/ not found next to scdbench/; run from the "
              "root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    run = Run(args, work)
    t0 = time.perf_counter()
    spark = start_spark()
    try:
        # The mix only reads, so its spans need no store walks.
        tracer = Tracer(spark, None if args.workload == "query_mix"
                        else os.path.join(work, "store"), bool(args.trace))
        if args.workload == "query_mix":
            setup_s, cy = query_workload(run, spark, tracer, t0)
        else:
            setup_s, cy = pipeline_workload(run, spark, tracer,
                                            PIPELINES[args.workload], t0)
        rss = peak_rss_mb(spark)
        if args.trace:
            import layers
            metrics = layers.per_layer(run, tracer, spark, cy)
            dump_trace(tracer.spans, os.path.join(
                HERE, "_work", "traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(run, setup_s, rss)
    finally:
        stop_spark(spark)
    print("scdbench: op seconds " + " ".join(f"{o['s']:.3f}" for o in run.ops),
          file=sys.stderr)
    for c in run.checks:
        print(f"scdbench: check failed: {c}", file=sys.stderr)
    if run.checks and args.workload != "query_mix":
        run.failed = run.attempted       # every write of the run is unverified
    shutil.rmtree(work, ignore_errors=True)
    out = {"correct": not run.checks and run.failed == 0,
           "attempted": run.attempted, "failed": run.failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
