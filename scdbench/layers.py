"""Per-layer metrics of a traced run, named after the engine's modules.

A *unit* is one timed op on the pipeline workloads (a run_cycle and the
maintenance tick after it, when due) and one full pass of the mix on
query_mix. Each metric is the median over units of its per-unit value,
except where noted. Counts come from the Spark jobs that ran under the
span's job group (see probe.py)."""

from __future__ import annotations

import statistics

from probe import driver_seconds, inclusive

STORE_READS = ("store.read", "store.read_buckets", "store.read_changes",
               "store.history_df", "store.read_master", "store.read_staging_version")
COMMITS = ("store.commit", "store.commit_buckets", "store.commit_append")
SPARK = {"jobs": "jobs", "stages": "stages", "skipped_stages": "skipped_stages",
         "tasks": "tasks", "input_bytes": "input_bytes",
         "shuffle_read_bytes": "shuffle_read_bytes",
         "shuffle_write_bytes": "shuffle_write_bytes"}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class _Index:
    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)
        self.inc = {k: inclusive(spans, k) for k in
                    (*SPARK.values(), "spill_memory_bytes", "spill_disk_bytes",
                     "executor_run_ms", "gc_ms")}

    def below(self, root: dict):
        """``root`` and its descendants."""
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s["id"], ()))
        return out

    def total(self, roots, key: str) -> float:
        return sum(self.inc[key][r["id"]] for r in roots)


def _outermost(spans, names, idx) -> list[dict]:
    """Spans named in ``names`` that have no ancestor named in ``names``."""
    by_id = idx.by_id
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] not in names:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def per_layer(run, tracer, spark, cy) -> dict:
    idx = _Index(tracer.spans)
    if run.args.workload == "query_mix":
        units: dict[int, list[dict]] = {}
        for o in run.ops:
            units.setdefault(o["pass"], []).append(o["span"])
        units = list(units.values())
    else:
        units = [[o["cycle"]] + ([o["maintenance"]] if "maintenance" in o else [])
                 for o in run.ops if "cycle" in o]

    vals: dict[str, list[float]] = {}

    def add(name, v):
        vals.setdefault(name, []).append(v)

    for roots in units:
        spans = [s for r in roots for s in idx.below(r)]
        named = lambda *ns: [s for s in spans if s["name"] in ns]  # noqa: E731
        task3 = named("task3_merge_landing")
        scd2 = named("task4_scd2_merge", "task5_refresh_master")
        queries = [r for r in roots if r.get("kind") == "query"]
        add("operators.merge.jobs", idx.total(task3, "jobs"))
        add("operators.scd2.jobs", idx.total(scd2, "jobs"))
        add("operators.merge.shuffle_bytes", idx.total(task3, "shuffle_write_bytes"))
        add("operators.scd2.shuffle_bytes", idx.total(scd2, "shuffle_write_bytes"))
        add("operators.merge.merge_upsert_s", sum(s["dur"] for s in task3))
        add("operators.scd2.merge_from_stream_s",
            sum(s["dur"] for s in named("task4_scd2_merge")))
        add("operators.scd2.refresh_master_s",
            sum(s["dur"] for s in named("task5_refresh_master")))
        add("sources.csv.copy_into_s",
            sum(s["dur"] for s in named("task2_copy_into_raw")))
        add("store.commit_s", sum(s["dur"] for s in _outermost(spans, COMMITS, idx)))
        add("store.read_s", sum(s["dur"] for s in _outermost(spans, STORE_READS, idx)))
        written = sum(r.get("bytes_written", 0) for r in roots)
        staged = sum(r.get("staged_bytes", 0) for r in roots)
        add("store.bytes_written", written)
        add("store.write_amp", written / staged if staged else 0.0)
        add("store.buckets_rewritten", sum(r.get("buckets_written", 0) for r in roots))
        for k in ("jobs", "tasks", "input_bytes"):
            add(f"queries.{k}", idx.total(queries, k))
        add("queries.shuffle_bytes", idx.total(queries, "shuffle_write_bytes"))
        add("queries.driver_s", sum(driver_seconds(idx.spans, q) for q in queries))
        for k, key in SPARK.items():
            add(f"spark.{k}", idx.total(roots, key))
        add("spark.spill_bytes", idx.total(roots, "spill_memory_bytes")
            + idx.total(roots, "spill_disk_bytes"))
        add("spark.executor_run_s", idx.total(roots, "executor_run_ms") / 1e3)
        add("spark.gc_s", idx.total(roots, "gc_ms") / 1e3)
        add("spark.driver_s", sum(driver_seconds(idx.spans, r) for r in roots))

    ticks = [[s for s in idx.below(o["maintenance"]) if s["name"] == "store.compact"]
             for o in run.ops if "maintenance" in o]
    out = {k: _median(v) for k, v in vals.items()}
    out["store.compact_s"] = _median([sum(s["dur"] for s in t) for t in ticks])
    out["store.compact_bytes_rewritten"] = _median(
        [sum(s.get("bytes_written", 0) for s in t) for t in ticks])
    # Totals over the timed region, not medians.
    out["operators.merge.occ_retries"] = sum(
        1 for roots in units for r in roots for s in idx.below(r)
        if s["name"] in COMMITS and s.get("error") == "ConcurrentCommitError")
    out["store.live_files"] = live_files(spark, cy)
    out["trace.op_p50_s"] = _median([o["s"] for o in run.ops if "s" in o])
    out["trace.probe_s"] = run.probe_s / max(1, len(run.ops))
    return {k: (float(v), UNITS[k]) for k, v in out.items()}


def live_files(spark, cy) -> int:
    """Parquet files behind the current LANDING, STAGING and MASTER: what a
    read of the store opens."""
    from slowly_changing_dimensions_data_engineering_spark.pipeline import (
        LANDING, MASTER, STAGING)
    store = cy.pipe.store
    return sum(len(store.read(spark, t).inputFiles())
               for t in (LANDING, STAGING, MASTER))


UNITS = {
    "operators.merge.jobs": "count", "operators.scd2.jobs": "count",
    "operators.merge.shuffle_bytes": "bytes", "operators.scd2.shuffle_bytes": "bytes",
    "operators.merge.merge_upsert_s": "s", "operators.scd2.merge_from_stream_s": "s",
    "operators.scd2.refresh_master_s": "s", "operators.merge.occ_retries": "count",
    "sources.csv.copy_into_s": "s",
    "store.commit_s": "s", "store.read_s": "s", "store.bytes_written": "bytes",
    "store.write_amp": "ratio", "store.buckets_rewritten": "count",
    "store.compact_s": "s", "store.compact_bytes_rewritten": "bytes",
    "store.live_files": "count",
    "queries.jobs": "count", "queries.tasks": "count", "queries.input_bytes": "bytes",
    "queries.shuffle_bytes": "bytes", "queries.driver_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.skipped_stages": "count",
    "spark.tasks": "count", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.driver_s": "s", "trace.op_p50_s": "s", "trace.probe_s": "s",
}
