"""Per-layer metrics of a traced run, and the end-to-end metric each should
move on which workload (see BENCHMARK.json for names and units).

The harness records, for every traced root operation, the self time of each
layer span and the Spark work attributed to it. summarize() reports the mean
per traced operation over the run, plus the same per operation kind, which
diff.py compares between two result files.
"""
import math
import statistics

MODULES = ["IndexRead", "KeyProbe", "Mutations", "Similarity", "TermStats",
           "Dedup", "Clustering", "Bpe", "Curation"]

# name -> (unit, better, end-to-end metric it should move, on workload,
#          predicted flat on)
LAYERS = {}
for m in MODULES:
    LAYERS[f"operators.{m}.construct_ms"] = ("ms", "lower", "pass_s", "pipeline_cold", "serve")
    LAYERS[f"operators.{m}.construct_jobs"] = ("count", "lower", "pass_s", "pipeline_cold", "serve")
for name, unit, moves, on, flat in [
        ("catalyst.plan_ms", "ms", "request_p50_ms", "serve", "pipeline_cold"),
        ("tables.load_ms", "ms", "request_p50_ms", "serve", "pipeline_cold"),
        ("filters.compile_us", "us", "request_p50_ms", "serve", "pipeline_cold"),
        ("spark.jobs", "count", "request_p50_ms", "serve", "maintain"),
        ("spark.stages", "count", "request_p50_ms", "serve", "maintain"),
        ("spark.tasks", "count", "pass_s", "pipeline_cold", "maintain"),
        ("spark.single_task_stage_ratio", "ratio", "pass_s", "pipeline_cold", "maintain"),
        ("spark.task_sched_delay_ms", "ms", "request_p50_ms", "serve", "maintain"),
        ("spark.busy_ratio", "ratio", "pass_s", "pipeline_cold", "maintain"),
        ("spark.exec_ms", "ms", "pass_s", "pipeline_cold", "serve"),
        ("spark.executor_cpu_ms", "ms", "pass_s", "pipeline_cold", "serve"),
        ("spark.executor_offcpu_ms", "ms", "pass_s", "pipeline_cold", "serve"),
        ("catalyst.exchanges", "count", "pass_s", "pipeline_cold", "serve"),
        ("spark.shuffle_read_bytes", "bytes", "pass_s", "pipeline_cold", "serve"),
        ("spark.shuffle_write_bytes", "bytes", "pass_s", "pipeline_cold", "serve"),
        ("spark.gc_ms", "ms", "heap_peak_mb", "pipeline_cold", "serve"),
        ("spark.spill_mem_bytes", "bytes", "heap_peak_mb", "pipeline_cold", "serve"),
        ("spark.spill_disk_bytes", "bytes", "heap_peak_mb", "pipeline_cold", "serve"),
        ("jvm.gc_ms", "ms", "heap_peak_mb", "pipeline_cold", "serve"),
        ("jvm.heap_after_gc_mb", "MB", "heap_peak_mb", "pipeline_cold", "serve"),
        ("lifecycle.append_jobs", "count", "append_p50_ms", "maintain", "serve"),
        ("lifecycle.fs_write_ops", "count", "append_p50_ms", "maintain", "serve"),
        ("lifecycle.fs_read_ops", "count", "append_p50_ms", "maintain", "serve"),
        ("lifecycle.files_created", "count", "append_p90_ms", "maintain", "serve"),
        ("lifecycle.files_deleted", "count", "space_amp", "maintain", "serve"),
        ("lifecycle.bytes_written", "bytes", "space_amp", "maintain", "serve"),
        ("lifecycle.replay_jobs", "count", "append_p50_ms", "maintain", "serve"),
        ("lifecycle.artifact_files", "count", "space_amp", "maintain", "serve"),
        ("lifecycle.artifact_bytes", "bytes", "space_amp", "maintain", "serve"),
        ("tables.artifact_ms", "ms", "probe_p50_ms", "maintain", "serve"),
        ("cache.tracked_handles", "count", "request_p50_ms", "serve", "pipeline_cold"),
        ("cache.release_ms", "ms", "request_p50_ms", "serve", "pipeline_cold")]:
    LAYERS[name] = (unit, "higher" if name == "spark.busy_ratio" else "lower", moves, on, flat)
LAYERS["trace.overhead_pct"] = ("%", "lower", "none: validates the trace", "all", "all")

# What traced pipeline_cold runs measure at the benchmark's scale (500
# documents, 200 vectors, 4 cores): each op is about 14 short jobs with the
# executors about 40% busy, about 0.2 MB of shuffle, no spill and little
# GC. So shuffle, spill and GC are expected to move pass_s only a little on
# it; they would weigh more at a scale that does not fit a run.
SMALL_ON_PIPELINE = {"spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                     "spark.spill_mem_bytes", "spark.spill_disk_bytes",
                     "spark.gc_ms", "jvm.gc_ms"}
MOVES = {k: {"moves": v[2], "on": v[3], "flat_on": v[4],
             **({"note": "small on pipeline_cold at this scale"}
                if k in SMALL_ON_PIPELINE else {})}
         for k, v in LAYERS.items()}

# counts that repeat exactly between runs of the same code; diff.py flags
# every increase in these
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "catalyst.exchanges",
         "lifecycle.fs_read_ops", "lifecycle.fs_write_ops", "lifecycle.files_created"]


def _mean(rows, name):
    vals = [r[name] for r in rows if name in r and math.isfinite(r[name])]
    return sum(vals) / len(vals) if vals else 0.0


def overhead_pct(ops):
    """Traced against untraced time, per operation kind (the run alternates
    them): the geometric mean of the per-kind median ratios, minus one."""
    ratios = []
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == kind and o["traced"] and not o["error"]]
        u = [o["ms"] for o in ops if o["kind"] == kind and not o["traced"] and not o["error"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    if not ratios:
        return 0.0
    return 100.0 * (math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1.0)


def summarize(rec):
    traced = [o for o in rec["ops"] if o["traced"] and not o["error"]]
    rows = [o["layers"] for o in traced]
    release = rec.get("release_ms")
    release = release if isinstance(release, list) else [release] if release is not None else []
    metrics = {}
    for name, (unit, *_rest) in LAYERS.items():
        if name == "trace.overhead_pct":
            v = overhead_pct(rec["ops"])
        elif name == "cache.release_ms":
            v = statistics.median(release) if release else 0.0
        elif name in ("lifecycle.artifact_files", "lifecycle.artifact_bytes") and "artifact_files" in rec:
            v = float(rec[name.split(".")[1]])
        else:
            v = _mean(rows, name)
        metrics[name] = {"value": v, "unit": unit}
    per_op = {}
    for kind in sorted({o["kind"] for o in traced}):
        kr = [o["layers"] for o in traced if o["kind"] == kind]
        per_op[kind] = {"n": len(kr), **{k: _mean(kr, k) for k in sorted({k for r in kr for k in r})}}
    return metrics, per_op
