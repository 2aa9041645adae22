"""The benchmark's metric registry: every metric it prints, with its unit
and which direction is better. BENCHMARK.json lists the same metrics (a
test keeps the two in step)."""
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

WORKLOADS = ["wordcount", "ship", "query_mix", "stream"]

# (name, unit, better, bound). Every workload prints every one of these
# with tracing off; see spec.json for what each means per workload.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("mb_per_s", "MB/s", "higher", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("write_amp", "ratio", "lower", 0.1),
]

OPERATOR_MODULES = ["TextAnalytics", "Dedup", "Similarity", "Graph", "Pipeline",
                    "Relational", "Events", "DataQuality", "Media"]
PRODUCTS = ["knngraph", "navgraph", "cclabels", "cosupply", "jacpairs",
            "contpairs", "dedupcc"]
TWINS = ["dedup", "neardup", "pack_offsets"]
TWIN_METRICS = [("rows_per_s", "1/s", "higher"), ("triggers", "count", "lower"),
                ("addBatch_ms", "ms", "lower"), ("queryPlanning_ms", "ms", "lower"),
                ("walCommit_ms", "ms", "lower"), ("state_rows", "count", "lower"),
                ("state_mb", "MB", "lower"), ("state_commit_ms", "ms", "lower")]


def _per_layer():
    m = [("ArtifactCache.builds", "count", "lower"),
         ("ArtifactCache.build_s", "s", "lower")]
    m += [(f"ArtifactCache.build_s.{p}", "s", "lower") for p in PRODUCTS]
    m += [("ArtifactCache.disk_mb", "MB", "lower")]
    for mod in OPERATOR_MODULES:
        m += [(f"{mod}.construct_s", "s", "lower"), (f"{mod}.construct_jobs", "count", "lower"),
              (f"{mod}.exec_s", "s", "lower"), (f"{mod}.exec_jobs", "count", "lower")]
    m += [("Tables.input_mb", "MB", "lower"), ("Tables.input_records", "count", "lower"),
          ("Tables.scan_task_s", "s", "lower"),
          ("shuffle.write_mb", "MB", "lower"), ("shuffle.read_mb", "MB", "lower"),
          ("shuffle.fetch_wait_s", "s", "lower"),
          ("spark.plan_s", "s", "lower"), ("spark.jobs", "count", "lower"),
          ("spark.stages", "count", "lower"), ("spark.tasks", "count", "lower"),
          ("spark.driver_gap_s", "s", "lower"), ("spark.task_s", "s", "lower"),
          ("spark.cpu_s", "s", "lower"), ("spark.task_skew", "ratio", "lower"),
          ("spark.unattributed_jobs", "count", "lower"),
          ("bench.clear_cache_s", "s", "lower"),
          ("Ship.frame_s", "s", "lower"), ("Ship.write_s", "s", "lower"),
          ("Ship.files_out", "count", "lower"), ("Report.tsv_s", "s", "lower"),
          ("spill.mb", "MB", "lower"), ("gc.s", "s", "lower"),
          ("cache.peak_mb", "MB", "lower"), ("cache.unpersists", "count", "lower"),
          ("Dedup.planted_exact_removed", "count", "higher"),
          ("Dedup.planted_exact_base", "count", "higher"),
          ("Dedup.planted_near_removed", "count", "higher"),
          ("Dedup.planted_near_base", "count", "higher")]
    for twin in TWINS:
        m += [(f"TextStreams.{twin}.{k}", u, b) for k, u, b in TWIN_METRICS]
    m += [("TextStreams.pack_offsets.recovery_s", "s", "lower"),
          ("bench.session_s", "s", "lower"), ("bench.warmup_s", "s", "lower"),
          ("bench.inputgen_s", "s", "lower"), ("bench.evict_s", "s", "lower"),
          ("bench.ops", "count", "higher"), ("bench.fail_ratio", "ratio", "lower"),
          ("jvm.rss_peak_mb", "MB", "lower"),
          ("trace.overhead_s", "s", "lower"), ("trace.uncovered_s", "s", "lower")]
    return m


PER_LAYER = _per_layer()


def units(trace):
    """name -> unit of the metrics a run prints."""
    if trace:
        return {n: u for n, u, _ in PER_LAYER}
    return {n: u for n, u, _, _ in END_TO_END}


def benchmark_json():
    """The BENCHMARK.json document this registry describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": w, "why": WHY[w]} for w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


WHY = {
    "wordcount": "reference word count: scan, tokenize and one shuffle carry all the work, with no products and no driver iteration",
    "ship": "corpus ship on a fresh corpus with planted copies: Dedup pair core, components rounds, product builds and split Parquet writes",
    "query_mix": "cold then warm pass over graph/ANN queries that build products and short oracle-checked queries with fixed per-query cost",
    "stream": "staged backlog drained by three streaming twins, then the packing twin stopped at a fixed trigger and resumed",
}
