"""Workload and metric definitions shared by run.py, the tests and
BENCHMARK.json (`python3 perfbench/workloads.py` prints the latter)."""

# The ops each workload runs. `refq` and `mixed` are what BENCHMARK.json
# lists: a fresh JVM's warm-up costs each run 30-40 s, so the full op lists
# (`refq_all`, `curate`, `ingest`, runnable by hand) do not fit the
# benchmark's time budget with two warm passes per run.
REFQ_OPS = [
    "q1_topmonths", "q1_csv", "q1_sql", "q1_typed",
    "q2_buckets", "q2_csv", "q2_sql",
    "q3_joinchain", "q3_hint_broadcast", "q3_hint_merge",
    "q4_distance", "q4_distance_cogroup"]
REFQ_ALL_OPS = REFQ_OPS + [
    "q2_typed", "q3_csv", "q3_hint_shuffle_hash", "q4_csv", "q4_distance_sql",
    "q4_distance_bcastvar"]
MIXED_OPS = [
    "dedup_pipeline", "dedup_substring", "sim_topk_batch",
    "text_decontaminate", "etl_csv_schema", "stream_window_tumbling"]
CURATE_OPS = [
    "dedup_pipeline", "dedup_substring", "dedup_semantic", "sim_topk_pq",
    "sim_topk_batch", "text_decontaminate", "text_curation_funnel"]
INGEST_OPS = [
    "etl_csv_infer", "etl_csv_schema",
    "stream_window_tumbling", "stream_cdc_upsert", "stream_incremental_sink",
    "stream_minhash_index", "stream_dedup_redelivery"]
CSV_TWINS = ["csv:lineitem", "csv:events", "csv:orders", "csv:customer",
             "csv:nation"]

# star: how many disjoint key-shifted copies of the sf0.01 star schema and
# events the seed picks (lineitem: 60k rows each); text: how many copies of
# documents and embeddings (500 rows each); fixtures: the format twins the
# ops read, built (and timed) at set-up
WORKLOADS = {
    "refq": {
        "ops": REFQ_OPS, "star": 1, "text": 1,
        "fixtures": ["csv:lineitem", "csv:events"],
        "why": "Q1-Q4 of the reference over the DataFrame, SQL and typed "
               "APIs, parquet and CSV, join hints; bound by per-query "
               "overhead (planner, job count), not by kernels."},
    "mixed": {
        "ops": MIXED_OPS, "star": 1, "text": 8,
        "fixtures": ["csv:lineitem"],
        "why": "data-bound: curation operators on 4k docs and vectors "
               "(shuffle, eager star-CC rounds, minhash, poly-hash, cosine "
               "kernels) plus the write path (partitioned ETL, a stateful "
               "stream)."},
    "refq_all": {
        "ops": REFQ_ALL_OPS, "star": 1, "text": 1, "fixtures": CSV_TWINS,
        "why": "Q1-Q4 in every API variant and both formats."},
    "curate": {
        "ops": CURATE_OPS, "star": 1, "text": 4, "fixtures": [],
        "why": "the LLM-data curation operators."},
    "ingest": {
        "ops": INGEST_OPS, "star": 1, "text": 1,
        "fixtures": ["csv:lineitem"],
        "why": "the write path: ETL and micro-batch streams."},
}
BENCHMARK_WORKLOADS = ["refq", "mixed"]


def module_of(op):
    """The repo module an op's build and sink time belong to."""
    if op.startswith("etl_"):
        return "sources"
    if op.startswith("stream_"):
        return "streaming"
    if op.startswith("q"):
        return "RefQueries"
    if op.startswith("sim_") or op == "dedup_semantic":
        return "Similarity"
    if op.startswith("dedup_"):
        return "Dedup"
    if op.startswith("text_"):
        return "TextAnalysis"
    raise ValueError(op)


ALL_OPS = REFQ_ALL_OPS + CURATE_OPS + INGEST_OPS
MODULES = ["RefQueries", "Dedup", "Similarity", "TextAnalysis", "streaming"]
LAYERS = ["bench", "sources", "planner", "exec", "streaming",
          "RefQueries", "Dedup", "Similarity", "TextAnalysis"]

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_geomean_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
]

# (name, unit, better); every traced run reports all of them, 0 where a
# layer has no work in the workload
PER_LAYER = (
    [("sources.bytes_read", "bytes", "lower"),
     ("sources.rows_read", "rows", "lower"),
     ("sources.bytes_written", "bytes", "lower"),
     ("sources.rows_written", "rows", "lower"),
     ("sources.files_written", "count", "lower"),
     ("sources.etl_s", "s", "lower"),
     ("sources.fixture_s", "s", "lower"),
     ("planner.queries", "count", "lower"),
     ("planner.analysis_s", "s", "lower"),
     ("planner.optimization_s", "s", "lower"),
     ("planner.planning_s", "s", "lower"),
     ("planner.share", "ratio", "lower"),
     ("exec.jobs", "count", "lower"),
     ("exec.stages", "count", "lower"),
     ("exec.tasks", "count", "lower"),
     ("exec.task_run_s", "s", "lower"),
     ("exec.task_cpu_s", "s", "lower"),
     ("exec.task_deser_s", "s", "lower"),
     ("exec.gc_s", "s", "lower"),
     ("exec.driver_only_s", "s", "lower"),
     ("exec.busy_share", "ratio", "higher"),
     ("exec.task_cpu_share", "ratio", "higher"),
     ("shuffle.bytes_written", "bytes", "lower"),
     ("shuffle.bytes_read", "bytes", "lower"),
     ("shuffle.records_written", "count", "lower"),
     ("shuffle.write_s", "s", "lower"),
     ("shuffle.spill_bytes", "bytes", "lower")]
    + [(f"{m}.{k}", u, "lower") for m in MODULES
       for k, u in (("build_s", "s"), ("sink_s", "s"), ("jobs", "count"))]
    + [("streaming.batches", "count", "lower"),
       ("streaming.empty_batches", "count", "lower"),
       ("streaming.rows_in", "rows", "lower"),
       ("streaming.add_batch_s", "s", "lower"),
       ("streaming.wal_commit_s", "s", "lower"),
       ("streaming.commit_offsets_s", "s", "lower"),
       ("streaming.query_planning_s", "s", "lower"),
       ("streaming.state_rows", "rows", "lower"),
       ("streaming.state_mem_mb", "MB", "lower"),
       ("streaming.batch_p50_ms", "ms", "lower"),
       ("streaming.batch_p90_ms", "ms", "lower"),
       ("jvm.gc_s", "s", "lower"),
       ("jvm.jit_s", "s", "lower"),
       ("jvm.jit_cold_s", "s", "lower"),
       ("jvm.heap_peak_mb", "MB", "lower"),
       ("jvm.rss_peak_mb", "MB", "lower"),
       ("op_p50_s", "s", "lower"),
       ("op_p90_s", "s", "lower")]
    + [(f"{layer}.self_s", "s", "lower") for layer in LAYERS]
    + [("trace.overhead_s", "s", "lower"),
       ("trace.spans", "count", "lower"),
       ("fail_ratio", "ratio", "lower")]
    + [(f"op.{op}.s", "s", "lower") for op in ALL_OPS])


def benchmark_json():
    """The contents of BENCHMARK.json, built from the lists above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": w, "why": WORKLOADS[w]["why"]}
                      for w in BENCHMARK_WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    import json
    print(json.dumps(benchmark_json(), indent=1))
