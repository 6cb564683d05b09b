"""Metric names, units and directions; BENCHMARK.json lists the same
(test_gen.py checks that the two agree)."""

# End-to-end metrics: every workload reports every one. Throughput counts
# messages through the program mix (cel_msgs) or events through the sink
# (paged_stream); op_* time a Spark job of the mix or a micro-batch. Each
# operation repeats once per pass and counts with its median over the
# passes. See README.md.
END_TO_END = [
    {"name": "throughput_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "op_geomean_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "retained_heap_mb", "unit": "MB", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]

# The query mix of the traced paged_stream run. Each is checked against
# its DuckDB oracle in every traced run, so only
# queries whose oracle runs in well under a second on the fixture
# qualify (see README.md for the ones left out).
QUERIES = ["q01_groupby_agg", "q85_sessionize", "q113_range_join",
           "q122_cms_heavy_hitters", "q188_gini_concentration"]

LAYERS = ["graft.cel", "graft.values", "graft.functions", "graft.sources",
          "graft.streaming", "graft.queries", "graft.Checkpoints", "exec"]


def _m(name, unit, better="lower"):
    return {"name": name, "unit": unit, "better": better}


# Per-layer metrics (traced run). A layer the workload does not exercise
# reads 0.
PER_LAYER = [
    _m("cel.decode_us", "us"),
    _m("cel.eval_us", "us"),
    _m("cel.render_us", "us"),
    _m("cel.compile_ms", "ms"),
    _m("cel.lowered_share", "share", "higher"),
    _m("cel.page_us", "us"),
    _m("cel.interp_msgs_per_s", "1/s", "higher"),
    _m("cel.auto_msgs_per_s", "1/s", "higher"),
    _m("functions.docfn_msgs_per_s", "1/s", "higher"),
    _m("values.parse_us", "us"),
    _m("values.render_us", "us"),
    _m("expressions.variant_chain_s", "s"),
    _m("sources.fetch_ms", "ms"),
    _m("sources.fetch_failed", "count"),
    _m("streaming.batches", "count", "higher"),
    _m("streaming.batch_p90_ms", "ms"),
    _m("streaming.plan_ms", "ms"),
    _m("streaming.add_batch_ms", "ms"),
    _m("streaming.commit_ms", "ms"),
    _m("streaming.state_rows", "count"),
    _m("streaming.state_mb", "MB"),
    _m("streaming.state_ms", "ms"),
    _m("streaming.late_dropped", "count"),
    _m("streaming.overhead_share", "share"),
    _m("exec.task_s", "s"),
    _m("exec.cpu_s", "s"),
    _m("exec.gc_s", "s"),
    _m("exec.tasks", "count"),
    _m("exec.jobs", "count"),
    _m("exec.idle_share", "share"),
    _m("exec.shuffle_write_mb", "MB"),
    _m("exec.shuffle_read_mb", "MB"),
    _m("exec.spill_mb", "MB"),
    _m("exec.plan_ms", "ms"),
] + [_m(f"queries.{q}_s", "s") for q in QUERIES] + [
    _m("checkpoints.live_rdds", "count"),
    _m("checkpoints.drain_ms", "ms"),
    _m("checkpoints.leak_mb", "MB"),
] + [_m(f"{layer}.self_s", "s") for layer in LAYERS]
