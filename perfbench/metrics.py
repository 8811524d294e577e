"""Every metric the benchmark prints, with the end-to-end metric and the
workloads each per-layer metric is expected to move.

``BENCHMARK.json`` declares the same names and units; the benchmark's
tests keep the two in step.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.queries import KINDS

ALL = ("build", "incremental", "query", "convert")
EXTRACTING = ("build", "incremental")
CONVERTING = ("build", "convert")
# a traced build probes the SPARQL layer over its squished output
QUERYING = ("build", "query")


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    moves: str = ""  # end-to-end metric this layer metric should move
    workloads: tuple[str, ...] = ALL


END_TO_END = (
    Metric("setup_s", "s", "lower"),
    Metric("job_p50_s", "s", "lower"),
    Metric("triples_per_s", "1/s", "higher"),
)


def _m(name, unit, better, moves, workloads=ALL):
    return Metric(name, unit, better, moves, workloads)


PER_LAYER = (
    _m("session.start_s", "s", "lower", "setup_s"),
    _m("session.warmup_s", "s", "lower", "setup_s"),
    _m("setup.generate_s", "s", "lower", "setup_s"),
    # summed over the process tree; too variable run to run to gate on
    _m("peak_rss_mb", "MB", "lower", "setup_s"),
    # extractor kernels, direct calls in the benchmark process
    _m("extract.parse_html_us", "us", "lower", "triples_per_s", EXTRACTING),
    _m("extract.rdfa_walk_us", "us", "lower", "triples_per_s", EXTRACTING),
    _m("extract.text_strip_us", "us", "lower", "triples_per_s", EXTRACTING),
    _m("extract.mentions_us", "us", "lower", "triples_per_s", EXTRACTING),
    # extract_triples_df into a noop sink
    _m("extract.stage_s", "s", "lower", "triples_per_s", EXTRACTING),
    _m("extract.cpu_s", "s", "lower", "triples_per_s", EXTRACTING),
    _m("extract.tasks", "count", "lower", "triples_per_s", EXTRACTING),
    _m("extract.triples_out", "count", "higher", "triples_per_s", EXTRACTING),
    # KgPipeline.run, per call (one commit); manifest rows are those
    # one call appends
    _m("pipeline.run_s", "s", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.run_self_s", "s", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.run_jobs", "count", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.run_stages", "count", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.input_mb", "MB", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.shuffle_write_mb", "MB", "lower", "job_p50_s", EXTRACTING),
    _m("pipeline.scan_amplification", "ratio", "lower", "job_p50_s", EXTRACTING),
    _m("manifest.done_buckets_s", "s", "lower", "job_p50_s", EXTRACTING),
    _m("manifest.record_s", "s", "lower", "job_p50_s", EXTRACTING),
    _m("manifest.rows", "count", "lower", "job_p50_s", EXTRACTING),
    # KgPipeline.materialize and the layers it calls
    _m("pipeline.materialize_s", "s", "lower", "triples_per_s", ("build",)),
    _m("pipeline.squish_shuffle_mb", "MB", "lower", "triples_per_s", ("build",)),
    _m("dedup.entity_mapping_s", "s", "lower", "triples_per_s", ("build",)),
    _m("dedup.entities", "count", "lower", "triples_per_s", ("build",)),
    _m("dedup.merge_ratio", "ratio", "higher", "triples_per_s", ("build",)),
    _m("ntriples.write_s", "s", "lower", "triples_per_s", ("build",)),
    # the rdf tool's conversion path; a traced build probes it too
    _m("ntriples.parse_s", "s", "lower", "triples_per_s", CONVERTING),
    _m("ntriples.parse_errors", "count", "lower", "triples_per_s", CONVERTING),
    _m("sinks.turtle_write_s", "s", "lower", "triples_per_s", CONVERTING),
    _m("sinks.blocks", "count", "lower", "triples_per_s", CONVERTING),
    # SPARQL: sparql_select builds the plan (compile), collect runs it (exec)
    *(
        _m(f"sparql.{kind}.{phase}_s", "s", "lower", "job_p50_s", QUERYING)
        for kind in KINDS
        for phase in ("compile", "exec")
    ),
    _m("sparql.jobs_per_query", "count", "lower", "job_p50_s", QUERYING),
    _m("sparql.tasks_per_query", "count", "lower", "job_p50_s", QUERYING),
    # Spark task totals per traced job
    _m("spark.gc_s", "s", "lower", "job_p50_s"),
    _m("spark.spill_mb", "MB", "lower", "job_p50_s"),
    _m("spark.scheduler_delay_s", "s", "lower", "job_p50_s"),
    _m("spark.failed_tasks", "count", "lower", "job_p50_s"),
    # tails: the highest percentile with at least ten samples beyond it
    _m("latency.job_tail_s", "s", "lower", "job_p50_s"),
    _m("latency.job_tail_pct", "%", "higher", "job_p50_s"),
    _m("latency.jobs", "count", "higher", "job_p50_s"),
    # a step is one commit of incremental, else the whole job
    _m("latency.step_p50_s", "s", "lower", "job_p50_s"),
    _m("latency.step_tail_s", "s", "lower", "job_p50_s"),
    _m("latency.step_tail_pct", "%", "higher", "job_p50_s"),
    _m("latency.steps", "count", "higher", "job_p50_s"),
    # cost of the tracing itself
    _m("trace.job_p50_s", "s", "lower", "job_p50_s"),
    _m("trace.overhead_frac", "ratio", "lower", "job_p50_s"),
    _m("trace.spans", "count", "lower", "job_p50_s"),
    # output checks
    _m("check.precision", "ratio", "higher", "triples_per_s", EXTRACTING),
    _m("check.recall", "ratio", "higher", "triples_per_s", EXTRACTING),
    _m("check.error_rate", "ratio", "lower", "job_p50_s"),
)
