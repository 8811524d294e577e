"""The benchmark's workloads, each driving argo_spark's public API.

* ``build``: one-shot bulk KG build (``KgPipeline.run`` + ``materialize``)
  — the north-star extraction path.
* ``incremental``: the same pages committed through resumable
  ``run(max_buckets=16)`` calls, then a no-op resume — the pipeline and
  manifest layers as many small writes and reads.
* ``query``: a closed loop of one client sending the seeded SPARQL mix
  of :mod:`perfbench.queries` over the squished graph; a job is one
  block of the mix, a request of each kind.
* ``convert``: the rdf tool's traffic, N-Triples dump → squished Turtle
  through ``cli.run_pipeline``.

Inputs come from ``synthesize_pages``/``expected_triples`` with the
run's seed. The warm-up job's output is checked in full, every timed
job's by its counts.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from argo_spark import cli
from argo_spark.extract.gazetteer import detect_mentions
from argo_spark.extract.html import extract_text_from_tree, parse_html
from argo_spark.extract.rdfa import extract_rdfa_tree, extract_triples_df
from argo_spark.extract.turtle import parse_turtle_col
from argo_spark.manifest import Manifest
from argo_spark.ntriples import read_ntriples, write_ntriples
from argo_spark.ops.dedup import entity_dedup_mapping, entity_surface_forms
from argo_spark.ops.sparql import sparql_select
from argo_spark.pages import expected_triples, gen_page, synthesize_pages
from argo_spark.pipeline import KgPipeline
from argo_spark.schema import TRIPLE_COLS
from argo_spark.sinks.writers import write_turtle
from argo_spark.terms import KIND_IRI

from perfbench import procs, queries
from perfbench.trace import Tracer

N_PAGES = 4000
N_BUCKETS = 64
BUCKETS_PER_COMMIT = 16
MIN_PRECISION_RECALL = 0.95
KERNEL_PAGES = 200
# a committed triple is checked with its provenance
CHECKED_COLS = TRIPLE_COLS + ["url"]


class CheckFailed(Exception):
    """A job's output differs from the expected output."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def checksum(df) -> tuple:
    """(rows, sum and xor of row hashes): equal for equal multisets of
    rows, so one aggregation compares a job's output with the golden."""
    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(1 << 31))), F.bit_xor(h)
    ).first()
    return tuple(row)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    n_pages: int
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class JobResult:
    seconds: float
    triples: int
    steps: list[float] = field(default_factory=list)


class Workload:
    """``generate`` writes the seeded inputs (it is repeated to time
    set-up); ``load`` opens them; ``job`` runs one job and checks its
    output, in full when ``full_check`` (the first warm-up job) and by its
    counts otherwise; ``probes`` adds the per-layer calls of a traced
    run."""

    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.layer: dict[str, float] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def job(self, tag: str, full_check: bool) -> JobResult:
        raise NotImplementedError

    def probes(self) -> None:
        pass

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# build / incremental
# ---------------------------------------------------------------------------


class _TracedManifest(Manifest):
    """The pipeline's manifest with a span around each call."""

    def __init__(self, inner: Manifest, span):
        self.__dict__.update(inner.__dict__)
        self._span = span

    def done_buckets(self) -> list[int]:
        with self._span("manifest.done_buckets"):
            return super().done_buckets()

    def record(self, stats, run_id: str) -> None:
        with self._span("manifest.record"):
            super().record(stats, run_id)


class Build(Workload):
    name = "build"

    def generate(self) -> None:
        synthesize_pages(self.spark, self.ctx.n_pages, self.ctx.seed).write.mode(
            "overwrite"
        ).parquet(self.ctx.path("pages"))

    def load(self) -> None:
        self.pages = self.spark.read.parquet(self.ctx.path("pages"))
        self.golden = expected_triples(self.spark, self.ctx.n_pages, self.ctx.seed).select(*CHECKED_COLS)
        self.golden_sum = checksum(self.golden)
        self.n_triples = None
        self.last_out = ""
        # pages scanned and extracted by each traced run() call
        self.scanned: list[int] = []
        self.extracted: list[int] = []

    def _pipeline(self, tag: str) -> KgPipeline:
        self.last_out = self.ctx.path(f"job-{tag}")
        pipe = KgPipeline(self.spark, self.last_out, N_BUCKETS)
        if self.ctx.tracer.enabled:
            pipe.manifest = _TracedManifest(pipe.manifest, self.span)
        return pipe

    def _run(self, pipe: KgPipeline, max_buckets=None):
        """One ``KgPipeline.run`` call; traced calls also count the pages
        the call scans (an observation on the source frame)."""
        obs = None
        pages = self.pages
        if self.ctx.tracer.enabled:
            obs = Observation()
            pages = pages.observe(obs, F.count(F.lit(1)).alias("n"))
        with self.span("pipeline.run"):
            stats = pipe.run(pages, max_buckets=max_buckets)
        if obs is not None and stats.n_buckets_processed:
            self.scanned.append(obs.get["n"])
            self.extracted.append(stats.n_pages)
        return stats

    def job(self, tag: str, full_check: bool) -> JobResult:
        pipe = self._pipeline(tag)
        t0 = time.perf_counter()
        with self.span("job"):
            stats = self._run(pipe)
            with self.span("pipeline.materialize"):
                pipe.materialize(pipe.out + "/nt", pipe.out + "/squished")
        seconds = time.perf_counter() - t0
        self._check(pipe, stats.n_triples, full_check, exact=False)
        if full_check:
            squished = self.spark.read.parquet(pipe.out + "/squished").count()
            nt_lines = self.spark.read.text(pipe.out + "/nt").count()
            expect(0 < squished == nt_lines, f"materialize: {squished} squished rows, {nt_lines} NT lines")
        return JobResult(seconds, stats.n_triples, [seconds])

    def _check(self, pipe: KgPipeline, n_triples: int, full_check: bool, exact: bool) -> None:
        """Every job commits as many triples as the warm-up job. That
        one is checked in full: one manifest row per bucket, whose
        counts add up to the committed table, and the table against
        ``expected_triples(seed)``."""
        if full_check:
            self.n_triples = n_triples
        expect(n_triples == self.n_triples, f"committed {n_triples} triples, warm-up {self.n_triples}")
        if not full_check:
            return
        rows = pipe.manifest.read().select("bucket", "n_triples").collect()
        expect(
            sorted(r.bucket for r in rows) == list(range(N_BUCKETS)),
            f"manifest: {len(rows)} rows for {N_BUCKETS} buckets",
        )
        got = pipe.triples().select(*CHECKED_COLS)
        got_sum = checksum(got)
        manifest_n = sum(r.n_triples for r in rows)
        expect(manifest_n == got_sum[0], f"manifest counts {manifest_n} triples, table has {got_sum[0]}")
        if got_sum == self.golden_sum:
            precision = recall = 1.0
        else:
            tp = got.intersectAll(self.golden).count()
            precision, recall = tp / max(got_sum[0], 1), tp / self.golden_sum[0]
        self.layer["check.precision"], self.layer["check.recall"] = precision, recall
        expect(not exact or got_sum == self.golden_sum, f"output differs from golden: P={precision} R={recall}")
        expect(
            min(precision, recall) >= MIN_PRECISION_RECALL,
            f"P/R below {MIN_PRECISION_RECALL}: P={precision} R={recall}",
        )

    def _extract_probes(self) -> None:
        self._kernel_probe()
        self._extract_probe()
        if self.scanned:
            self.layer["pipeline.scan_amplification"] = sum(self.scanned) / sum(self.extracted)

    def probes(self) -> None:
        self._extract_probes()
        last = KgPipeline(self.spark, self.last_out, N_BUCKETS)
        triples = last.triples()
        with self.span("dedup.entity_mapping"):
            merged = entity_dedup_mapping(triples).count()
        entities = entity_surface_forms(triples).select("entity").distinct().count()
        self.layer["dedup.entities"] = entities
        self.layer["dedup.merge_ratio"] = merged / entities if entities else 0.0
        squished = self.spark.read.parquet(last.out + "/squished").select(*TRIPLE_COLS)
        with self.span("ntriples.write"):
            write_ntriples(squished, self.ctx.path("probe-nt"))
        _conversion_probes(self, last.out + "/nt", squished)
        # the SPARQL layer over the build's own squished graph
        query = Query(self.ctx)
        query.open(last.out + "/squished")
        query.probes()
        query.close()

    def _kernel_probe(self) -> None:
        """µs per page of each extractor kernel, called directly on
        seeded pages: no Spark scheduling in the figure."""
        pages = [gen_page(i, self.ctx.seed) for i in range(KERNEL_PAGES)]
        docs = [(p[0], f"{p[0]}\x1f{p[1]}", p[2].decode("utf-8")) for p in pages]
        roots = [parse_html(html) for _, _, html in docs]
        texts = [extract_text_from_tree(r) for r in roots]
        kernels = {
            "parse_html": lambda: [parse_html(html) for _, _, html in docs],
            "rdfa_walk": lambda: [extract_rdfa_tree(r, u, k) for r, (u, k, _) in zip(roots, docs)],
            "text_strip": lambda: [extract_text_from_tree(r) for r in roots],
            "mentions": lambda: [detect_mentions(t) for t in texts],
        }
        for name, fn in kernels.items():
            reps = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn()
                reps.append(time.perf_counter() - t0)
            self.layer[f"extract.{name}_us"] = statistics.median(reps) / KERNEL_PAGES * 1e6

    def _extract_probe(self) -> None:
        obs = Observation()
        cpu0 = procs.tree_cpu_s(os.getpid())
        with self.span("extract.stage"):
            extract_triples_df(self.pages).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.format("noop").mode("overwrite").save()
        self.layer["extract.cpu_s"] = procs.tree_cpu_s(os.getpid()) - cpu0
        self.layer["extract.triples_out"] = obs.get["n"]


class Incremental(Build):
    name = "incremental"

    def job(self, tag: str, full_check: bool) -> JobResult:
        pipe = self._pipeline(tag)
        commits, triples = [], 0
        t0 = time.perf_counter()
        with self.span("job"):
            # one call per commit, then the no-op resume that finds no
            # pending bucket; the bound stops a resume that never ends
            for _ in range(N_BUCKETS // BUCKETS_PER_COMMIT + 1):
                c0 = time.perf_counter()
                stats = self._run(pipe, max_buckets=BUCKETS_PER_COMMIT)
                if not stats.n_buckets_processed:
                    break
                commits.append(time.perf_counter() - c0)
                triples += stats.n_triples
        seconds = time.perf_counter() - t0
        expect(
            len(commits) == N_BUCKETS // BUCKETS_PER_COMMIT and not stats.n_buckets_processed,
            f"{len(commits)} commits for {N_BUCKETS} buckets of {BUCKETS_PER_COMMIT}",
        )
        # exact: resumed commits must land what a one-shot build lands
        self._check(pipe, triples, full_check, exact=True)
        return JobResult(seconds, triples, commits)

    def probes(self) -> None:
        self._extract_probes()


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


class Query(Workload):
    name = "query"

    def generate(self) -> None:
        expected_triples(self.spark, self.ctx.n_pages, self.ctx.seed).select(
            *TRIPLE_COLS
        ).dropDuplicates().write.mode("overwrite").parquet(self.ctx.path("graph"))

    def load(self) -> None:
        self.open(self.ctx.path("graph"))
        self.blocks = queries.blocks(random.Random(f"query:{self.ctx.seed}"), self.ctx.n_pages)

    def open(self, graph: str) -> None:
        """Serve queries over the triples parquet at ``graph``, with
        DuckDB reading the same files as the oracle."""
        self.graph = self.spark.read.parquet(graph)
        self.graph_n = self.graph.count()
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            f"CREATE VIEW g AS SELECT * FROM read_parquet({queries._q(graph + '/*.parquet')})"
        )
        self.expected: dict[str, list[tuple]] = {}

    def job(self, tag: str, full_check: bool) -> JobResult:
        """One block of the mix, a request of each kind. A single
        request's latency depends on its kind and parameters; a block's
        does much less, which keeps the median steady over few jobs."""
        steps = []
        with self.span("job"):
            for req in next(self.blocks):
                steps.append(self.request(req))
        return JobResult(sum(steps), self.graph_n * len(steps), steps)

    def request(self, req: queries.Request) -> float:
        """Seconds to plan and collect one request, whose rows are then
        checked against DuckDB."""
        t0 = time.perf_counter()
        with self.span("query"):
            with self.span(f"sparql.{req.kind}.compile"):
                frame = sparql_select(self.graph, req.sparql)
            with self.span(f"sparql.{req.kind}.exec"):
                rows = frame.collect()
        seconds = time.perf_counter() - t0
        got = sorted((tuple(r) for r in rows), key=repr)
        if req.sql not in self.expected:
            self.expected[req.sql] = queries.oracle_rows(self.con, req)
        want = self.expected[req.sql]
        if got != want:
            diff = next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)
            raise CheckFailed(
                f"{req.kind}: {len(got)} rows, DuckDB gives {len(want)}, "
                f"first difference {diff}: {req.sparql}"
            )
        return seconds

    def probes(self) -> None:
        # every kind traced at least once, whatever the window's length
        rng = random.Random(self.ctx.seed + 1)
        for kind in queries.KINDS:
            self.request(queries.request(kind, rng, self.ctx.n_pages))

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# convert
# ---------------------------------------------------------------------------


class Convert(Workload):
    name = "convert"

    def generate(self) -> None:
        # The Turtle sink abbreviates IRIs such as dbp:London_(England)
        # to qnames that no Turtle parser accepts, so the dump leaves out
        # triples with a parenthesis in an IRI.
        expected_triples(self.spark, self.ctx.n_pages, self.ctx.seed).write.mode(
            "overwrite"
        ).parquet(self.ctx.path("golden"))
        write_ntriples(self._source(), self.ctx.path("dump.nt"))

    def _source(self):
        golden = self.spark.read.parquet(self.ctx.path("golden")).select(*TRIPLE_COLS)
        paren = F.col("s_value").contains("(") | (
            (F.col("o_kind") == KIND_IRI) & F.col("o_value").contains("(")
        )
        return golden.where(~paren)

    def load(self) -> None:
        self.dump = self.ctx.path("dump.nt")
        self.want = self._source().distinct().localCheckpoint(eager=True)
        self.want_sum = checksum(self.want)

    def job(self, tag: str, full_check: bool) -> JobResult:
        out = self.ctx.path(f"job-{tag}.ttl")
        t0 = time.perf_counter()
        with self.span("job"):
            n = cli.run_pipeline(self.spark, [self.dump], out, in_format="ntriples", squish=True)
        seconds = time.perf_counter() - t0
        expect(n == self.want_sum[0], f"convert wrote {n} triples, {self.want_sum[0]} distinct in the dump")
        if full_check:
            parsed = self._reparse(out)
            errors = parsed.where("error IS NOT NULL").select("key", "error").take(1)
            expect(not errors, f"Turtle re-parse failed: {errors}")
            got_sum = checksum(parsed.select(*TRIPLE_COLS))
            expect(got_sum == self.want_sum, f"Turtle re-parse gives {got_sum[0]} triples, not the dump's set")
        return JobResult(seconds, n, [seconds])

    def _reparse(self, path: str):
        """The Turtle output read back through extract/turtle.py: each
        part file is one document under the prefix header sidecar."""
        header = "\n".join(r.value for r in self.spark.read.text(path + "._prefixes").collect())
        docs = self.spark.read.text(path, wholetext=True).select(
            F.concat(F.lit(header + "\n"), F.col("value")).alias("value"),
            F.input_file_name().alias("key"),
        )
        return parse_turtle_col(docs)

    def probes(self) -> None:
        _conversion_probes(self, self.dump, self.want)


def _conversion_probes(wl: Workload, nt_path: str, triples) -> None:
    """The rdf tool's two layers on their own: the N-Triples parser into
    a noop sink, and the Turtle sink."""
    parsed, errors = read_ntriples(wl.spark, nt_path)
    with wl.span("ntriples.parse"):
        parsed.write.format("noop").mode("overwrite").save()
    wl.layer["ntriples.parse_errors"] = errors.count()
    with wl.span("sinks.turtle_write"):
        write_turtle(triples, wl.ctx.path("probe.ttl"))


WORKLOADS = {w.name: w for w in (Build, Incremental, Query, Convert)}
