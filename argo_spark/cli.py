"""``rdf``-tool equivalent (SURVEY §3 E1, §2.1 S6): multi-source read
→ term rewriting → serialize.

The reference CLI (/root/reference/rdf/rdf.go:89-237,292-424) spawns
one goroutine per source and merges channels; here each source is a
DataFrame scan and the merge is ``unionByName`` — task parallelism per
input split comes free. The pipeline stays fully streaming in the
reference sense: no graph materialization, one pass from scan to sink.

Throughput is printed in the reference's own figure of merit
("%d triples processed in %.3f seconds", rdf.go:422-424).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from argo_spark.schema import TRIPLE_COLS
from argo_spark.sinks.registry import FORMATS, format_from_filename, format_from_mime
from argo_spark.sources.documents import parse_error_count


def _fetch_url(url: str) -> tuple[str, str | None]:
    """Fetch one http(s) source to a local temp file (driver-side, like
    the reference's per-source goroutine fetch, rdf.go:89-237).
    Returns (local_path, mime_or_None); the URL's extension is
    preserved so extension dispatch still works. The body is STREAMED
    to disk (never buffered whole in driver memory); callers own the
    temp file and should remove it after the pipeline's final action."""
    import shutil

    suffix = os.path.splitext(urllib.parse.urlparse(url).path)[1] or ".tmp"
    with urllib.request.urlopen(url) as resp:
        mime = resp.headers.get("Content-Type")
        fd, local = tempfile.mkstemp(prefix="argo_url_", suffix=suffix)
        with os.fdopen(fd, "wb") as f:
            shutil.copyfileobj(resp, f)
    return local, mime


def fetch_urls(urls: list[str], max_workers: int = 8) -> dict[str, tuple[str, str | None]]:
    """Concurrent URL fetch (the reference spawns one goroutine per
    source; here a thread pool — I/O-bound, GIL-free)."""
    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        return dict(zip(urls, ex.map(_fetch_url, urls)))


def read_source(
    spark: SparkSession,
    path: str,
    fmt_id: str | None = None,
    mime: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """-> (triples, errors_or_None). Parse errors are QUARANTINED, not
    dropped: the reference CLI aborts the stream on the first parse
    error (rdf.go errChan); at web scale one broken document must not
    kill a 10^12-page job, so bad rows land in an error frame the
    pipeline reports after the write."""
    fmt = FORMATS.get(fmt_id) if fmt_id else format_from_filename(path)
    if fmt is None and mime:
        fmt = format_from_mime(mime)  # URL sources: fall back to Content-Type
    if fmt is None or fmt.reader is None:
        raise SystemExit(f"no reader for source {path!r} (format {fmt_id or 'auto'})")
    df, errors = fmt.reader(spark, path)
    cols = TRIPLE_COLS + (
        ["g_value"] if "g_value" in df.columns else []
    )
    return df.select(*cols), errors


def read_checkpointed(
    spark: SparkSession,
    path: str,
    fmt_id: str | None = None,
    mime: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``read_source`` materialized: the triples are eagerly
    localCheckpointed, so the document is parsed once and the frames
    outlive the file. That checkpoint consumes every parsed row, so
    the parse pass's error count is exact: a clean document returns no
    error frame, a dirty one its errors, checkpointed as well."""
    df, errors = read_source(spark, path, fmt_id, mime=mime)
    df = df.localCheckpoint(eager=True)
    if errors is not None and parse_error_count(errors) == 0:
        errors = None
    if errors is not None:
        errors = errors.localCheckpoint(eager=True)
    return df, errors


def parse_http(
    spark: SparkSession, url: str, fmt_id: str | None = None
) -> tuple[DataFrame, DataFrame | None]:
    """Graph.ParseHTTP analogue (/root/reference/graph.go:310-335):
    fetch one URL and parse it by explicit format, extension, or
    Content-Type through ``read_checkpointed``, then remove the temp
    file. Returns (triples, errors_or_None)."""
    local, mime = _fetch_url(url)
    try:
        return read_checkpointed(spark, local, fmt_id, mime=mime)
    finally:
        try:
            os.unlink(local)
        except OSError:
            pass


def run_pipeline(
    spark: SparkSession,
    inputs: list[str],
    output: str,
    out_format: str | None = None,
    in_format: str | None = None,
    rewrites: list[tuple[str, str]] | None = None,
    subject_rewrites: list[tuple[str, str]] | None = None,
    predicate_rewrites: list[tuple[str, str]] | None = None,
    object_rewrites: list[tuple[str, str]] | None = None,
    squish: bool = False,
    construct: str | None = None,
    select: str | None = None,
    update: str | None = None,
    describe: str | None = None,
    ask: str | None = None,
) -> int:
    t0 = time.time()
    url_inputs = [p for p in inputs if p.startswith(("http://", "https://"))]
    fetched = fetch_urls(url_inputs) if url_inputs else {}
    try:
        dfs, err_frames = [], []
        for p in inputs:
            if p in fetched:
                local, mime = fetched[p]
                df, errors = read_source(spark, local, in_format, mime=mime)
            else:
                df, errors = read_source(spark, p, in_format)
            dfs.append(df)
            if errors is not None:
                err_frames.append(errors)
        return _run_pipeline_on(
            spark, dfs, output, out_format, rewrites, subject_rewrites,
            predicate_rewrites, object_rewrites, squish, t0, err_frames,
            construct=construct, select=select, update=update,
            describe=describe, ask=ask,
        )
    finally:
        for local, _mime in fetched.values():
            try:
                os.unlink(local)
            except OSError:
                pass


def _squish(df: DataFrame, block_key: tuple[str, ...] = ()) -> DataFrame:
    """``--squish``: the exact dedup on the canonical key, after a hash
    partitioning on the writer's ``block_key`` columns that ``df`` has
    (one exchange for both; a fixed count, which AQE never coalesces)."""
    key = [c for c in block_key if c in df.columns]
    if key:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(n, *key)
    return df.dropDuplicates(TRIPLE_COLS + (["g_value"] if "g_value" in df.columns else []))


def _run_pipeline_on(
    spark, dfs, output, out_format, rewrites, subject_rewrites,
    predicate_rewrites, object_rewrites, squish, t0, err_frames=(),
    construct=None, select=None, update=None, describe=None, ask=None,
) -> int:
    from argo_spark.ops.rewrite import rewrite_terms

    # mixed triple/quad sources (e.g. .nt + .nq): promote everything
    # to quads when any source carries a graph column — triple rows
    # land in the default graph (NULL), same as the N-Quads reader
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    canon = TRIPLE_COLS + (
        ["g_value"] if "g_value" in df.columns else []
    )

    # rewrite order mirrors rdf.go:272-284: the generic list first,
    # then the per-position list
    for pat, repl in rewrites or []:
        df = rewrite_terms(df, pat, repl)
    for pat, repl in subject_rewrites or []:
        df = rewrite_terms(df, pat, repl, positions=("subject",))
    for pat, repl in predicate_rewrites or []:
        df = rewrite_terms(df, pat, repl, positions=("predicate",))
    for pat, repl in object_rewrites or []:
        df = rewrite_terms(df, pat, repl, positions=("object",))

    if update:
        # SPARQL Update applies to the merged graph after rewrites,
        # before any CONSTRUCT/SELECT/squish
        from argo_spark.ops.sparql import sparql_update

        df = sparql_update(df.select(*canon), update)
    if ask:
        # ASK short-circuits everything: true/false on STDOUT, no
        # output written; exit value is the row-count convention
        # (1 for true, 0 for false)
        from argo_spark.ops.sparql import sparql_ask

        result = sparql_ask(df.select(*canon), ask)
        print("true" if result else "false")
        print(
            f"ASK answered in {time.time() - t0:.3f} seconds",
            file=sys.stderr,
        )
        return int(result)
    if select:
        # SELECT short-circuits serialization: the output is a
        # SPARQL-TSV directory (part files + _VARS header sidecar),
        # not a graph
        from argo_spark.ops.sparql import sparql_select
        from argo_spark.sinks.writers import write_select_tsv
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        bindings = sparql_select(df.select(*canon), select)
        obs = Observation()
        write_select_tsv(
            bindings.observe(obs, F.count(F.lit(1)).alias("n")), output
        )
        n = obs.get["n"]
        print(
            f"{n} result rows written in {time.time() - t0:.3f} seconds",
            file=sys.stderr,
        )
        return n
    if construct:
        # graph transformation via SPARQL CONSTRUCT (after rewrites,
        # before squish — CONSTRUCT output is already set-semantic)
        from argo_spark.ops.sparql import sparql_construct

        df = sparql_construct(df.select(*canon), construct)
    if describe:
        # graph transformation via SPARQL DESCRIBE (subject semi-join
        # over the described resources; no-closure semantics)
        from argo_spark.ops.sparql import sparql_describe

        df = sparql_describe(df.select(*canon), describe)
    ofmt = FORMATS.get(out_format) if out_format else format_from_filename(output)
    if ofmt is None or ofmt.writer is None:
        raise SystemExit(f"no writer for output {output!r}")
    if squish:
        df = _squish(df, ofmt.block_key)
    # triple count rides along with the write via the Observation API —
    # no second full pass over the sink (reference counts in-stream,
    # rdf.go:414-424)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    ofmt.writer(df.observe(obs, F.count(F.lit(1)).alias("n")), output)

    n = obs.get["n"]
    dt = time.time() - t0
    # quarantine report AFTER the write. The parse pass counted each
    # source's errors (documents.split_quarantine). A plain conversion
    # writes every parsed row, so there a 0 is exact and a clean
    # source is not parsed again; a query (--update, --construct,
    # --describe) may read only part of a source, so there every
    # source is probed. The probe is one pass: take(6) samples and
    # (when < 6 rows) counts; the full count runs only on the cached
    # frame of a source that errored.
    counts_exact = not (update or construct or describe)
    n_err = 0
    for ef in err_frames:
        if counts_exact and parse_error_count(ef) == 0:
            continue
        ef = ef.persist()
        head = ef.take(6)
        for r in head[:5]:
            print(f"parse error: {r}", file=sys.stderr)
        n_err += len(head) if len(head) < 6 else ef.count()
        ef.unpersist()
    if n_err:
        print(f"{n_err} input rows quarantined (parse errors)", file=sys.stderr)
    print(f"{n} triples processed in {dt:.3f} seconds", file=sys.stderr)
    return n


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="A tool for manipulating RDF files.")
    p.add_argument("files", nargs="+", help="input files/globs")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("-I", "--input-format", choices=sorted(FORMATS))
    p.add_argument("-O", "--output-format", choices=sorted(FORMATS))
    p.add_argument("-r", "--rewrite", nargs=2, action="append", metavar=("FIND", "REPLACE"), default=[])
    p.add_argument("--rewrite-subject", nargs=2, action="append", default=[])
    p.add_argument("--rewrite-predicate", nargs=2, action="append", default=[])
    p.add_argument("--rewrite-object", nargs=2, action="append", default=[])
    p.add_argument("--squish", action="store_true", help="dedup to set semantics")
    p.add_argument(
        "--construct", metavar="QUERY",
        help="transform the merged graph with a SPARQL CONSTRUCT query "
             "before serializing",
    )
    p.add_argument(
        "--select", metavar="QUERY",
        help="run a SPARQL SELECT over the merged graph and write the "
             "bindings as SPARQL-TSV to the output directory (part "
             "files + _VARS header sidecar) instead of serializing",
    )
    p.add_argument(
        "--update", metavar="QUERY",
        help="apply a SPARQL Update request (INSERT/DELETE DATA, "
             "DELETE WHERE, DELETE/INSERT WHERE, ';'-chained) to the "
             "merged graph before output",
    )
    p.add_argument(
        "--describe", metavar="QUERY",
        help="transform the merged graph with a SPARQL DESCRIBE query "
             "(subject semi-join, no-closure semantics) before "
             "serializing",
    )
    p.add_argument(
        "--ask", metavar="QUERY",
        help="run a SPARQL ASK over the merged graph, print "
             "true/false to stdout and write no output",
    )
    args = p.parse_args(argv)
    forms = [f for f, v in (
        ("--select", args.select), ("--construct", args.construct),
        ("--describe", args.describe), ("--ask", args.ask),
    ) if v]
    if len(forms) > 1:
        raise SystemExit(f"{' and '.join(forms)} are mutually exclusive")

    from argo_spark.session import get_spark

    spark = get_spark("argo_spark-cli")
    try:
        run_pipeline(
            spark,
            args.files,
            args.output,
            out_format=args.output_format,
            in_format=args.input_format,
            rewrites=[tuple(x) for x in args.rewrite],
            subject_rewrites=[tuple(x) for x in args.rewrite_subject],
            predicate_rewrites=[tuple(x) for x in args.rewrite_predicate],
            object_rewrites=[tuple(x) for x in args.rewrite_object],
            squish=args.squish,
            construct=args.construct,
            select=args.select,
            update=args.update,
            describe=args.describe,
            ask=args.ask,
        )
    finally:
        spark.stop()


def rdfaparse_main(argv: list[str] | None = None) -> None:
    """``rdfaparse`` tool equivalent (/root/reference/rdfaparser/
    rdfaparse/rdfaparse.go:29-49): HTML file(s) in, N-Triples out."""
    p = argparse.ArgumentParser(description="Extract RDFa from HTML into N-Triples.")
    p.add_argument("files", nargs="+", help="HTML files/globs")
    p.add_argument("-o", "--output", required=True)
    args = p.parse_args(argv)

    from argo_spark.session import get_spark

    spark = get_spark("argo_spark-rdfaparse")
    try:
        run_pipeline(
            spark, args.files, args.output,
            in_format="rdfa", out_format="ntriples",
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
