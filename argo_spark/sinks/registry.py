"""Format registry + sniffing (SURVEY §2.1 S7).

Mirrors the reference's ``Formats`` map and lookup helpers
(/root/reference/argo.go:64-151,179-215) with the MIME-matching bug
fixed: the reference uses ``strings.Index(...) > 0`` and so misses a
match at position 0 (argo.go:183,188); we use proper containment.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from argo_spark import nquads, ntriples
from argo_spark.extract import rdfjson, rdfxml, squirtle, turtle
from argo_spark.ops import loopc
from argo_spark.sinks import writers


@dataclass
class Format:
    id: str
    name: str
    preferred_mime: str
    preferred_ext: str
    other_mimes: list[str] = field(default_factory=list)
    other_exts: list[str] = field(default_factory=list)
    # (spark, path) -> (triples, errors_or_None); the document readers
    # share one parse stage and quarantine split (sources/documents.py)
    reader: Optional[Callable] = None
    writer: Optional[Callable] = None  # (df, path, ...) -> None
    # a subject-block writer's grouping columns: --squish hashes on
    # those the frame has, so dedup and blocks share one exchange
    block_key: tuple[str, ...] = ()


def _read_rdfa(spark, path):
    from argo_spark.extract.rdfa import read_rdfa

    return read_rdfa(spark, path), None  # RDFa has no quarantine frame


def _read_warc(spark, path):
    """Crawl segments as an RDF source: WARC -> pages -> RDFa +
    mention + JSON-LD extraction (the full per-page structured-data
    surface), making ``rdf seg.warc.gz -o out.nt`` a one-command
    crawl-to-RDF run. Segment-level parse errors quarantine."""
    from argo_spark.extract.jsonld import extract_jsonld_df
    from argo_spark.extract.rdfa import extract_triples_df
    from argo_spark.schema import TRIPLE_COLS
    from argo_spark.sources.warc import pages_from_warc

    pages, errors = pages_from_warc(spark, path)
    pages = pages.select("url", "warc_ts", "html")
    triples = extract_triples_df(pages).select(*TRIPLE_COLS).unionByName(
        extract_jsonld_df(pages).select(*TRIPLE_COLS)
    )
    return triples, errors


FORMATS: dict[str, Format] = {
    "ntriples": Format(
        "ntriples", "NTriples", "text/plain", ".nt",
        reader=ntriples.read_ntriples, writer=ntriples.write_ntriples,
    ),
    "nquads": Format(
        # beyond the reference (single-graph Graph, graph.go:31-50):
        # the serialization face of the named-graph quad model
        "nquads", "NQuads", "application/n-quads", ".nq",
        reader=nquads.read_nquads, writer=nquads.write_nquads,
    ),
    "turtle": Format(
        # reader is BEYOND the reference (serializer-only
        # registration, argo.go:117-140 — argo cannot read the
        # Turtle it writes; extract/turtle.py can)
        "turtle", "Turtle", "text/turtle", ".ttl",
        other_mimes=["application/x-turtle"],
        reader=turtle.read_turtle, writer=writers.write_turtle,
        block_key=writers.SUBJECT_KEY,
    ),
    "trig": Format(
        # Turtle analogue for the quad model; reader round 5c
        "trig", "TriG", "application/trig", ".trig",
        reader=turtle.read_trig, writer=writers.write_trig,
        block_key=writers.TRIG_KEY,
    ),
    "json": Format(
        # reader round 5c: accepts both the writer's NT-keyed
        # lines and the W3C bare-IRI RDF/JSON form
        "json", "RDF/JSON", "application/json", ".json",
        reader=rdfjson.read_rdfjson,
        writer=lambda df, path, mode="overwrite": writers.rdfjson_lines(df)
        .select("json")
        .write.mode(mode)
        .text(path),
    ),
    "rdfxml": Format(
        "rdfxml", "RDF/XML", "application/rdf+xml", ".rdf",
        other_exts=[".xml"],
        reader=rdfxml.read_rdfxml, writer=writers.write_rdfxml,
    ),
    "rdfa": Format(
        "rdfa", "RDFA", "text/html", ".html",
        other_mimes=["text/xhtml"], other_exts=[".htm"],
        # reader registered by side-effect in the reference
        # (rdfaparser.go:30-41); HTML is read-only (no writer)
        reader=_read_rdfa,
    ),
    "squirtle": Format(
        "squirtle", "Squirtle", "text/x-squirtle", ".squirtle",
        reader=squirtle.read_squirtle, writer=writers.write_squirtle,
        block_key=writers.SUBJECT_KEY,
    ),
    "warc": Format(
        # crawl ingestion (read-only by nature, like rdfa): WARC
        # segments -> page extraction -> triples
        "warc", "WARC", "application/warc", ".warc",
        other_exts=[".warc.gz"],
        reader=_read_warc,
    ),
    "loop": Format(
        # the reference ships loopc as a separate binary whose NT
        # output feeds the rdf tooling; registering the compiler
        # as a reader folds that pipe into the same registry
        "loop", "LOOP", "text/x-loop", ".loop",
        reader=loopc.read_loop,
    ),
}


def format_from_filename(path: str) -> Optional[Format]:
    """Extension-based dispatch (argo.go:196-215)."""
    for fmt in FORMATS.values():
        for ext in [fmt.preferred_ext] + fmt.other_exts:
            if path.endswith(ext):
                return fmt
    return None


def format_from_mime(mime: str) -> Optional[Format]:
    """Substring MIME matching with correct position-0 semantics
    (fixes argo.go:183,188)."""
    for fmt in FORMATS.values():
        for m in [fmt.preferred_mime] + fmt.other_mimes:
            if m in mime:
                return fmt
    return None
