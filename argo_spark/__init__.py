"""argo_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the query/data-processing
capabilities of the reference RDF library (``kierdavis/argo``,
read-only at /root/reference) as an idiomatic Spark DataFrame
pipeline: triple extraction from Common-Crawl-style web pages (RDFa
semantics), IRI/literal canonicalization byte-compatible with the
reference's N-Triples formatting (/root/reference/term.go:93-110,
triple.go:43-60), deterministic blank-node skolemization, MinHash-LSH
entity dedup, and manifest-checkpointed materialization.

Nothing here is a port of the reference's channel-per-goroutine
architecture; every operator is expressed as DataFrame/SQL plans so
Catalyst + AQE pick the physical strategy, with vectorized
pandas/Arrow UDFs only where Spark lacks the semantics (HTML parsing).
"""

__version__ = "0.1.0"

# installs the zip-directory guard in every worker that unpickles a UDF
from argo_spark import _zipcache  # noqa: F401
from argo_spark.terms import (  # noqa: F401
    KIND_IRI,
    KIND_BLANK,
    KIND_LITERAL,
    escape_literal,
    format_term,
    format_triple,
    iri,
    blank,
    literal,
    skolem_id,
    triple_nt_col,
)

__all__ = [
    # term model
    "KIND_IRI", "KIND_BLANK", "KIND_LITERAL",
    "iri", "blank", "literal",
    "escape_literal", "format_term", "format_triple",
    "skolem_id", "triple_nt_col",
]

