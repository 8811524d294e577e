"""RDF/XML parser (SURVEY §2.1 S2).

Replicates the reference's 4-state streaming machine
(/root/reference/rdfxml.go:30-177) over expat:

* state Top: the root element must be ``rdf:RDF`` (rdfxml.go:85-97);
* state Descriptions: a start element mints the subject from
  ``rdf:about`` (IRI) / ``rdf:nodeID`` (blank) / else an anonymous
  node; a non-``rdf:Description`` element name becomes an rdf:type
  triple; any other attribute becomes a literal triple
  (rdfxml.go:99-126);
* state Properties: a start element is the predicate
  (namespace URI + local name, the Go ``name2Term`` concatenation,
  rdfxml.go:58-60); ``rdf:resource``/``rdf:nodeID`` attrs emit the
  object immediately; ``rdf:datatype``/``xml:lang`` annotate; any
  other attribute is an error (rdfxml.go:131-157);
* state PropertyValue: every character-data chunk emits a literal
  triple carrying BOTH language and datatype when present — the
  reference stores both via NewLiteralWithLanguageAndDatatype
  (rdfxml.go:167-170; language wins at serialization,
  term.go:103-107).

Divergences (documented): anonymous subjects are skolemized from
(document key, ordinal) instead of rand.Int63 (term.go:148-151);
parse errors stop the document and are reported as quarantine rows
instead of killing the whole stream.
"""

from __future__ import annotations

import xml.parsers.expat
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from argo_spark.extract.rdfa import FlatTriple
from argo_spark.namespaces import RDF, RDF_TYPE
from argo_spark.sources.documents import (
    FLAT_DDL, parse_documents, scan_documents, split_quarantine,
)
from argo_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, skolem_id

RDF_RDF = RDF + "RDF"
RDF_DESCRIPTION = RDF + "Description"
RDF_ABOUT = RDF + "about"
RDF_NODEID = RDF + "nodeID"
RDF_RESOURCE = RDF + "resource"
RDF_DATATYPE = RDF + "datatype"
XML_NS = "http://www.w3.org/XML/1998/namespace"
XML_LANG_NAMES = (XML_NS + "lang", "xml:lang", "xmllang")

_TOP, _DESCRIPTIONS, _PROPERTIES, _PROPERTY_VALUE = range(4)


class RdfXmlError(Exception):
    pass


def parse_rdfxml(
    text: str, skolem_key: str = ""
) -> Tuple[List[FlatTriple], Optional[str]]:
    """Parse one RDF/XML document. Returns (triples, error_or_None);
    triples emitted before an error are kept (stream semantics)."""
    out: List[FlatTriple] = []
    state = [_TOP]
    subject: list = [None]  # (kind, value)
    pred: list = [None]
    lang: list = [""]
    dt: list = [None]
    anon = [0]
    err: list = [None]

    # expat with namespace_separator='' concatenates namespace URI and
    # local name — exactly the Go name2Term Space+Local form
    p = xml.parsers.expat.ParserCreate(namespace_separator="")

    def fail(msg: str):
        err[0] = msg
        raise RdfXmlError(msg)

    def start(name, attrs):
        st = state[0]
        if st == _TOP:
            if name != RDF_RDF:
                fail("Syntax error: expected <rdf:RDF>")
            state[0] = _DESCRIPTIONS
        elif st == _DESCRIPTIONS:
            subj = None
            extra = []
            for k, v in attrs.items():
                if k == RDF_ABOUT:
                    subj = (KIND_IRI, v)
                elif k == RDF_NODEID:
                    subj = (KIND_BLANK, v)
                else:
                    extra.append((k, v))
            if subj is None:
                subj = (KIND_BLANK, skolem_id(skolem_key, "", anon[0]))
                anon[0] += 1
            subject[0] = subj
            if name != RDF_DESCRIPTION:
                out.append((subj[0], subj[1], RDF_TYPE, KIND_IRI, name, None, None))
            for k, v in extra:
                out.append((subj[0], subj[1], k, KIND_LITERAL, v, None, None))
            state[0] = _PROPERTIES
        elif st == _PROPERTIES:
            pred[0] = name
            lang[0] = ""
            dt[0] = None
            state[0] = _PROPERTY_VALUE
            subj = subject[0]
            for k, v in attrs.items():
                if k == RDF_RESOURCE:
                    out.append((subj[0], subj[1], pred[0], KIND_IRI, v, None, None))
                    return
                if k == RDF_NODEID:
                    out.append((subj[0], subj[1], pred[0], KIND_BLANK, v, None, None))
                    return
                if k == RDF_DATATYPE:
                    dt[0] = v
                elif k in XML_LANG_NAMES:
                    lang[0] = v
                else:
                    fail(f"Invalid attribute on property tag: {k}")
        # a start element in _PROPERTY_VALUE is ignored (nested
        # descriptions unsupported — reference behavior)

    def end(name):
        st = state[0]
        if st == _DESCRIPTIONS:
            pass  # </rdf:RDF>
        elif st == _PROPERTIES:
            state[0] = _DESCRIPTIONS
        elif st == _PROPERTY_VALUE:
            state[0] = _PROPERTIES

    def chardata(data):
        if state[0] == _PROPERTY_VALUE:
            subj = subject[0]
            out.append(
                (
                    subj[0], subj[1], pred[0],
                    KIND_LITERAL, data,
                    lang[0] if lang[0] else None,
                    dt[0],
                )
            )

    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chardata
    # buffer_text merges adjacent chunks — one literal per text run,
    # matching the common single-CharData case
    p.buffer_text = True

    try:
        p.Parse(text, True)
    except RdfXmlError:
        return out, err[0]
    except xml.parsers.expat.ExpatError as e:
        return out, f"XML error: {e}"
    return out, None


RDFXML_SCHEMA = FLAT_DDL + ", path string, error string"


def parse_rdfxml_col(
    df: DataFrame, text_col: str = "value", key_col: str = "key"
) -> DataFrame:
    """Distributed RDF/XML parse over a STRING COLUMN (one document
    per row) through the shared document stage. ``key_col`` seeds
    skolemization and rides through as ``path``; quarantine rows carry
    ``error``."""
    return parse_documents(
        df, lambda text, key: parse_rdfxml(text, skolem_key=key),
        RDFXML_SCHEMA, text_col, key_col,
    )


def read_rdfxml(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read RDF/XML files (one document per file) into
    (triples_df, errors_df). The input file name doubles as the skolem
    key, so anonymous nodes are deterministic."""
    return split_quarantine(
        parse_rdfxml_col(scan_documents(spark, path)), "path", "error"
    )
