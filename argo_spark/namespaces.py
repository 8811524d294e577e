"""Well-known RDF namespaces and prefix utilities.

Static replacement for the reference's prefix handling: the ~40
vocabularies predeclared at /root/reference/namespace.go:37-78 are
checked in as a table (no prefix.cc network lookup,
/root/reference/namespace.go:111-143 — the gob-cached HTTP client is
deliberately not reproduced; this table IS the cache).

``split_prefix`` reimplements /root/reference/argo.go:219-233: split
a URI into (base, local) after the last ``#``, else after the last
``/``, else ``("", uri)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# prefix -> base URI. Mirrors the constants of namespace.go:37-78.
NAMESPACES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "cs": "http://purl.org/vocab/changeset/schema#",
    "bf": "http://schemas.talis.com/2006/bigfoot/configuration#",
    "frm": "http://schemas.talis.com/2006/frame/schema#",
    "dc": "http://purl.org/dc/elements/1.1/",
    "dct": "http://purl.org/dc/terms/",
    "dctype": "http://purl.org/dc/dcmitype/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "bio": "http://purl.org/vocab/bio/0.1/",
    "geo": "http://www.w3.org/2003/01/geo/wgs84_pos#",
    "rel": "http://purl.org/vocab/relationship/",
    "rss": "http://purl.org/rss/1.0/",
    "wn": "http://xmlns.com/wordnet/1.6/",
    "air": "http://www.daml.org/2001/10/html/airport-ont#",
    "contact": "http://www.w3.org/2000/10/swap/pim/contact#",
    "ical": "http://www.w3.org/2002/12/cal/ical#",
    "icaltzd": "http://www.w3.org/2002/12/cal/icaltzd#",
    "frbr": "http://purl.org/vocab/frbr/core#",
    "ad": "http://schemas.talis.com/2005/address/schema#",
    "lib": "http://schemas.talis.com/2005/library/schema#",
    "dir": "http://schemas.talis.com/2005/dir/schema#",
    "user": "http://schemas.talis.com/2005/user/schema#",
    "sv": "http://schemas.talis.com/2005/service/schema#",
    "mo": "http://purl.org/ontology/mo/",
    "status": "http://www.w3.org/2003/06/sw-vocab-status/ns#",
    "label": "http://purl.org/net/vocab/2004/03/label#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "bibo": "http://purl.org/ontology/bibo/",
    "ov": "http://open.vocab.org/terms/",
    "void": "http://rdfs.org/ns/void#",
    "dbp": "http://dbpedia.org/resource/",
    "dbpo": "http://dbpedia.org/ontology/",
    "wiki": "http://en.wikipedia.org/wiki/",
    "gn": "http://www.geonames.org/ontology#",
    "cyc": "http://sw.opencyc.org/2009/04/07/concept/en/",
    "schema": "http://schema.org/",
    "gr": "http://purl.org/goodrelations/v1#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}

RDF = NAMESPACES["rdf"]
RDFS = NAMESPACES["rdfs"]
XSD = NAMESPACES["xsd"]
SCHEMA = NAMESPACES["schema"]
DBP = NAMESPACES["dbp"]
FOAF = NAMESPACES["foaf"]

# rdf vocab used internally by the reference (namespace.go:82-87).
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDF_LIST = RDF + "List"


def has_iri_scheme(s: str) -> bool:
    """True when ``s`` starts with an RFC 3986 scheme (``alpha
    (alnum|+|.|-)* ':'``) — i.e. it is an absolute IRI rather than a
    relative reference or a prefixed-name candidate. Shared by the
    Turtle and JSON-LD readers."""
    for i, c in enumerate(s):
        if c == ":":
            return i > 0
        if i == 0:
            if not c.isalpha():
                return False
        elif not (c.isalnum() or c in "+.-"):
            return False
    return False


def split_prefix(uri: str) -> tuple[str, str]:
    """Split a URI into (base, local) — semantics of argo.go:219-233."""
    idx = uri.rfind("#") + 1
    if idx > 0:
        return uri[:idx], uri[idx:]
    idx = uri.rfind("/") + 1
    if idx > 0:
        return uri[:idx], uri[idx:]
    return "", uri


# Column-expression variant of split_prefix; usable in pure-SQL plans
# (the Turtle writer and the predicate dictionary need it at scale).
# '#' splits FIRST like the reference (argo.go:221-225) — a '/' after
# the last '#' belongs to the local name. Plain string scans (instr,
# substring_index) rather than backtracking regexes: the split runs for
# every IRI a Turtle sink writes.


def split_prefix_base(uri: Column) -> Column:
    """Base part of split_prefix as a column expression ('' if no # or /)."""
    return uri.substr(F.lit(1), F.length(uri) - F.length(split_prefix_local(uri)))


def split_prefix_local(uri: Column) -> Column:
    """Local part of split_prefix as a column expression."""
    return (
        F.when(F.instr(uri, "#") > 0, F.substring_index(uri, "#", -1))
        .when(F.instr(uri, "/") > 0, F.substring_index(uri, "/", -1))
        .otherwise(uri)
    )
