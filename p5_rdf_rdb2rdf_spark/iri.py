"""IRI-safe percent-encoding (R2RML §7.3; SURVEY.md O21).

The reference uses ``URI::Escape::uri_escape_utf8`` (anchor:
``lib/RDF/RDB2RDF/Simple.pm::iri_safe``): every character outside RFC 3986
*unreserved* (``A-Z a-z 0-9 - . _ ~``) is UTF-8 encoded and each byte emitted
as ``%XX`` (uppercase hex).

Implementation notes (scale): the hot path is a pure JVM Column expression —
Spark's ``url_encode`` (application/x-www-form-urlencoded, Java URLEncoder)
post-fixed into the IRI-safe set:

    URLEncoder leaves  A-Za-z0-9 . - _ *  unencoded, space -> '+', '~' -> %7E
    IRI-safe needs     A-Za-z0-9 . - _ ~  unencoded only

so three exact rewrites on the encoded output suffice:
    '+'   -> '%20'   (only spaces produce literal '+'; input '+' became %2B)
    '*'   -> '%2A'   (only literal '*' survives unencoded)
    '%7E' -> '~'     (only '~' encodes to %7E)

Every rewrite is provably collision-free, so `iri_safe_col == quote(s,safe='')
∪ keep('~')` for all UTF-8 inputs (property-tested in tests/test_iri.py).
A Python twin (`iri_safe_py`) is used by the driver-side mapping compiler for
constants and by the golden-triple harness.
"""

from __future__ import annotations

from urllib.parse import quote

from pyspark.sql import Column
from pyspark.sql import functions as F

_UNRESERVED = "-._~"


def iri_safe_py(value: str) -> str:
    """Driver-side IRI-safe encode (compile-time constants, goldens)."""
    return quote(str(value), safe=_UNRESERVED)


def iri_safe_col(col: Column) -> Column:
    """IRI-safe encode as a JVM-side Column expression (no Python workers)."""
    enc = F.url_encode(col.cast("string"))
    enc = F.replace(enc, F.lit("+"), F.lit("%20"))
    enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
    enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
    return enc
