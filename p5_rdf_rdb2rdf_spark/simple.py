"""Simple mapping language front end.

Reference parity: ``lib/RDF/RDB2RDF/Simple.pm`` — the reference's own
hashref-based mapping language and its JSON (de)serialization
(``to_json``/``from_json``, SURVEY.md O37, Appendix B). Shape:

    {"namespaces": {"dc": "http://purl.org/dc/terms/"},
     "mappings": {
       "books": {
         "from":   "books",            # table name or SQL (see `sql` below)
         "select": "*",                # projection passthrough (O8)
         "about":  "book/{book_id}",   # subject template; '_:' prefix => bnode
         "typeof": ["bibo:Book"],      # rdf:type constants (O29 analog)
         "graph":  null,               # named-graph IRI/template
         "columns": {
           "title":     [{"property": "dc:title", "lang": "en"}],
           "author_id": [{"rel": "dc:creator", "resource": "author/{author_id}"}],
           "price":     [{"property": "ex:price", "datatype": "xsd:decimal"}],
           "publisher": [{"rev": "dc:publisher", "resource": "pub/{publisher}"}]}}}

Per-spec semantics (Appendix B [MED] — verify key names against Simple.pm POD
once /root/reference is populated):
  property => literal object from the column (natural datatype unless
              overridden by `datatype`/`lang`)
  rel      => IRI object from the `resource` template (FK-style link)
  rev      => inverse direction: (resource-IRI, predicate, subject)
  callable => dynamic literal: a Python callable (pandas.Series per input
              column -> Series), the Spark re-expression of Simple.pm's
              coderef terms (O35); runs as an Arrow-vectorized pandas UDF.
              `columns` names its inputs (default: the spec's own column).
Relative subject/resource templates resolve against the mapping base (O22).
CURIEs expand through `namespaces` + common defaults (O34).

Everything lowers to the shared IR; :mod:`.compiler` executes.
"""

from __future__ import annotations

import json
from typing import Any

from .ir import (
    Mapping,
    PredicateObjectMap,
    RefObject,
    TermMap,
    TriplesMap,
    expand_curie,
)
from .terms import KIND_BLANK, KIND_IRI, KIND_LITERAL


def _resolve_template(tpl: str, base: str) -> tuple[str, str]:
    """-> (absolute template, term_type)."""
    if tpl.startswith("_:"):
        return tpl[2:], KIND_BLANK
    if "://" in tpl or tpl.startswith("urn:"):
        return tpl, KIND_IRI
    return base + tpl, KIND_IRI


def _subject_term(about: str, base: str) -> TermMap:
    tpl, ttype = _resolve_template(about, base)
    if "{" in tpl:
        return TermMap(kind="template", template=tpl, term_type=ttype)
    if ttype == KIND_BLANK:
        return TermMap(kind="constant", constant_value=tpl, constant_kind=KIND_BLANK)
    return TermMap.iri_constant(tpl)


def simple_to_ir(doc: dict[str, Any] | str, base: str = "") -> Mapping:
    """Simple mapping document (dict or JSON string) -> Mapping IR."""
    if isinstance(doc, str):
        doc = json.loads(doc)
    ns = dict(doc.get("namespaces", {}))
    m = Mapping(namespaces=ns, base=base or doc.get("base", ""))

    def curie(v: str) -> str:
        return expand_curie(v, ns)

    for name, spec in doc.get("mappings", {}).items():
        tm = TriplesMap(
            name=name,
            table=spec.get("from") if not spec.get("sql") else None,
            sql=spec.get("sql"),
            select=spec.get("select", "*"),
            subject=_subject_term(spec["about"], m.base),
            classes=[curie(c) for c in _as_list(spec.get("typeof"))],
        )
        g = spec.get("graph")
        if g:
            gtpl, _ = _resolve_template(curie(g), m.base)
            if "{" in gtpl:
                tm.graphs.append(TermMap(kind="template", template=gtpl))
            else:
                tm.graphs.append(TermMap.iri_constant(gtpl))

        for col, specs in spec.get("columns", {}).items():
            for s in _as_list(specs):
                if isinstance(s, str):
                    s = {"property": s}
                if "property" in s:
                    pred = TermMap.iri_constant(curie(s["property"]))
                    if callable(s.get("callable")):
                        # O35: Simple.pm coderef term — dynamic literal
                        # computed from row data, vectorized (Arrow batches)
                        obj = TermMap(
                            kind="callable",
                            fn=s["callable"],
                            fn_columns=list(s.get("columns", [col])),
                            term_type=KIND_LITERAL,
                            datatype=curie(s["datatype"]) if s.get("datatype") else None,
                            language=s.get("lang"),
                        )
                    else:
                        obj = TermMap(
                            kind="column",
                            column=col,
                            term_type=KIND_LITERAL,
                            datatype=curie(s["datatype"]) if s.get("datatype") else None,
                            language=s.get("lang"),
                        )
                    tm.poms.append(PredicateObjectMap(predicates=[pred], objects=[obj]))
                elif "rel" in s or "rev" in s:
                    res = s.get("resource", "{%s}" % col)
                    tpl, ttype = _resolve_template(res, m.base)
                    node = (
                        TermMap(kind="template", template=tpl, term_type=ttype)
                        if "{" in tpl
                        else TermMap.iri_constant(tpl)
                    )
                    # the driving column suppresses on NULL even when the
                    # resource template doesn't reference it (Simple.pm keys
                    # the spec by column)
                    if col not in node.referenced_columns():
                        node.guard_columns = [col]
                    if "rel" in s:
                        pred = TermMap.iri_constant(curie(s["rel"]))
                        tm.poms.append(
                            PredicateObjectMap(predicates=[pred], objects=[node])
                        )
                    else:  # rev: inverse direction — own triples map
                        inv = TriplesMap(
                            name=f"{name}!rev!{col}",
                            table=tm.table,
                            sql=tm.sql,
                            select=tm.select,
                            subject=node,
                            graphs=list(tm.graphs),
                        )
                        inv.poms.append(
                            PredicateObjectMap(
                                predicates=[TermMap.iri_constant(curie(s["rev"]))],
                                objects=[_subject_as_object(tm.subject)],
                            )
                        )
                        m.triples_maps[inv.name] = inv
                else:
                    raise ValueError(f"column spec needs property/rel/rev: {s!r}")
        m.triples_maps[name] = tm
    return m


def _subject_as_object(subject: TermMap) -> TermMap:
    return TermMap(
        kind=subject.kind,
        template=subject.template,
        column=subject.column,
        constant_value=subject.constant_value,
        constant_kind=subject.constant_kind,
        term_type=subject.term_type,
        expr=subject.expr,
        guard_columns=list(subject.guard_columns),
        fn=subject.fn,
        fn_columns=list(subject.fn_columns),
    )


def _as_list(v: Any) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]
