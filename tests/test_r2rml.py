"""R2RML front end goldens (SURVEY.md M3: O2, O13, O20-O29; R2RML spec)."""

from __future__ import annotations

from pathlib import Path

from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
from p5_rdf_rdb2rdf_spark.ntriples import to_ntriples
from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir
from p5_rdf_rdb2rdf_spark.turtle import parse_turtle

EX = "http://example.com/ns#"
EMP = "http://data.example.com/employee/"
DEPT = "http://data.example.com/department/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TTL = (Path(__file__).resolve().parents[1] / "fixtures/mappings/emp.r2rml.ttl").read_text()


def _lines(spark, tables):
    ir = r2rml_to_ir(TTL)
    triples = compile_mapping(spark, ir, tables=tables)
    return set(to_ntriples(triples))


def test_turtle_parser_basics():
    ttl = """
    @prefix ex: <http://e/> .
    @base <http://b/> .
    ex:s ex:p "lit"@en , "typed"^^ex:dt ; ex:q <rel> ; ex:n 5 ; ex:d 5.5 ; ex:b true .
    [] ex:anon [ ex:inner "x" ] .
    _:l ex:p ex:o .
    """
    triples = parse_turtle(ttl)
    spo = {(s[1], p[1]) for s, p, o in triples}
    assert ("http://e/s", "http://e/p") in spo
    objs = [o for s, p, o in triples if p[1] == "http://e/p" and s[1] == "http://e/s"]
    assert ("literal", "lit", None, "en") in objs
    assert ("literal", "typed", "http://e/dt", None) in objs
    rel = [o for s, p, o in triples if p[1] == "http://e/q"][0]
    assert rel == ("iri", "http://b/rel")
    nums = {o[1:3] for s, p, o in triples if p[1] in ("http://e/n", "http://e/d", "http://e/b")}
    assert ("5", XSD + "integer") in nums
    assert ("5.5", XSD + "decimal") in nums
    assert ("true", XSD + "boolean") in nums


def test_r2rml_template_class_column(spark, tables):
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{EX}Employee> ." in lines
    assert f'<{EMP}7369> <{EX}name> "SMITH" .' in lines


def test_r2rml_language_and_datatype(spark, tables):
    lines = _lines(spark, tables)
    assert f'<{EMP}7369> <{EX}job> "CLERK"@en .' in lines
    assert f'<{EMP}7369> <{EX}jobCode> "CLERK"^^<{XSD}string> .' in lines
    # column object natural datatype (int -> xsd:integer)
    assert f'<{EMP}7369> <{EX}empnoLit> "7369"^^<{XSD}integer> .' in lines


def test_r2rml_termtype_blank_template(spark, tables):
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <{EX}shadow> _:emp-7369 ." in lines


def test_r2rml_constant_shortcut_literal(spark, tables):
    lines = _lines(spark, tables)
    assert f'<{EMP}7369> <{EX}constantNote> "fixed note"@en .' in lines


def test_r2rml_ref_object_join(spark, tables):
    """O13: rr:joinCondition equi-join; NULL deptno row emits no triple."""
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <{EX}department> <{DEPT}10> ." in lines
    assert f"<{EMP}7499> <{EX}department> <{DEPT}20> ." in lines
    # WARD has NULL deptno -> null-rejecting join drops it
    assert not any(ln.startswith(f"<{EMP}7521> <{EX}department>") for ln in lines)


def test_r2rml_sql_query_view(spark, tables):
    """O2: rr:sqlQuery runs through spark.sql; computed column mapped."""
    lines = _lines(spark, tables)
    g = "<http://example.com/graph/dept>"
    assert f'<{DEPT}10> <{EX}staff> "1"^^<{XSD}integer> {g} .' in lines
    assert f'<{DEPT}20> <{EX}staff> "1"^^<{XSD}integer> {g} .' in lines


def test_r2rml_graph_maps(spark, tables):
    """R2RML §9: subject-level graphMap applies to class+POM triples unless
    a POM-level rr:defaultGraph routes back to the default graph."""
    ir = r2rml_to_ir(TTL)
    triples = compile_mapping(spark, ir, tables=tables)
    rows = triples.collect()
    g = "http://example.com/graph/dept"
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r.p_value, set()).add(r.g_value)
    assert by_pred[f"{EX}deptName"] == {g}
    # location POM has both subject graph AND explicit defaultGraph
    assert by_pred[f"{EX}location"] == {g, None}
    assert by_pred["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"] >= {g}


def test_compile_mapping_memo_correct_and_staleness_guarded(spark):
    """r8 compiled-mapping memo: an identical (mapping, sources, flags)
    request reuses the built plan OBJECT; a different DataFrame bound to
    the same table name must MISS (exact sameSemantics check, never a
    hash) and recompile against the new source. Results are always
    computed from the current inputs."""
    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    <#T> rr:logicalTable [ rr:tableName "memo_t" ] ;
      rr:subjectMap [ rr:template "http://x/{k}" ] ;
      rr:predicateObjectMap [ rr:predicate <http://p/v> ;
        rr:objectMap [ rr:column "v" ] ] .
    """
    ir = r2rml_to_ir(ttl)
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    out1 = compile_mapping(spark, ir, tables={"memo_t": df1}, dedup=False)
    out1b = compile_mapping(spark, ir, tables={"memo_t": df1}, dedup=False)
    assert out1b is out1  # memo hit: same plan object
    assert [tuple(r) for r in out1b.collect()] == [tuple(r) for r in out1.collect()]

    df2 = spark.createDataFrame([(2, "b")], "k int, v string")
    out2 = compile_mapping(spark, ir, tables={"memo_t": df2}, dedup=False)
    assert out2 is not out1  # different source plan: recompiled
    vals = {r.o_value for r in out2.collect()}
    assert vals == {"b"}
    # flags are part of the key
    out3 = compile_mapping(spark, ir, tables={"memo_t": df2}, dedup=True)
    assert out3 is not out2


_MEMO_TTL = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
<#T> rr:logicalTable [ rr:tableName "memo_t" ] ;
  rr:subjectMap [ rr:template "http://x/{k}" ] ;
  rr:predicateObjectMap [ rr:predicate <http://p/%s> ;
    rr:objectMap [ rr:column "v" ] ] .
"""


def test_compile_memo_evicts_oldest_at_cap(spark, monkeypatch):
    """A full memo evicts its oldest plan, not every plan: with room for
    two, compiling A, B, C and then B again is a hit on B."""
    from p5_rdf_rdb2rdf_spark import compiler

    monkeypatch.setattr(compiler, "_COMPILE_MEMO", {})
    monkeypatch.setattr(compiler, "_COMPILE_MEMO_CAP", 2)
    src = spark.createDataFrame([(1, "a")], "k int, v string")

    def compile_(pred):
        ir = r2rml_to_ir(_MEMO_TTL % pred)
        return compile_mapping(spark, ir, tables={"memo_t": src}, dedup=False)

    a, b, c = compile_("a"), compile_("b"), compile_("c")
    assert compile_("b") is b
    assert compile_("c") is c
    assert compile_("a") is not a  # the oldest entry was the one evicted


def test_compile_memo_store_failure_returns_plan(spark, monkeypatch):
    """When resolving the sources again to store them in the memo fails
    (e.g. a view dropped after the plan was built), compile_mapping still
    returns the built plan, uncached."""
    from p5_rdf_rdb2rdf_spark import compiler

    monkeypatch.setattr(compiler, "_COMPILE_MEMO", {})
    built = {"done": False}
    union_all, resolve_source = compiler.union_all, compiler.resolve_source

    def marking_union(parts):
        built["done"] = True
        return union_all(parts)

    def resolve_until_built(*a, **kw):
        if built["done"]:
            raise RuntimeError("source vanished")
        return resolve_source(*a, **kw)

    monkeypatch.setattr(compiler, "union_all", marking_union)
    monkeypatch.setattr(compiler, "resolve_source", resolve_until_built)
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = compile_mapping(spark, r2rml_to_ir(_MEMO_TTL % "v"), tables={"memo_t": src})
    assert built["done"] and compiler._COMPILE_MEMO == {}
    assert sorted((r.s_value, r.p_value, r.o_value) for r in out.collect()) == [
        ("http://x/1", "http://p/v", "a"),
        ("http://x/2", "http://p/v", "b"),
    ]


def test_compile_memo_hit_repersists_sources(spark, monkeypatch):
    """A memo hit with ``persist_sources=True`` persists the sources again,
    as a cold compile would: after ``clearCache`` the same plan comes back
    with every source cached."""
    from p5_rdf_rdb2rdf_spark import compiler

    monkeypatch.setattr(compiler, "_COMPILE_MEMO", {})
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    ir = r2rml_to_ir(_MEMO_TTL % "v")
    try:
        first = compile_mapping(spark, ir, tables={"memo_t": src}, persist_sources=True)
        (sources, _), = compiler._COMPILE_MEMO.values()
        assert all(s.storageLevel.useMemory for s in sources.values())
        spark.catalog.clearCache()
        assert not any(s.storageLevel.useMemory for s in sources.values())
        again = compile_mapping(spark, ir, tables={"memo_t": src}, persist_sources=True)
        assert again is first  # a memo hit
        assert all(s.storageLevel.useMemory for s in sources.values())
    finally:
        src.unpersist()
