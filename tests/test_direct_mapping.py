"""Direct Mapping golden-triple tests (SURVEY.md M1; W3C DM spec shapes).

Expected triples are computed in plain Python from the spec (the harness
side), using the shared canonicalizers (iri_safe_py, lexical_form_py) — the
engine side is the compiled DataFrame plan. Covers O1, O7, O10, O15, O21,
O26, O30–O33, O18.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
from p5_rdf_rdb2rdf_spark.fixtures import CONSTRAINTS
from p5_rdf_rdb2rdf_spark.iri import iri_safe_py
from p5_rdf_rdb2rdf_spark.ntriples import to_ntriples
from p5_rdf_rdb2rdf_spark.terms import (
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_HEXBINARY,
    XSD_INTEGER,
    lexical_form_py,
    natural_datatype,
)

BASE = "http://example.com/base/"


def _expected_dm_lines(df, table: str, cons: dict) -> set[str]:
    """Spec-side expected N-Triples for one table (plain Python)."""
    schema = df.schema
    rows = df.collect()
    types = {f.name: f.dataType for f in schema.fields}
    pk = cons.get("pk", [])
    lines: set[str] = set()

    def row_node(tbl, pk_cols, row, via_cols=None):
        pairs = ";".join(
            f"{iri_safe_py(pc)}={iri_safe_py(lexical_form_py(row[cc], types[cc]))}"
            for pc, cc in zip(pk_cols, via_cols or pk_cols)
        )
        return f"<{BASE}{iri_safe_py(tbl)}/{pairs}>"

    for row in rows:
        if pk:
            s = row_node(table, pk, row)
        else:
            # deterministic blank label — engine computes xxhash64; harness
            # treats the label as a wildcard keyed by row content instead
            s = None
        # type triple
        type_line = f"{{s}} <{RDF_TYPE}> <{BASE}{iri_safe_py(table)}> ."
        lits = []
        for name, dtype in types.items():
            v = row[name]
            if v is None:
                continue
            lex = lexical_form_py(v, dtype)
            dt = natural_datatype(dtype)
            esc = lex.replace("\\", "\\\\").replace('"', '\\"')
            obj = f'"{esc}"' + (f"^^<{dt}>" if dt else "")
            lits.append(f"{{s}} <{BASE}{iri_safe_py(table)}#{iri_safe_py(name)}> {obj} .")
        refs = []
        for fk in cons.get("fks", []):
            if any(row[c] is None for c in fk["cols"]):
                continue
            pred = f"<{BASE}{iri_safe_py(table)}#ref-" + ";".join(iri_safe_py(c) for c in fk["cols"]) + ">"
            o = row_node(fk["parent"], fk["parent_cols"], row, via_cols=fk["cols"])
            refs.append(f"{{s}} {pred} {o} .")
        if s is None:
            # blank-node table: substitute a stable per-row key; the engine
            # comparison below canonicalizes engine labels the same way
            key = "|".join("" if row[n] is None else str(row[n]) for n in types)
            s = f"_:ROW({key})"
        for tmpl in [type_line, *lits, *refs]:
            lines.add(tmpl.format(s=s))
    return lines


def _canon_blank_lines(lines: list[str], tables: dict) -> set[str]:
    """Replace engine blank labels with content-keyed wildcards so the
    fresh-vs-deterministic label choice can't affect P/R (FIXTURES.md §5)."""
    # map engine label -> row-content key via the nopk_log triples themselves
    import re

    by_label: dict[str, dict[str, str]] = {}
    for ln in lines:
        m = re.match(r"^_:(\S+) <[^>]*#(\w+)> \"(.*)\" \.$", ln)
        if m:
            by_label.setdefault(m.group(1), {})[m.group(2)] = m.group(3)
    out = set()
    for ln in lines:
        m = re.match(r"^_:(\S+) (.*)$", ln)
        if not m:
            out.add(ln)
            continue
        label, rest = m.groups()
        vals = by_label.get(label, {})
        key = "|".join(vals.get(n, "") for n in ["ts", "msg"])
        out.add(f"_:ROW({key}) {rest}")
    return out


@pytest.mark.parametrize("table", ["books", "authors", "emp", "dept", "composite", "binaries"])
def test_dm_table_golden(spark, tables, table):
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=[table, *_parents(table)])
    got = {
        ln
        for ln in to_ntriples(triples)
        if f"/{iri_safe_py(table)}" in ln.split(" ")[0] or ln.split(" ")[1].startswith(f"<{BASE}{iri_safe_py(table)}")
    }
    want = _expected_dm_lines(tables[table], table, CONSTRAINTS[table])
    # restrict engine output to this table's subjects
    got = {ln for ln in got if ln.split(" ")[0].startswith(f"<{BASE}{iri_safe_py(table)}/")}
    assert got == want


def _parents(table: str) -> list[str]:
    return [fk["parent"] for fk in CONSTRAINTS[table].get("fks", [])]


def test_dm_nopk_blank_nodes(spark, tables):
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=["nopk_log"])
    lines = to_ntriples(triples)
    got = _canon_blank_lines(lines, tables)
    want = _expected_dm_lines(tables["nopk_log"], "nopk_log", CONSTRAINTS["nopk_log"])
    # deterministic-label deviation: full-duplicate rows collapse (documented)
    assert got == want


def test_dm_null_suppression(spark, tables):
    """Row 3 of books has NULL author_id/published -> no fk/published triple
    but the other triples survive (R2RML §11.3 / O10)."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=["books", "authors"])
    lines = to_ntriples(triples)
    s3 = f"<{BASE}books/book_id=3>"
    assert not any(ln.startswith(s3) and "#ref-author_id" in ln for ln in lines)
    assert not any(ln.startswith(s3) and "#published" in ln for ln in lines)
    assert any(ln.startswith(s3) and "#title" in ln for ln in lines)


def test_dm_lexical_forms(spark, tables):
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=["books", "authors", "binaries"])
    lines = set(to_ntriples(triples))
    assert (
        f'<{BASE}books/book_id=1> <{BASE}books#price> "12.5"^^<{XSD_DECIMAL}> .' in lines
    )
    assert (
        f'<{BASE}books/book_id=1> <{BASE}books#in_print> "true"^^<{XSD_BOOLEAN}> .' in lines
    )
    assert (
        f'<{BASE}books/book_id=1> <{BASE}books#published> "2015-02-01"^^<{XSD_DATE}> .' in lines
    )
    assert (
        f'<{BASE}authors/author_id=10> <{BASE}authors#born> "1961-02-12T06:30:00"^^<{XSD_DATETIME}> .'
        in lines
    )
    assert (
        f'<{BASE}binaries/id=1> <{BASE}binaries#payload> "00FF4142"^^<{XSD_HEXBINARY}> .' in lines
    )
    # non-ASCII + '/' + space in templated IRIs never appear raw
    assert not any(" " in ln.split(" ")[0] for ln in lines)


def test_dm_composite_pk_encoding(spark, tables):
    """';' '=' '%' in PK values are percent-encoded in row-node IRIs (O30)."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=["composite"])
    lines = to_ntriples(triples)
    assert any("k1=1;k2=a%3Bb>" in ln for ln in lines)
    assert any("k1=2;k2=c%3Dd>" in ln for ln in lines)
    assert any("k1=3;k2=p%25q>" in ln for ln in lines)


def test_dm_pk_fast_path_matches_global_dedup(spark, tables):
    """r5 PK fast path: with trusted keys the dedup shuffle is skipped for
    PK-backed tables (distinct by construction) and applied only to the
    no-PK slice. The emitted triple SET must be identical to the global
    dropDuplicates form on a mixed pk + no-pk (duplicate-row-bearing)
    selection — including the collapse of nopk_log's full-duplicate rows."""
    only = ["books", "authors", "nopk_log"]
    fast = direct_map(spark, tables, CONSTRAINTS, base=BASE, only=only)
    slow = direct_map(
        spark, tables, CONSTRAINTS, base=BASE, only=only, assume_key_integrity=False
    )
    f = sorted(map(tuple, fast.collect()))
    assert f == sorted(map(tuple, slow.collect()))
    assert len(f) == len(set(f))  # output is a genuine set either way


def test_dm_pk_enforced_false_restores_set_semantics(spark):
    """A declared-but-unenforced key (``"pk_enforced": false``) keeps
    PK-templated subjects but routes the table through its own dedup slice:
    duplicate-key rows sharing a column value must emit ONE triple, exactly
    like the global-dropDuplicates form. Trusting the same data (flag
    absent) would emit the duplicate — the planted rows prove the flag is
    load-bearing."""
    rows = [(1, "x", "same"), (1, "y", "same"), (2, "z", "other")]
    df = spark.createDataFrame(rows, "k int, a string, b string")
    mf_unenforced = {"t": {"pk": ["k"], "fks": [], "pk_enforced": False}}
    mf_trusting = {"t": {"pk": ["k"], "fks": []}}

    got = direct_map(spark, {"t": df}, mf_unenforced, base=BASE)
    want = direct_map(
        spark, {"t": df}, mf_unenforced, base=BASE, assume_key_integrity=False
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, want.collect()))
    assert len(g) == len(set(g))
    # both k=1 rows emit <t/k=1> <t#b> "same" — set semantics keeps ONE
    b_same = [r for r in g if r[2].endswith("#b") and r[4] == "same"]
    assert len(b_same) == 1
    # the trusting fast path on the same (key-violating) data emits both —
    # i.e. pk_enforced=False is what preserves correctness here
    trusted = direct_map(spark, {"t": df}, mf_trusting, base=BASE).collect()
    assert len([r for r in trusted if r[2].endswith("#b") and r[4] == "same"]) == 2


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_dm_unenforced_key_path_any_base_any_parser(spark, escaped):
    """The unenforced-key unpivot path emits the same triples as the global
    dedup path for base IRIs holding a backslash, a quote or a tab, under
    both ``spark.sql.parser.escapedStringLiterals`` settings: its pattern
    lookup never passes a value through the SQL parser."""
    conf = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(conf)
    rows = [(1, "x", 1.5), (1, "x", 2.5), (2, None, None)]
    df = spark.createDataFrame(rows, "k int, a string, d double")
    mf = {"t": {"pk": ["k"], "fks": [], "pk_enforced": False}}
    spark.conf.set(conf, escaped)
    try:
        for base in ["http://x/b\\s/", "http://x/it's/", "http://x/t\tab/", BASE]:
            got = direct_map(spark, {"t": df}, mf, base=base)
            want = direct_map(spark, {"t": df}, mf, base=base, assume_key_integrity=False)
            g = sorted(map(tuple, got.collect()))
            assert g == sorted(map(tuple, want.collect())), base
            assert {r[2] for r in g} == {
                RDF_TYPE, f"{base}t#a", f"{base}t#d", f"{base}t#k"
            }, base
    finally:
        spark.conf.set(conf, prev)


def test_direct_map_verify_keys_audit(spark):
    """ADVICE r5 #3: declared keys are trusted by default — verify_keys=True
    is the audit mode that pays one aggregate per enforced-PK table and
    raises (instead of silently emitting duplicate triples) when a declared
    key does not actually hold."""
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "id int, v string")
    manifest = {"t": {"pk": ["id"], "fks": []}}
    with pytest.raises(ValueError, match="duplicate-or-null-key"):
        direct_map(spark, {"t": dup}, manifest, verify_keys=True)
    # clean data passes the audit and emits the same graph as the default
    ok = spark.createDataFrame([(1, "a"), (2, "c")], "id int, v string")
    audited = direct_map(spark, {"t": ok}, manifest, verify_keys=True)
    assert audited.count() == direct_map(spark, {"t": ok}, manifest).count()
    # tables already flagged pk_enforced:false dedup anyway -> no audit, no
    # raise, set semantics preserved via the compact-dedup path
    manifest2 = {"t": {"pk": ["id"], "pk_enforced": False, "fks": []}}
    out = direct_map(spark, {"t": dup}, manifest2, verify_keys=True)
    assert out.count() == out.distinct().count()



STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def _schema_map(spark, tpch, out_dir):
    """DM of the star schema unioned with the orders-customer R2RML join,
    written to a fresh graph table (one whole-schema map)."""
    import __spark_entry__ as entry
    from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
    from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
    from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir

    tables = {t: tpch[t] for t in STAR_TABLES}
    dm = direct_map(spark, tables, entry.TPCH_CONSTRAINTS, base=entry.BASE)
    r = compile_mapping(
        spark,
        r2rml_to_ir(entry._R2RML_ORDERS),
        tables=tables,
        broadcast_parents={"#Customer"},
    )
    GraphTable(spark, str(out_dir), n_buckets=4).write(dm.unionByName(r))


def _kg_pipeline(spark, tpch, out_dir):
    """The in-memory KG pipeline over the 200-doc corpus (no tables used)."""
    from p5_rdf_rdb2rdf_spark.pipeline.corpus import synth_corpus
    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import run_pipeline

    docs = synth_corpus(spark, 200, partitions=4)
    run_pipeline(
        spark, docs, str(out_dir), n_buckets=4, checkpoint=False, audit_invariant=False
    )


@pytest.mark.parametrize(
    "plan", [_schema_map, _kg_pipeline], ids=["schema_map", "kg_pipeline"]
)
def test_repeated_schema_map_compiles_no_code(spark, tpch, tmp_path, plan):
    """Running the same plan again compiles no generated class: every class
    of the first run is still in Spark's generated-code cache. A
    whole-schema map generates more classes than Spark's default cache
    holds (100), so without the session's larger cache the repeat would
    recompile most of them; the KG pipeline's classes fit either way."""
    from plan_nodes import codegen_compiles

    plan(spark, tpch, tmp_path / "first")
    with codegen_compiles(spark) as compiled:
        plan(spark, tpch, tmp_path / "again")
    assert compiled["n"] == 0
