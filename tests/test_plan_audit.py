"""Physical-plan audits (SURVEY.md §8.3): the mapping engine must stay
entirely JVM-side (no Python eval nodes), scans must prune columns and push
null filters, and forced broadcasts must materialize in the plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
from p5_rdf_rdb2rdf_spark.fixtures import CONSTRAINTS
from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir
from plan_nodes import count_nodes

BASE = "http://example.com/base/"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dm_plan_no_python_and_codegen(spark, tpch):
    tables = {"nation": tpch["nation"], "region": tpch["region"]}
    cons = {
        "nation": {"pk": ["n_nationkey"], "fks": []},
        "region": {"pk": ["r_regionkey"], "fks": []},
    }
    t = direct_map(spark, tables, cons, base=BASE)
    assert "Python" not in _plan(t)  # no BatchEvalPython / ArrowEvalPython
    # codegen stage markers ('*(n)') only print with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t2 = direct_map(spark, tables, cons, base=BASE)
        assert "*(" in _plan(t2)  # whole-stage codegen spans cover the plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_r2rml_string_template_no_python(spark, tpch):
    """String-valued templates exercise IRI-safe encoding — still JVM-only."""
    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    <#M> rr:logicalTable [ rr:tableName "customer" ] ;
      rr:subjectMap [ rr:template "http://c/{c_name}" ] ;
      rr:predicateObjectMap [ rr:predicate <http://p/seg> ;
                              rr:objectMap [ rr:column "c_mktsegment" ] ] .
    """
    t = compile_mapping(spark, r2rml_to_ir(ttl), tables={"customer": tpch["customer"]})
    plan = _plan(t)
    assert "Python" not in plan
    # encoding really is in the plan (url_encode folds to a static invoke)
    opt = _optimized(t)
    assert "UrlCodec.encode" in opt or "url_encode" in opt


def test_scan_pruning_and_pushdown(spark, tpch):
    t = direct_map(
        spark,
        {"nation": tpch["nation"]},
        {"nation": {"pk": ["n_nationkey"], "fks": []}},
        base=BASE,
    )
    # predicate-bound pattern: only 2 columns read, IsNotNull pushed to scan
    one = t.where(F.col("p_value") == f"{BASE}nation#n_name")
    plan = _plan(one)
    assert "PushedFilters: [IsNotNull" in plan
    # no scan in this single-pattern plan should read all 3 nation columns
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "n_regionkey" not in line, line


def test_broadcast_hint_applied(spark, tpch):
    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    <#O> rr:logicalTable [ rr:tableName "orders" ] ;
      rr:subjectMap [ rr:template "http://o/{o_orderkey}" ] ;
      rr:predicateObjectMap [ rr:predicate <http://p/c> ;
        rr:objectMap [ rr:parentTriplesMap <#C> ;
                       rr:joinCondition [ rr:child "o_custkey" ; rr:parent "c_custkey" ] ] ] .
    <#C> rr:logicalTable [ rr:tableName "customer" ] ;
      rr:subjectMap [ rr:template "http://c/{c_custkey}" ] .
    """
    tables = {"orders": tpch["orders"], "customer": tpch["customer"]}
    t = compile_mapping(spark, r2rml_to_ir(ttl), tables=tables, broadcast_parents={"#C"})
    assert "BroadcastHashJoin" in _plan(t)


def test_dedup_is_partial_aggregate(spark, tpch):
    """RDF set semantics: a PK-backed Direct Map is distinct by construction
    — the plan must contain NO dedup exchange at all (r5 fast path). With
    ``assume_key_integrity=False`` (untrusted data) set semantics must
    compile to map-side partial + final hash aggregate (one shuffle), not a
    global sort."""
    mf = {"region": {"pk": ["r_regionkey"], "fks": []}}
    fast = direct_map(spark, {"region": tpch["region"]}, mf, base=BASE)
    plan = _plan(fast)
    assert "Exchange" not in plan and "HashAggregate" not in plan, plan

    slow = direct_map(
        spark, {"region": tpch["region"]}, mf, base=BASE, assume_key_integrity=False
    )
    plan = _plan(slow)
    assert plan.count("HashAggregate") >= 2
    assert "Sort " not in plan
    # both forms produce the same triple SET
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_dedup_family_plans_jvm_only_no_cartesian(spark, tpch):
    """Round-2 ops audit: every dedup path stays JVM-side (no Python eval
    nodes) and bucket self-joins never degrade to cartesian products."""
    from p5_rdf_rdb2rdf_spark.ops.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
        simhash_pairs,
    )

    docs = tpch["documents"]
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=5)
    assert "Python" not in _plan(sigs)

    pairs = minhash_lsh_pairs(sigs, bands=8, threshold=0.5, num_hashes=32)
    p = _plan(pairs)
    assert "Python" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # shuffle-slimming audit (VERDICT r2 #2): the banded explode must emit
    # (id, band, bucket) only — the sig array joins back AFTER candidate
    # dedup, so no Generate node output may contain `sig`
    import re

    for line in p.splitlines():
        if "Generate posexplode" in line:
            m = re.search(r"\[([^\[\]]*)\]\s*$", line)  # trailing output list
            assert m and "sig" not in m.group(1), line

    sim = simhash_pairs(docs, max_hamming=3)
    p2 = _plan(sim)
    assert "Python" not in p2
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoop" not in p2

    ex = exact_dedup(docs)
    p3 = _plan(ex)
    assert "Python" not in p3
    assert p3.count("HashAggregate") >= 2  # map-side partial + final
    # VERDICT r3 What's-wrong #1: the dedup exchange must shuffle the 128-bit
    # digest pair (two 8-byte longs), never the normalized document text —
    # at 100 TB that is the difference between shuffling ~16 GB of keys and
    # shuffling the whole corpus
    import re as _re

    m = _re.search(r"hashpartitioning\(([^)]*)\)", p3)
    assert m, p3
    assert "__h0" in m.group(1) and "__h1" in m.group(1), m.group(1)
    assert "text" not in m.group(1) and "__k" not in m.group(1), m.group(1)


def test_composite_pk_scan_pushdown(spark, tpch):
    """w3c composite-PK pattern keeps pruned scans with pushed null filters
    on a real parquet source."""
    t = direct_map(
        spark,
        {"lineitem": tpch["lineitem"]},
        {"lineitem": {"pk": ["l_orderkey", "l_linenumber"], "fks": []}},
        base=BASE,
    )
    one = t.where(F.col("p_value") == f"{BASE}lineitem#l_quantity")
    plan = _plan(one)
    assert "PushedFilters: [IsNotNull" in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "l_comment" not in line and "l_shipdate" not in line, line


def test_r6_ops_plan_shapes(spark, tpch):
    """Round-6 operators keep their declared plan shapes: chunking and
    stratified sampling are single-scan no-shuffle no-Python; sessionization
    has exactly one exchange (the user-key hash) and no Python; packing
    never plans a global (un-partitioned) Window node; open-set
    decontamination joins, it does not scan a literal phrase array."""
    from p5_rdf_rdb2rdf_spark.ops.sample import stratified_sample
    from p5_rdf_rdb2rdf_spark.ops.sessions import sessionize
    from p5_rdf_rdb2rdf_spark.ops.text import chunk_documents, pack_sequences

    docs, events = tpch["documents"], tpch["events"]

    chunks = chunk_documents(docs, chunk_tokens=16, stride=8)
    p = _plan(chunks)
    assert "Python" not in p and "Exchange" not in p
    # column pruning reaches the scan: only (doc_id, text) read
    assert "ReadSchema" in p and "n_chars" not in p.split("ReadSchema")[1][:200]

    strat = stratified_sample(docs, "lang", {"en": 10}, default_pct=100, hashed=False)
    p = _plan(strat)
    assert "Python" not in p and "Exchange" not in p

    sess = sessionize(events, gap_minutes=480)
    p = _plan(sess)
    assert "Python" not in p
    # one user-key shuffle
    assert count_nodes(sess, "ShuffleExchangeExec", partitioning="HashPartitioning") == 1
    assert "SinglePartition" not in p

    packed = pack_sequences(docs, budget=512)
    p = _plan(packed)
    assert "Window" not in p  # distributed prefix sum, never a global window
    assert "SinglePartition" not in p


def test_r7_algebra_validate_plan_shapes(spark, tpch):
    """Round-7 operators keep their declared plan shapes: OPTIONAL plans a
    left OUTER equi-join (never BNL-on-true when vars are shared),
    NOT EXISTS plans a LEFT ANTI join, CONSTRUCT stays pure-JVM with the
    one distinct exchange, and SHACL validation's value constraints reach
    the scan as pushed predicates with zero Python anywhere."""
    from p5_rdf_rdb2rdf_spark import algebra as A
    from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
    from p5_rdf_rdb2rdf_spark.ops.validate import Shape, validate_shapes
    from p5_rdf_rdb2rdf_spark.store import DirectMappingStore

    manifest = {
        "customer": {"pk": ["c_custkey"], "fks": []},
        "orders": {
            "pk": ["o_orderkey"],
            "fks": [{"cols": ["o_custkey"], "parent": "customer",
                     "parent_cols": ["c_custkey"]}],
        },
    }
    store = DirectMappingStore(
        spark, {"customer": tpch["customer"], "orders": tpch["orders"]},
        manifest, base=BASE,
    )
    left = store.bgp([("?c", f"{BASE}customer#c_name", "?nm")])
    right = store.bgp([("?o", f"{BASE}orders#ref-o_custkey", "?c")])

    opt = A.optional(left, right)
    p = _plan(opt)
    assert "Python" not in p
    assert "LeftOuter" in p or "BuildRight, LeftOuter" in p

    ne = A.not_exists(left, A.project(right, "c"))
    p = _plan(ne)
    assert "Python" not in p and "LeftAnti" in p

    g = A.construct(left, [("?c", f"{BASE}derived#named", "?nm")])
    p = _plan(g)
    assert "Python" not in p
    assert "Exchange" in p  # the one distinct set-semantics exchange

    triples = direct_map(
        spark, {"customer": tpch["customer"]},
        {"customer": {"pk": ["c_custkey"], "fks": []}},
        base=BASE,
    )
    v = validate_shapes(triples, [
        Shape("bal", f"{BASE}customer#c_acctbal", min_value=0.0),
        Shape("nm", f"{BASE}customer#c_name", pattern="^Customer#"),
    ])
    p = _plan(v)
    assert "Python" not in p
    assert "Exchange" not in p  # pure value constraints: zero shuffles
