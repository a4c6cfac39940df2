"""End-to-end KG pipeline goldens: the final graph table must equal the
closed-form expected triple set derived in plain Python from the corpus
math (P/R target 1.0), the span invariant must hold, and a killed run must
resume to identical output (north_rule resumability)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from p5_rdf_rdb2rdf_spark.pipeline.corpus import (
    KG,
    expected_docs,
    expected_mentions,
    expected_triples,
    synth_corpus,
)
from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import DOC_NS, MENTIONS_PRED, run_pipeline
from p5_rdf_rdb2rdf_spark.pipeline.spans import (
    explode_spans,
    reassemble_docs,
    span_invariant_violations,
)
from plan_nodes import count_nodes

N_DOCS = 200


def test_synth_corpus_matches_python_oracle(spark):
    got = {r.doc_id: r.spans for r in synth_corpus(spark, N_DOCS, partitions=4).collect()}
    want = expected_docs(N_DOCS)
    assert set(got) == set(want)
    for doc_id, spans in want.items():
        g = [(s.kind, s.text, s.media_ref, s.offset) for s in got[doc_id]]
        w = [(s.kind, s.text, s.media_ref, s.offset) for s in spans]
        assert g == w, doc_id


def test_span_invariant_roundtrip(spark):
    docs = synth_corpus(spark, N_DOCS, partitions=4)
    back = reassemble_docs(explode_spans(docs))
    assert span_invariant_violations(docs, back).count() == 0


def test_span_invariant_detects_mutation(spark):
    docs = synth_corpus(spark, 50, partitions=2)
    spans = explode_spans(docs)
    mutated = reassemble_docs(spans.withColumn("text", F.upper("text")))
    assert span_invariant_violations(docs, mutated).count() > 0
    dropped = reassemble_docs(spans.where("offset != 0"))
    assert span_invariant_violations(docs, dropped).count() > 0


def test_pipeline_end_to_end(spark, tmp_path):
    docs = synth_corpus(spark, N_DOCS, partitions=4)
    result = run_pipeline(spark, docs, str(tmp_path / "wd"), n_buckets=4)
    rows = result.triples.collect()

    got_facts = {
        (r.s_value, r.p_value, r.o_value) for r in rows if r.p_value != MENTIONS_PRED
    }
    want_facts = expected_triples(N_DOCS)
    # exact match => precision = recall = 1.0 (gate is >= 0.95)
    assert got_facts == want_facts

    # provenance triples: every doc with a text span mentions its subjects
    got_prov = {(r.s_value, r.o_value) for r in rows if r.p_value == MENTIONS_PRED}
    want_prov = {
        (DOC_NS + doc_id, KG + eid)
        for doc_id, off, surf, eid, role in expected_mentions(N_DOCS)
        if role == "a"
    }
    assert got_prov == want_prov

    # lineage present for every stage with partition-level counts
    stages = result.lineage["stages"]
    assert set(stages) == {"s1_spans", "s2_relations", "s3_links", "s4_canon", "s5_triples"}
    for st in stages.values():
        assert st["rows"] >= 0 and st["partitions"]


def test_pipeline_resume_identical(spark, tmp_path):
    """Kill-after-stage-k resume: second run must skip completed stages and
    produce a byte-identical triple set."""
    docs = synth_corpus(spark, 100, partitions=4)
    wd = str(tmp_path / "wd2")
    r1 = run_pipeline(spark, docs, wd, n_buckets=4)
    t1 = sorted(map(tuple, r1.triples.collect()))

    # simulate a later resume (stages already complete -> fn not re-run)
    calls = {"n": 0}
    import p5_rdf_rdb2rdf_spark.pipeline.kgpipeline as kp
    import p5_rdf_rdb2rdf_spark.pipeline.mentions as me

    orig = me.extract_relations

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    me.extract_relations = kp.extract_relations = counting
    try:
        r2 = run_pipeline(spark, docs, wd, n_buckets=4)
    finally:
        me.extract_relations = kp.extract_relations = orig
    t2 = sorted(map(tuple, r2.triples.collect()))
    assert calls["n"] == 0  # stage skipped: resumed from checkpoint
    assert t1 == t2


def test_pipeline_in_memory_matches_checkpointed(spark, tmp_path):
    """checkpoint=False gives the checkpointed run's triples and releases
    every stage frame it persisted once the graph is written. Both modes
    write one stage-record schema."""
    docs = synth_corpus(spark, N_DOCS, partitions=4)
    want = run_pipeline(spark, docs, str(tmp_path / "ckpt"), n_buckets=4)
    spark.catalog.clearCache()
    got = run_pipeline(spark, docs, str(tmp_path / "mem"), n_buckets=4, checkpoint=False)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert sorted(map(tuple, got.triples.collect())) == sorted(
        map(tuple, want.triples.collect())
    )

    common = {"inputs", "meta", "rows", "wall_sec", "materialized"}
    parquet_only = {"dir", "partitions", "completed_at"}
    materialized = {}
    for result in (want, got):
        for stage, rec in result.lineage["stages"].items():
            assert common <= set(rec), (stage, rec)
            assert (rec["rows"] is None) == (rec["materialized"] == "fused")
            if rec["materialized"] == "parquet":
                assert parquet_only <= set(rec), (stage, rec)
            else:
                assert not parquet_only & set(rec), (stage, rec)
            materialized.setdefault(stage, []).append(rec["materialized"])
    assert materialized == {
        "s1_spans": ["parquet", "persist"],
        "s2_relations": ["parquet", "persist"],
        "s3_links": ["parquet", "persist"],
        "s4_canon": ["parquet", "fused"],
        "s5_triples": ["parquet", "fused"],
    }


def test_pipeline_resume_after_crash_mid_stage(spark, tmp_path, monkeypatch):
    """A run killed inside s3, after s2 has checkpointed and with a partial
    ``stage-s3_links/`` left behind, resumes without re-running s1 or s2,
    rewrites s3, and yields a clean run's triples. The lineage manifest
    never lists s3 before s3 completes."""
    import json

    import p5_rdf_rdb2rdf_spark.pipeline.kgpipeline as kp
    from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer

    docs = synth_corpus(spark, 100, partitions=4)
    clean = run_pipeline(spark, docs, str(tmp_path / "clean"), n_buckets=4)
    want = sorted(map(tuple, clean.triples.collect()))

    wd = tmp_path / "wd"
    s3_dir = wd / "stage-s3_links"

    def listed() -> set[str]:
        return set(json.loads((wd / "_lineage.json").read_text())["stages"])

    class Killed(Exception):
        pass

    run_stage = StageCheckpointer.run_stage

    def crash_in_s3(self, stage, fn, *a, **kw):
        if stage != "s3_links":
            return run_stage(self, stage, fn, *a, **kw)

        def dying():
            # the kill lands mid-write: some of s3's output is on disk
            fn().limit(1).write.parquet(str(s3_dir))
            assert listed() == {"s1_spans", "s2_relations"}
            raise Killed

        return run_stage(self, stage, dying, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(StageCheckpointer, "run_stage", crash_in_s3)
        with pytest.raises(Killed):
            run_pipeline(spark, docs, str(wd), n_buckets=4)
    assert listed() == {"s1_spans", "s2_relations"}
    partial = {f.name for f in s3_dir.iterdir()}
    assert any(n.endswith(".parquet") for n in partial)

    calls = {"s1": 0, "s2": 0}

    def counting(key, orig):
        def wrapped(*a, **kw):
            calls[key] += 1
            return orig(*a, **kw)
        return wrapped

    monkeypatch.setattr(kp, "explode_spans", counting("s1", kp.explode_spans))
    monkeypatch.setattr(kp, "extract_relations", counting("s2", kp.extract_relations))
    resumed = run_pipeline(spark, docs, str(wd), n_buckets=4)
    assert calls == {"s1": 0, "s2": 0}  # resumed from their checkpoints
    s3 = resumed.lineage["stages"]["s3_links"]
    assert s3["rows"] == clean.lineage["stages"]["s3_links"]["rows"]
    assert not partial & {f.name for f in s3_dir.iterdir() if f.suffix == ".parquet"}
    assert sorted(map(tuple, resumed.triples.collect())) == want


def test_kg_plan_python_nodes(spark, tmp_path, monkeypatch):
    """The s2 extractor is the only Python node on the KG path: each
    checkpointed stage plan but s2's has none, and with every stage fused
    into one plan the triples plan holds exactly one."""
    import p5_rdf_rdb2rdf_spark.pipeline.kgpipeline as kp
    from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer

    python = ("ArrowEvalPythonExec", "BatchEvalPythonExec")
    stages = ["s1_spans", "s2_relations", "s3_links", "s4_canon", "s5_triples"]
    docs = synth_corpus(spark, 50, partitions=2)

    # checkpointed: each stage's plan starts at the previous checkpoint
    built = {}
    run_stage = StageCheckpointer.run_stage

    def capture(self, stage, fn, *a, **kw):
        return run_stage(self, stage, lambda: built.setdefault(stage, fn()), *a, **kw)

    monkeypatch.setattr(StageCheckpointer, "run_stage", capture)
    run_pipeline(spark, docs, str(tmp_path / "ckpt"), n_buckets=4)
    assert {st: count_nodes(built[st], *python) for st in stages} == {
        st: int(st == "s2_relations") for st in stages
    }

    # fused: one plan from the documents to the triples
    class FuseAll(StageCheckpointer):
        def __init__(self, spark, root=None, fuse=()):
            super().__init__(spark, root, fuse=stages)

    monkeypatch.setattr(kp, "StageCheckpointer", FuseAll)
    built.clear()
    run_pipeline(
        spark, docs, str(tmp_path / "mem"), n_buckets=4,
        audit_invariant=False, checkpoint=False,
    )
    triples = built["s5_triples"]
    assert triples.collect()
    assert count_nodes(triples, *python) == 1


def test_link_score_matches_pandas_formula(spark):
    """The Column-expression link score equals the former pandas UDF's
    formula bit for bit on random Unicode pairs, astral code points included
    (both count string length in code points)."""
    import random

    from p5_rdf_rdb2rdf_spark.pipeline.linking import link_score

    rng = random.Random(7)
    alphabet = "abcXYZ 09-_éß字𝔘"
    pairs = []
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 16)))
        c = s if rng.random() < 0.2 else "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 16))
        )
        pairs.append((s, c))
    surface = pd.Series([s for s, _ in pairs])
    canonical = pd.Series([c for _, c in pairs])
    exact = (surface == canonical).astype(float)
    lp = (surface.str.len() - canonical.str.len()).abs().clip(upper=10) / 100.0
    want = list(exact + (1.0 - exact) * (0.9 - lp))

    df = spark.createDataFrame(
        [(i, s, c) for i, (s, c) in enumerate(pairs)], "i int, s string, c string"
    )
    got = df.select("i", link_score(F.col("s"), F.col("c")).alias("score"))
    got = [r.score for r in sorted(got.collect())]
    assert got == want


def test_cc_merges_aliases(spark):
    """alias surfaces and canonical surfaces land on the same entity."""
    from p5_rdf_rdb2rdf_spark.pipeline.cc import canonicalize

    edges = spark.createDataFrame(
        [("s:alias000", "e:E000"), ("s:entity000", "e:E000"), ("s:entity001", "e:E001")],
        "src string, dst string",
    )
    mapping = {r.node: r.canonical_entity for r in canonicalize(edges).collect()}
    assert mapping["s:alias000"] == "E000"
    assert mapping["s:entity000"] == "E000"
    assert mapping["s:entity001"] == "E001"


def test_cc_chain_converges(spark):
    """A long chain (worst case diameter) still converges under max_iter."""
    from p5_rdf_rdb2rdf_spark.pipeline.cc import connected_components

    n = 30
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    comps = connected_components(edges)
    assert comps.select("component").distinct().count() == 1


def test_cc_driver_and_distributed_paths_identical(spark, monkeypatch):
    """The small-graph union-find fast path and the iterative distributed
    path must produce identical (node, component) output on the same graph,
    including min-label choice across multi-component graphs — and so must
    the two paths of the canonicalization kernel built on them."""
    from p5_rdf_rdb2rdf_spark.pipeline import cc
    from p5_rdf_rdb2rdf_spark.pipeline.cc import canonicalize, connected_components

    # pseudo-random multi-component graph, deterministic
    edges = [(f"n{(i * 7) % 40:03d}", f"n{(i * 11 + 3) % 40:03d}") for i in range(25)]
    edges += [("z:solo_a", "z:solo_b"), ("a:min", "z:big")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert fast == dist and fast

    # canonicalize: bipartite surface/entity links, a duplicate edge, and a
    # component without any entity node (it must drop out on both paths)
    links = [(f"s:{(i * 7) % 30:03d}", f"e:{(i * 11 + 3) % 12:03d}") for i in range(25)]
    links += [("s:dup", "e:900"), ("s:dup", "e:900"), ("s:orphan_a", "s:orphan_b")]
    ldf = spark.createDataFrame(links, "src string, dst string")
    fast = sorted(map(tuple, canonicalize(ldf).collect()))
    monkeypatch.setattr(cc, "DRIVER_THRESHOLD", 0)  # forces the distributed path
    dist = sorted(map(tuple, canonicalize(ldf).collect()))
    assert fast == dist and fast
    assert ("s:dup", "900") in fast and not {"s:orphan_a", "s:orphan_b"} & {n for n, _ in fast}


def test_cc_fast_path_preserves_node_type(spark):
    """Regression (ADVICE r2 #3): long node ids must work through the driver
    fast path (round 2 hardcoded a string schema and raised TypeError) and
    match the distributed path — including numeric min-label choice, where
    e.g. 9 > 10 as strings but 9 < 10 numerically."""
    from p5_rdf_rdb2rdf_spark.pipeline.cc import connected_components

    edges = [(10, 9), (9, 2), (100, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = connected_components(df)
    assert dict(fast.dtypes) == {"node": "bigint", "component": "bigint"}
    f = sorted(map(tuple, fast.collect()))
    d = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert f == d == [(2, 2), (9, 2), (10, 2), (20, 20), (100, 20)]
    # size_hint skips the probe and yields the same result
    h = sorted(map(tuple, connected_components(df, size_hint=len(edges)).collect()))
    assert h == f


def test_cc_chain_distributed_path(spark):
    """Chain convergence on the distributed path specifically."""
    from p5_rdf_rdb2rdf_spark.pipeline.cc import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(30)], "src string, dst string"
    )
    comps = connected_components(edges, driver_threshold=0)
    assert comps.select("component").distinct().count() == 1


def test_cc_frontier_matches_driver_on_random_graph(spark):
    """The frontier-propagation loop (r4: only changed labels probe the edge
    join; broadcast once small) must produce exactly the union-find answer on
    an adversarial mix — stars, chains, rings, bridge edges merging them,
    isolated pairs — under BOTH frontier regimes (always-shuffle via
    frontier_broadcast_rows=0, and always-broadcast via a huge budget)."""
    import random

    from p5_rdf_rdb2rdf_spark.pipeline.cc import connected_components

    rng = random.Random(42)
    edges = []
    for b in range(20):  # stars
        for i in range(1, 8):
            edges.append((b * 100, b * 100 + i))
    for b in range(20, 30):  # chains
        for i in range(1, 12):
            edges.append((b * 100 + i - 1, b * 100 + i))
    for b in range(30, 35):  # rings
        for i in range(10):
            edges.append((b * 100 + i, b * 100 + (i + 1) % 10))
    for _ in range(25):  # random bridges merging blocks
        edges.append((rng.randrange(35) * 100 + rng.randrange(8),
                      rng.randrange(35) * 100 + rng.randrange(8)))
    df = spark.createDataFrame(edges, "src long, dst long")
    want = sorted(map(tuple, connected_components(df).collect()))  # driver oracle
    for budget in (0, 10**9):
        got = sorted(
            map(
                tuple,
                connected_components(
                    df, driver_threshold=0, frontier_broadcast_rows=budget
                ).collect(),
            )
        )
        assert got == want, f"frontier_broadcast_rows={budget}"
    # slim (stale-by-one) pointer doubling decoupled from the frontier
    # regime: broadcast frontier + plain doubling, and shuffle frontier +
    # slim doubling, must both still equal the union-find answer (r5: the
    # slim build side prunes the PREVIOUS labels to false minima — staleness
    # must not change the fixpoint on rings/bridges/chains)
    for budget, slim in ((10**9, 0), (0, 10**9)):
        got = sorted(
            map(
                tuple,
                connected_components(
                    df,
                    driver_threshold=0,
                    frontier_broadcast_rows=budget,
                    slim_doubling_frontier_rows=slim,
                ).collect(),
            )
        )
        assert got == want, f"budget={budget} slim={slim}"


def test_cc_stats_hook(spark):
    """The optional stats dict records the path taken and, on the distributed
    path, the per-iteration shuffle profile the scaling bench reports
    (VERDICT r3 #5); results are unchanged with stats attached."""
    from p5_rdf_rdb2rdf_spark.pipeline.cc import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(30)], "src string, dst string"
    )
    st: dict = {}
    comps = connected_components(edges, driver_threshold=0, stats=st)
    assert comps.select("component").distinct().count() == 1
    assert st["path"] == "distributed" and st["n_nodes"] == 31
    assert st["iterations"] == len(st["iter_wall_sec"]) == len(st["iter_changed"])
    assert st["iterations"] == len(st["iter_slim_doubling"])
    assert st["iterations"] >= 2 and st["iter_changed"][-1] == 0
    # pointer doubling: a 30-hop chain converges in ~log2 rounds, not 30
    assert st["iterations"] <= 8

    st2: dict = {}
    connected_components(edges, stats=st2).collect()
    assert st2 == {"path": "driver", "n_edges": 30}


def test_fused_extractor_re2_and_pandas_paths_identical(spark, monkeypatch):
    """The RE2 (pyarrow extract_regex) fast path must be byte-identical to
    the pandas fallback on matching, non-matching and NULL texts — including
    the struct-validity fix (extract_regex leaves child fields unmasked for
    misses). Backtracking patterns must route to the fallback."""
    from p5_rdf_rdb2rdf_spark.pipeline import mentions
    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import template_patterns

    pats = [p for p, _ in template_patterns()]
    assert mentions._re2_compatible(pats) is not None
    assert mentions._re2_compatible([r"^(?P<a>\S+) (?P=a) (?P<b>\S+)$"]) is None

    texts = [
        "entity001 works at entity002 .",
        "no relation in this span",
        None,
        "alias000 wrote entity099 .",
        "entity003 knows entity004 .",
        "entity005 works at two tokens here .",  # b must be \S+ -> no match
        "entity006 works at entity007 .\n",  # trailing \n: Python $ matches
        "entity008 x works at entity009 .",  # NBSP: Python \S excludes
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    fast = df.select(mentions.fused_extractor(pats)("text").alias("r")).collect()
    monkeypatch.setattr(mentions, "_re2_compatible", lambda _p: None)
    slow = df.select(mentions.fused_extractor(pats)("text").alias("r")).collect()
    assert fast == slow
    # sanity: the matching rows actually extracted
    assert fast[0].r.a0 == "entity001" and fast[0].r.b0 == "entity002"
    assert fast[1].r.a0 is None and fast[1].r.a1 is None and fast[1].r.a2 is None
    assert fast[3].r.a1 == "alias000" and fast[4].r.b2 == "entity004"
    assert fast[5].r.a0 is None  # greedy \S+ must not span the extra tokens
    # the two verified RE2-vs-Python divergences, pinned to Python semantics
    assert fast[6].r.a0 == "entity006" and fast[6].r.b0 == "entity007"
    assert fast[7].r.a0 is None  # NBSP is whitespace to Python's \S


def test_re2_rewrite_matches_python_whitespace_exhaustively():
    """_PY_WS must equal Python re's \\s over the whole BMP: the rewritten
    class [^_PY_WS] is then exactly Python's \\S under RE2."""
    import re as _re

    import pyarrow as pa
    import pyarrow.compute as pc

    from p5_rdf_rdb2rdf_spark.pipeline.mentions import _re2_equivalent

    pat = _re2_equivalent(r"^(?P<a>\S+) (?P<b>\s*)$")
    assert pat is not None
    py = _re.compile(r"^\s$")
    chars = [chr(c) for c in range(0x10000) if chr(c) not in "\ud800"]
    ws_py = {c for c in chars if 0xD800 > ord(c) or ord(c) > 0xDFFF}
    ws_py = {c for c in ws_py if py.match(c)}
    arr = pa.array(sorted(ws_py) + ["a", "entity", "­"])
    m = pc.extract_regex(arr, _re2_equivalent(r"^(?P<a>\s)$"))
    got_ws = {arr[i].as_py() for i in range(len(arr)) if m.is_valid()[i].as_py()}
    assert got_ws == ws_py
    # divergence guards: non-trailing $, \w, \d, classes -> fallback (None)
    assert _re2_equivalent(r"a$|b") is None
    assert _re2_equivalent(r"(?P<a>\w+)") is None
    assert _re2_equivalent(r"(?P<a>[0-9]+)") is None
    assert _re2_equivalent(r"(?i)(?P<a>x)") is None


def test_re2_rewrite_rejects_escaped_backslash():
    """ADVICE r5 #1: ``\\\\s`` in a pattern is a LITERAL backslash followed
    by ``s`` — the str.replace rewrite would turn its ``\\s`` tail into the
    whitespace class and silently change what the RE2 fast path matches.
    Any pattern carrying an escaped backslash must route to the pandas
    fallback wholesale."""
    import re as _re

    from p5_rdf_rdb2rdf_spark.pipeline.mentions import (
        _re2_compatible,
        _re2_equivalent,
    )

    pat = r"^(?P<a>x\\sy) (?P<b>z)$"  # \\s: literal backslash then 's'
    assert _re2_equivalent(pat) is None
    assert _re2_compatible([pat]) is None
    # the Python semantics the fallback preserves: matches backslash+s
    assert _re.match(pat, "x\\sy z")
    assert not _re.match(pat, "x y z")
    # plain \S/\s rewrites still take the RE2 path
    assert _re2_equivalent(r"^(?P<a>\S+) (?P<b>\s*)$") is not None


def test_literal_anchor_necessary_conditions():
    """literal_anchor returns a substring every match must contain, or None
    when no literal is guaranteed (alternation, optional content, inline
    case-insensitivity) — the soundness contract of the JVM prefilter."""
    import re

    from p5_rdf_rdb2rdf_spark.pipeline.mentions import literal_anchor
    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import template_patterns

    for rx, _pred in template_patterns():
        a = literal_anchor(rx)
        assert a is not None
    assert literal_anchor(r"^(?P<a>\S+) works at (?P<b>\S+) \.$") == " works at "
    assert literal_anchor(r"(?P<a>\w+)-(?P<b>\w+)") == "-"
    # no guaranteed literal -> None, never a wrong anchor
    assert literal_anchor(r"(foo|bar)(?P<a>.)(?P<b>.)") is None
    assert literal_anchor(r"(?P<a>\S+)(?: maybe )?(?P<b>\S+)") is None
    assert literal_anchor(r"(?i)(?P<a>\S+) AT (?P<b>\S+)") is None
    # property check: anchor is present in every matching string
    rx = r"^(?P<a>\S+) works at (?P<b>\S+) \.$"
    anchor = literal_anchor(rx)
    for s in ["x works at y .", "a works at b ."]:
        assert re.match(rx, s) and anchor in s


def test_extract_relations_prefilter_identical_and_jvm_side(spark):
    """The anchor prefilter must change the PLAN (codegen'd Contains filter
    below the Arrow node) and never the RESULT — including spans that
    contain an anchor but fail the full regex (VERDICT r6 #2)."""
    from p5_rdf_rdb2rdf_spark.pipeline.mentions import extract_relations
    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import template_patterns

    rows = [
        ("d1", 0, "entity001 works at entity002 ."),
        ("d1", 1, "no anchor in this span at all"),
        ("d2", 0, None),
        ("d2", 1, "has works at anchor but too many tokens works at ."),
        ("d3", 0, "alias000 wrote entity099 ."),
    ] + [("dup", i, "entity001 knows entity002 .") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, offset int, text string")
    pats = template_patterns()
    on = extract_relations(df, pats, prefilter=True)
    off = extract_relations(df, pats, prefilter=False)
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))
    plan = on._jdf.queryExecution().executedPlan().toString()
    assert "Contains" in plan and "ArrowEvalPython" in plan
    # the filter runs BEFORE the Arrow boundary: Contains appears after
    # (deeper than) the ArrowEvalPython line in the tree printout
    assert plan.index("Contains") > plan.index("ArrowEvalPython")
    # a pattern with no guaranteed literal disables the filter entirely
    unsafe = pats + [(r"(?P<a>.)(x|y)(?P<b>.)", "http://example.org/p")]
    plan2 = (
        extract_relations(df, unsafe, prefilter=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Contains" not in plan2


def test_fused_extractor_batch_dedup_paths_identical(spark, monkeypatch):
    """The within-batch factorize dedup (heavy-duplicate batches run each
    distinct text through the regex once) must be value-identical to the
    direct path on BOTH engines — duplicates, all-distinct, and null
    texts."""
    from p5_rdf_rdb2rdf_spark.pipeline import mentions
    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import template_patterns

    pats = [p for p, _ in template_patterns()]
    dup_texts = (
        ["entity001 works at entity002 ."] * 30
        + ["alias000 wrote entity099 ."] * 10
        + [None, "no match here"] * 5
    )
    distinct_texts = [f"entity{i:03d} knows entity{(i+1)%100:03d} ." for i in range(40)]
    for texts in (dup_texts, distinct_texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string").coalesce(1)
        fast = df.select(mentions.fused_extractor(pats)("text").alias("r")).collect()
        monkeypatch.setattr(mentions, "_re2_compatible", lambda _p: None)
        slow = df.select(mentions.fused_extractor(pats)("text").alias("r")).collect()
        monkeypatch.undo()
        assert fast == slow
        # positional integrity: row i's extraction matches row i's text
        for t, row in zip(texts, fast):
            if t == "entity001 works at entity002 .":
                assert row.r.a0 == "entity001" and row.r.b0 == "entity002"
            elif t is None or t == "no match here":
                assert row.r.a0 is None and row.r.a1 is None and row.r.a2 is None


def test_build_triples_matches_two_branch_reference_and_plan(spark):
    """r8 fused triple construction: `build_triples` tag-explodes fact and
    provenance key tuples through ONE dropDuplicates instead of two
    branches. Pins (a) exact set equality with the r7 two-branch reference
    on data with planted duplicate facts AND duplicate provenance pairs,
    (b) genuine set semantics (no duplicates survive), (c) exactly one
    hash-partitioned dedup exchange in the plan (the broadcast exchanges
    for the canon map don't count)."""
    from pyspark.sql import functions as F

    from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import (
        DOC_NS,
        MENTIONS_PRED,
        build_triples,
    )
    from p5_rdf_rdb2rdf_spark.pipeline.corpus import KG
    from p5_rdf_rdb2rdf_spark.terms import KIND_IRI

    surfaces = {"alice": "e1", "acme": "e2", "bob": "e3"}
    canon_rows = [(s, e) for s, e in surfaces.items()]
    canon = spark.createDataFrame(canon_rows, "surface string, entity_id string").select(
        F.xxhash64("surface", F.lit(0)).alias("h0"),
        F.xxhash64("surface", F.lit(1)).alias("h1"),
        "entity_id",
    )

    # (doc_id, offset, pred, subj_surface, obj_surface): doc-1 repeats the
    # same fact twice (duplicate fact AND duplicate prov pair); doc-2
    # repeats a fact seen in doc-1 (duplicate fact, distinct prov); one
    # relation has an unlinked surface (inner join drops it)
    raw = [
        ("doc-1", 0, KG + "worksAt", "alice", "acme"),
        ("doc-1", 7, KG + "worksAt", "alice", "acme"),
        ("doc-1", 9, KG + "knows", "alice", "bob"),
        ("doc-2", 0, KG + "worksAt", "alice", "acme"),
        ("doc-2", 3, KG + "knows", "bob", "unlinked"),
    ]
    rel = spark.createDataFrame(
        raw, "doc_id string, offset int, pred string, subj_surface string, obj_surface string"
    ).select(
        "doc_id", "offset", "pred",
        F.xxhash64("subj_surface", F.lit(0)).alias("subj_h0"),
        F.xxhash64("subj_surface", F.lit(1)).alias("subj_h1"),
        F.xxhash64("obj_surface", F.lit(0)).alias("obj_h0"),
        F.xxhash64("obj_surface", F.lit(1)).alias("obj_h1"),
    )

    got = build_triples(rel, canon)

    # r7 two-branch reference shape, built inline
    c = F.broadcast(canon)
    subj = c.select(F.col("h0").alias("subj_h0"), F.col("h1").alias("subj_h1"),
                    F.col("entity_id").alias("subj_entity"))
    obj = c.select(F.col("h0").alias("obj_h0"), F.col("h1").alias("obj_h1"),
                   F.col("entity_id").alias("obj_entity"))
    j = rel.join(subj, ["subj_h0", "subj_h1"], "inner").join(obj, ["obj_h0", "obj_h1"], "inner")
    nulls = [F.lit(None).cast("string").alias(n) for n in ("o_datatype", "o_lang", "g_value")]
    fact = (j.select("subj_entity", "pred", "obj_entity").dropDuplicates()
            .select(F.lit(KIND_IRI).alias("s_kind"),
                    F.concat(F.lit(KG), F.col("subj_entity")).alias("s_value"),
                    F.col("pred").alias("p_value"), F.lit(KIND_IRI).alias("o_kind"),
                    F.concat(F.lit(KG), F.col("obj_entity")).alias("o_value"), *nulls))
    prov = (j.select("doc_id", "subj_entity").dropDuplicates()
            .select(F.lit(KIND_IRI).alias("s_kind"),
                    F.concat(F.lit(DOC_NS), F.col("doc_id")).alias("s_value"),
                    F.lit(MENTIONS_PRED).alias("p_value"), F.lit(KIND_IRI).alias("o_kind"),
                    F.concat(F.lit(KG), F.col("subj_entity")).alias("o_value"), *nulls))
    want = fact.unionByName(prov)

    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w
    assert len(g) == len(set(g))  # genuine set: planted duplicates collapsed
    # 2 distinct facts + 2 distinct (doc, subj) prov pairs (the unlinked-
    # object relation is dropped whole by the inner join, prov included)
    assert len(g) == 4

    # one dedup exchange in the final (AQE) plan tree
    assert count_nodes(got, "ShuffleExchangeExec") == 1
