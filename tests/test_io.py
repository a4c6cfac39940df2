"""GraphTable (predicate-bucket partitioning, snapshots) + checkpointer."""

from __future__ import annotations

from pyspark.sql import functions as F

from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
from p5_rdf_rdb2rdf_spark.fixtures import CONSTRAINTS
from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer
from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
from plan_nodes import EXCHANGES, count_nodes

BASE = "http://example.com/base/"


def test_graph_table_roundtrip_and_snapshots(spark, tables, tmp_path):
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gt"), n_buckets=4)
    snap1 = gt.write(triples, lineage={"stage": "test"})
    back = gt.read()
    want = sorted(map(tuple, triples.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want

    # second snapshot chains to the first and both stay readable
    snap2 = gt.write(triples.where(F.col("p_value").contains("title")))
    assert gt.current_snapshot()["id"] == snap2
    assert gt.current_snapshot()["parent"] == snap1
    assert gt.read(snap1).count() == len(want)
    meta = gt.current_snapshot()
    assert meta["total_rows"] == sum(meta["partition_rows"].values())


def test_graph_table_predicate_pruning(spark, tables, tmp_path):
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gt2"), n_buckets=4)
    gt.write(triples)
    pred = f"{BASE}books#title"
    df = gt.read_predicate(pred)
    want = triples.where(F.col("p_value") == pred).count()
    assert df.count() == want
    # partition filter must appear in the plan (directory pruning)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pred_bucket" in plan


def test_graph_table_fused_dedup_single_exchange(spark, tables, tmp_path):
    """write(dedup=True) must apply set semantics in the SAME shuffle as the
    bucketed write: exactly one Exchange in the plan (the repartition), with
    the distinct aggregate running on the already-clustered data — and the
    written snapshot must equal a caller-side dropDuplicates + write."""
    from pyspark.sql import functions as F  # noqa: F811

    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    dup = triples.unionByName(triples)  # guaranteed duplicates

    gt = GraphTable(spark, str(tmp_path / "gtf"), n_buckets=4)
    snap = gt.write(dup, dedup=True)
    got = sorted(map(tuple, gt.read(snap).collect()))
    want = sorted(map(tuple, triples.collect()))
    assert got == want

    # plan audit: build the same frame the writer writes and count exchanges —
    # the distinct's full-key shuffle is the only one; the pred_bucket sort
    # is partition-local (no Exchange). Single-branch input so the count is
    # exact (a union contributes one ENSURE exchange per branch, same shuffle).
    df = (
        triples.dropDuplicates(
            ["s_kind", "s_value", "p_value", "o_kind", "o_value",
             "o_datatype", "o_lang", "g_value"]
        )
        .withColumn(
            "pred_bucket", F.pmod(F.xxhash64(F.col("p_value")), F.lit(4)).cast("int")
        )
        .sortWithinPartitions("pred_bucket")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_nodes(df, *EXCHANGES) == 1, plan
    assert "REPARTITION" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan  # sort stayed local


def test_graph_table_manifest_bucket_map_no_extra_job(spark, tables, tmp_path, monkeypatch):
    """VERDICT r2 next-round #7: the write-time manifest carries the
    predicate->bucket map, so a bound-predicate read schedules ONLY the
    pruned scan — the 1-row bucket job must not run for known predicates,
    and runs at most once (memoized) for unknown ones. The map is collected
    only for closed_vocabulary tables (r5)."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gt3"), n_buckets=4, closed_vocabulary=True)
    gt.write(triples)
    snap = gt.current_snapshot()
    preds = {r.p_value for r in triples.select("p_value").distinct().collect()}
    assert set(snap["pred_buckets"]) == preds

    calls = {"n": 0}
    real = GraphTable._bucket_via_job

    def counting(self, predicate):
        calls["n"] += 1
        return real(self, predicate)

    monkeypatch.setattr(GraphTable, "_bucket_via_job", counting)
    pred = f"{BASE}books#title"
    df = gt.read_predicate(pred)
    assert df.count() == triples.where(F.col("p_value") == pred).count()
    assert calls["n"] == 0  # manifest hit: no bucket-computation job

    # unknown predicate: fallback job runs exactly once across repeat queries
    assert gt.read_predicate("http://nowhere/p").count() == 0
    assert gt.read_predicate("http://nowhere/p").count() == 0
    assert calls["n"] == 2  # two read_predicate calls hit the counting shim...
    assert len(gt._bucket_cache) == 1  # ...but only one Spark job was memoized


def test_graph_table_iceberg_write_contract(spark, tables, monkeypatch, tmp_path):
    """VERDICT r2 next-round #5: the Iceberg branches are the declared 100 TB
    production path but no jar ships in this sandbox — pin their call shape
    with a fake DataFrameWriterV2 so signature drift fails loudly:
    writeTo(<catalog.table>).using('iceberg').partitionedBy(bucket(K,
    p_value)).createOrReplace() on overwrite; .append() on append; reads via
    spark.table; bound-predicate reads filter p_value only (hidden
    partitioning prunes)."""
    calls = []

    class FakeWriter:
        def __init__(self, ref):
            calls.append(("writeTo", ref))

        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", [str(c) for c in cols]))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace",))

        def append(self):
            calls.append(("append",))

    class FakeSnapDF:
        def head(self):
            return [4242]

    sqls = []

    def fake_sql(q):
        sqls.append(q)
        return FakeSnapDF()

    monkeypatch.setattr(spark, "sql", fake_sql, raising=False)
    spark.conf.set("spark.sql.catalog.fakecat", "org.example.FakeCatalog")
    try:
        triples = direct_map(spark, {"dept": tables["dept"]}, CONSTRAINTS, base=BASE)
        # patch the concrete DataFrame class (pyspark 4 dispatches writeTo on
        # the classic subclass, not the pyspark.sql.DataFrame base)
        monkeypatch.setattr(type(triples), "writeTo", lambda self, ref: FakeWriter(ref))
        gt = GraphTable(
            spark, str(tmp_path / "unused"), n_buckets=8,
            iceberg_catalog="fakecat", iceberg_table="graph",
        )
        assert gt.iceberg and gt.iceberg_ref == "fakecat.graph"

        snap = gt.write(triples, mode="overwrite")
        assert snap == "4242"
        assert ("writeTo", "fakecat.graph") in calls and ("using", "iceberg") in calls
        pby = next(c for c in calls if c[0] == "partitionedBy")
        assert any("bucket" in s and "p_value" in s for s in pby[1]), pby
        assert ("createOrReplace",) in calls and ("append",) not in calls
        assert "fakecat.graph.snapshots" in sqls[-1]

        calls.clear()
        gt.write(triples, mode="append")
        assert ("append",) in calls
        assert not any(c[0] == "partitionedBy" for c in calls)  # spec fixed at creation

        tabled = []
        monkeypatch.setattr(
            spark, "table",
            lambda ref: tabled.append(ref) or triples.limit(0),
            raising=False,
        )
        gt.read()
        df = gt.read_predicate(f"{BASE}dept#dname")
        assert tabled == ["fakecat.graph", "fakecat.graph"]
        assert "p_value" in df._jdf.queryExecution().logical().toString()
    finally:
        spark.conf.unset("spark.sql.catalog.fakecat")


def test_graph_table_incremental_merge(spark, tables, tmp_path):
    """merge() chains delta snapshots: only rows new to the graph are
    written, read()/read_predicate() union the chain, re-merging known
    triples is an idempotent empty delta, and the final graph equals the
    full-rewrite result exactly."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    first = triples.where(F.col("p_value").contains("books"))
    rest = triples  # overlaps `first` — the anti-join must drop the overlap

    # closed_vocabulary so the manifest map drives the disjoint-predicate
    # join skip asserted below; the generic path is covered separately
    gt = GraphTable(spark, str(tmp_path / "gtm"), n_buckets=4, closed_vocabulary=True)
    s1 = gt.merge(first)
    n1 = gt.current_snapshot()["total_rows"]
    assert n1 == first.distinct().count()

    s2 = gt.merge(rest)
    snap2 = gt.current_snapshot()
    want = sorted(map(tuple, triples.collect()))
    assert sorted(map(tuple, gt.read().collect())) == want
    assert snap2["total_rows"] == len(want)
    assert snap2["delta_rows"] == len(want) - n1  # only the new rows written
    assert snap2["dirs"][0] == gt._snapshot(s1)["dir"]

    # idempotent: merging already-known triples appends an empty delta
    s3 = gt.merge(first)
    snap3 = gt.current_snapshot()
    assert snap3["delta_rows"] == 0 and snap3["total_rows"] == len(want)
    assert sorted(map(tuple, gt.read(s3).collect())) == want

    # bound-predicate read prunes across the whole chain
    pred = f"{BASE}books#title"
    assert gt.read_predicate(pred).count() == triples.where(
        F.col("p_value") == pred
    ).count()
    # earlier snapshots stay readable (time travel along the chain)
    assert gt.read(s1).count() == n1

    # disjoint-predicate delta: manifest bucket map proves no overlap is
    # possible, so the anti-join is skipped entirely (no Join in the plan)
    novel = triples.limit(5).withColumn("p_value", F.lit("http://new/pred"))
    delta = gt._delta_against(gt.current_snapshot(), novel)
    assert "Join" not in delta._jdf.queryExecution().optimizedPlan().toString()
    gt.merge(novel)
    assert gt.current_snapshot()["delta_rows"] == novel.distinct().count()
    assert gt.read_predicate("http://new/pred").count() == novel.distinct().count()

    # overlapping-predicate delta: the parent side is pruned to the touched
    # predicate buckets before the anti-join
    some = triples.where(F.col("p_value") == pred)
    delta2 = gt._delta_against(gt.current_snapshot(), some)
    plan2 = delta2._jdf.queryExecution().optimizedPlan().toString()
    assert "pred_bucket" in plan2 and "Join" in plan2
    assert delta2.count() == 0  # fully known -> empty

    # compaction: the chain collapses to a single-directory snapshot with
    # identical content, a rebuilt bucket map, and time travel intact
    pre = sorted(map(tuple, gt.read().collect()))
    chain_len = len(gt.current_snapshot()["dirs"])
    assert chain_len >= 3
    sc = gt.compact()
    snapc = gt.current_snapshot()
    assert snapc["id"] == sc and "dirs" not in snapc  # single directory again
    assert snapc["lineage"]["chain_len"] == chain_len
    assert sorted(map(tuple, gt.read().collect())) == pre
    assert set(snapc["pred_buckets"]) == {t[2] for t in pre}
    assert gt.read(s1).count() == n1  # pre-compaction snapshots still readable
    # post-compaction merge anti-joins against ONE directory
    assert gt._delta_against(snapc, some).count() == 0


def test_graph_table_write_single_input_scan(spark, tables, tmp_path, monkeypatch):
    """VERDICT r3 #4: a snapshot write must read its input EXACTLY ONCE —
    the per-bucket counts and predicate->bucket map now ride the write's own
    pass as Observation metrics, so ``_read_dirs`` (the former read-back
    verification scan: a full extra scan per materialization at 100 TB) must
    never run inside write(), and the manifest metrics must equal what the
    read-back used to compute. (r5: row counts moved from Observation
    metrics to parquet-footer metadata reads — still zero data scans;
    the predicate map still rides the write pass for closed_vocabulary.)"""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gtobs"), n_buckets=4, closed_vocabulary=True)
    calls = {"n": 0}
    real = GraphTable._read_dirs

    def counting(self, dirs):
        calls["n"] += 1
        return real(self, dirs)

    monkeypatch.setattr(GraphTable, "_read_dirs", counting)
    gt.write(triples)
    assert calls["n"] == 0, "write() ran a read-back scan"
    snap = gt.current_snapshot()
    assert snap["total_rows"] == triples.count()
    preds = {r.p_value for r in triples.select("p_value").distinct().collect()}
    assert set(snap["pred_buckets"]) == preds
    assert sum(snap["partition_rows"].values()) == snap["total_rows"]
    assert snap["chain_len"] == 1


def test_graph_table_auto_compaction(spark, tables, tmp_path):
    """VERDICT r3 #6: with max_chain_len=K a merge that would leave a longer
    chain auto-compacts it into a single-directory snapshot — content
    identical, chain length surfaced per snapshot, time travel intact."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    batches = [
        triples.where(F.pmod(F.xxhash64("s_value", "p_value"), F.lit(4)) == i)
        for i in range(4)
    ]
    gt = GraphTable(spark, str(tmp_path / "gtac"), n_buckets=4, max_chain_len=2)
    s1 = gt.merge(batches[0])
    assert gt.current_snapshot()["chain_len"] == 1
    gt.merge(batches[1])
    assert gt.current_snapshot()["chain_len"] == 2
    gt.merge(batches[2])  # would be 3 > 2 -> auto-compact
    snap = gt.current_snapshot()
    assert snap["chain_len"] == 1 and "dirs" not in snap
    assert snap["lineage"]["auto_compacted"] is True
    assert snap["lineage"]["chain_len"] == 3  # what was collapsed
    gt.merge(batches[3])
    assert gt.current_snapshot()["chain_len"] == 2
    want = sorted(map(tuple, triples.dropDuplicates().collect()))
    assert sorted(map(tuple, gt.read().collect())) == want
    assert gt.read(s1).count() == batches[0].dropDuplicates().count()  # time travel
    # read plans stay bounded: at most max_chain_len scan branches
    plan = gt.read()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") <= 2


def test_graph_table_merge_forwards_first_write_hints(spark, tables, tmp_path, monkeypatch):
    """ADVICE r3 #5: merge() on an empty table must forward the caller's
    dedup/distribute hints to write(), so a huge already-distinct first
    batch skips the full-key distinct shuffle and the write repartition."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gth"), n_buckets=4)
    seen = {}
    real = GraphTable.write

    def capture(self, df, mode="overwrite", lineage=None, dedup=False, distribute=True):
        seen.update(dedup=dedup, distribute=distribute)
        return real(self, df, mode=mode, lineage=lineage, dedup=dedup, distribute=distribute)

    monkeypatch.setattr(GraphTable, "write", capture)
    gt.merge(triples, dedup=False, distribute=False)
    assert seen == {"dedup": False, "distribute": False}
    assert gt.current_snapshot()["total_rows"] == triples.count()


def test_graph_table_iceberg_merge_uses_merge_into(spark, tables, monkeypatch, tmp_path):
    """Iceberg merge contract (ADVICE r3 #1 + VERDICT r4 next-round #8):
    merge on an EXISTING table must emit an atomic
    ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT *`` with a null-safe ON
    clause over every triple column — never createOrReplace (which replaced
    the whole table with the batch), and no longer the racy
    anti-join+append. Merge on a missing table creates it; compact()
    refuses (catalog-side rewrite_data_files) instead of replacing the
    table with a read of itself."""
    calls = []
    sqls = []

    class FakeWriter:
        def __init__(self, ref):
            calls.append(("writeTo", ref))

        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy",))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace",))

        def append(self):
            calls.append(("append",))

    class FakeSnapDF:
        def head(self):
            return [7]

    def fake_sql(q):
        sqls.append(q)
        return FakeSnapDF()

    monkeypatch.setattr(spark, "sql", fake_sql, raising=False)
    spark.conf.set("spark.sql.catalog.fakecat", "org.example.FakeCatalog")
    try:
        triples = direct_map(spark, {"dept": tables["dept"]}, CONSTRAINTS, base=BASE)
        monkeypatch.setattr(type(triples), "writeTo", lambda self, ref: FakeWriter(ref))
        gt = GraphTable(
            spark, str(tmp_path / "unused"), n_buckets=8,
            iceberg_catalog="fakecat", iceberg_table="graph",
        )

        # table does not exist yet -> merge creates it (overwrite is correct here)
        monkeypatch.setattr(
            spark.catalog, "tableExists", lambda ref: False, raising=False
        )
        gt.merge(triples)
        assert ("createOrReplace",) in calls
        assert not any(s.startswith("MERGE INTO") for s in sqls)

        # table exists -> one atomic MERGE INTO, no writer calls at all
        calls.clear()
        sqls.clear()
        monkeypatch.setattr(
            spark.catalog, "tableExists", lambda ref: True, raising=False
        )
        gt.merge(triples)
        merge_sqls = [s for s in sqls if s.startswith("MERGE INTO")]
        assert len(merge_sqls) == 1, sqls
        m = merge_sqls[0]
        assert m.startswith("MERGE INTO fakecat.graph t USING __gt_merge_src_")
        assert m.endswith("WHEN NOT MATCHED THEN INSERT *")
        from p5_rdf_rdb2rdf_spark.terms import TRIPLE_COLUMNS

        for c in TRIPLE_COLUMNS:  # null-safe equality on EVERY key column
            assert f"t.{c} <=> s.{c}" in m, m
        assert "WHEN MATCHED" not in m  # set semantics: never update/delete
        assert calls == []  # no createOrReplace / append on the existing table
        # the temp view is cleaned up even though fake_sql never reads it
        assert not any(
            v.name.startswith("__gt_merge_src_")
            for v in spark.catalog.listTables()
        )

        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="rewrite_data_files"):
            gt.compact()
    finally:
        spark.conf.unset("spark.sql.catalog.fakecat")


def test_graph_table_wide_vocabulary_caps(spark, tmp_path, monkeypatch):
    """Wide-predicate-vocabulary guard rails: past MAX_MANIFEST_PREDICATES
    the manifest stores NO predicate map (bound reads fall back to the
    memoized bucket job, still correct); past MAX_PRUNE_PREDICATES the
    merge delta anti-joins the un-pruned parent instead of collecting the
    batch's predicate list driver-side (ADVICE r3 #3)."""
    from p5_rdf_rdb2rdf_spark.io import graph_table as gtmod

    monkeypatch.setattr(gtmod, "MAX_MANIFEST_PREDICATES", 5)
    monkeypatch.setattr(gtmod, "MAX_PRUNE_PREDICATES", 5)

    wide = spark.range(40).select(
        F.lit("iri").alias("s_kind"),
        F.concat(F.lit("http://e/s"), F.col("id").cast("string")).alias("s_value"),
        F.concat(F.lit("http://e/p"), F.col("id").cast("string")).alias("p_value"),
        F.lit("literal").alias("o_kind"),
        F.col("id").cast("string").alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("g_value"),
    )
    # closed_vocabulary declared but WRONG (vocabulary wider than the cap):
    # the cap must still drop the map and mark it incomplete
    gt = gtmod.GraphTable(
        spark, str(tmp_path / "gtw"), n_buckets=4, closed_vocabulary=True
    )
    gt.write(wide)
    snap = gt.current_snapshot()
    assert snap["pred_buckets"] == {}  # map dropped, manifest stays small
    assert snap["pred_map_complete"] is False
    assert snap["total_rows"] == 40  # counts still recorded
    # bound-predicate read: fallback bucket job, correct result
    assert gt.read_predicate("http://e/p7").count() == 1

    # CAPPED-MAP REGRESSION (pre-r5 bug): a <=MAX_PRUNE_PREDICATES batch of
    # triples the graph already knows must NOT skip the anti-join just
    # because the (dropped) map doesn't list its predicates — that inference
    # is only sound for a complete map; skipping appended duplicates here.
    known_small = wide.where(F.col("p_value").isin("http://e/p1", "http://e/p2"))
    delta_small = gt._delta_against(snap, known_small)
    assert delta_small.count() == 0  # fully known -> empty, via hash-pruned join
    gt.merge(known_small)
    assert gt.current_snapshot()["delta_rows"] == 0
    assert gt.read().count() == 40  # no duplicates appended

    # merge with >cap distinct predicates: un-pruned anti-join, exact delta
    more = wide.withColumn(
        "o_value", F.concat(F.col("o_value"), F.lit("x"))
    )  # same 40 predicates, new objects
    snap = gt.current_snapshot()
    delta = gt._delta_against(snap, wide.unionByName(more))
    plan = delta._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert "pred_bucket" not in plan.split("Join")[0]  # no bucket prune filter
    assert delta.count() == 40  # only the new-object rows survive
    gt.merge(wide.unionByName(more))
    assert gt.current_snapshot()["delta_rows"] == 40
    assert gt.read().count() == 80


def test_graph_table_generic_path_collects_no_predicate_map(
    spark, tables, tmp_path, monkeypatch
):
    """VERDICT r4 What's-wrong #1 / next-round #2: by DEFAULT (generic
    vocabulary) write() must not run the collect_set Observation at all —
    the metric materializes the full distinct predicate set in task buffers
    and on the driver before any cap applies. The manifest then carries no
    map, bound-predicate reads stay correct via the memoized fallback job,
    and merge pruning computes buckets by pure hash: the anti-join is
    bucket-pruned AND never skipped, so idempotence holds without the map."""
    triples = direct_map(spark, tables, CONSTRAINTS, base=BASE)
    gt = GraphTable(spark, str(tmp_path / "gtg"), n_buckets=4)

    observed = []
    df_cls = type(triples)
    real_observe = df_cls.observe

    def counting(self, *a, **kw):
        observed.append(a)
        return real_observe(self, *a, **kw)

    monkeypatch.setattr(df_cls, "observe", counting)
    gt.write(triples)
    assert observed == []  # no Observation pass at all on the generic path
    snap = gt.current_snapshot()
    assert snap["pred_buckets"] == {} and snap["pred_map_complete"] is False
    assert snap["total_rows"] == triples.count()
    assert sum(snap["partition_rows"].values()) == snap["total_rows"]

    # bound-predicate read: fallback bucket job, pruned scan, correct rows
    pred = f"{BASE}books#title"
    df = gt.read_predicate(pred)
    assert df.count() == triples.where(F.col("p_value") == pred).count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pred_bucket" in plan  # directory pruning still happens

    # merge pruning without a map: hash-computed buckets prune the parent,
    # the join still runs (never skipped on an incomplete map)
    some = triples.where(F.col("p_value") == pred)
    delta = gt._delta_against(snap, some)
    dplan = delta._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in dplan and "pred_bucket" in dplan
    assert delta.count() == 0  # fully known -> empty
    gt.merge(some)
    assert gt.current_snapshot()["delta_rows"] == 0  # idempotent without map
    assert gt.read().count() == triples.count()


def test_checkpointer_resume_and_lineage(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id"))

    a = ck.run_stage("s1", build, inputs=["src"], meta={"k": "v"})
    assert a.count() == 10 and calls["n"] == 1
    b = ck.run_stage("s1", build)
    assert b.count() == 10 and calls["n"] == 1  # resumed, not re-run
    lin = ck.lineage()["stages"]["s1"]
    assert lin["rows"] == 10 and lin["inputs"] == ["src"] and lin["meta"] == {"k": "v"}
    assert sum(p["rows"] for p in lin["partitions"]) == 10

    ck.reset_from("s1")
    ck.run_stage("s1", build)
    assert calls["n"] == 2  # re-ran after invalidation

    # a fused stage is recorded but holds no checkpoint: never skipped
    ck = StageCheckpointer(spark, str(tmp_path / "ck"), fuse={"f"})
    for n in (3, 4):
        assert ck.run_stage("f", build, inputs=["s1"]).count() == 10
        assert calls["n"] == n
    assert ck.lineage()["stages"]["f"]["materialized"] == "fused"
    assert not (tmp_path / "ck" / "stage-f").exists()
    ck.reset_from("s1")
    assert ck.lineage()["stages"] == {}


def test_checkpointer_resumes_pre_materialized_lineage(spark, tmp_path):
    """A checkpoint directory whose lineage records predate the
    ``materialized`` key still resumes."""
    import json

    root = tmp_path / "old"
    spark.range(5).write.parquet(str(root / "stage-s1"))
    (root / "_lineage.json").write_text(json.dumps({"stages": {"s1": {
        "dir": str(root / "stage-s1"), "inputs": [], "rows": 5,
        "partitions": [{"partition": 0, "rows": 5}], "wall_sec": 0.1,
        "completed_at": 1.0, "meta": {},
    }}}))
    ck = StageCheckpointer(spark, str(root))

    def build():
        raise AssertionError("a complete stage must not re-run")

    assert ck.run_stage("s1", build).count() == 5


def test_checkpointer_without_root_persists_or_fuses(spark):
    """Without a root, a stage is persisted and counted (its jobs run in
    ``run_stage``) or, when fused, stays lazy and launches no job;
    ``unpersist`` releases every persisted frame."""
    sc = spark.sparkContext
    ck = StageCheckpointer(spark, fuse={"f"})

    def jobs_of(group, run):
        sc.setJobGroup(group, group)
        try:
            return run(), len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    p, p_jobs = jobs_of("ckpt-persist", lambda: ck.run_stage(
        "p", lambda: spark.range(10).where("id % 2 = 0"), inputs=["src"]))
    f, f_jobs = jobs_of("ckpt-fuse", lambda: ck.run_stage(
        "f", lambda: p.select((F.col("id") + 1).alias("id")), inputs=["p"]))
    assert p_jobs >= 1 and f_jobs == 0
    assert p.is_cached and not f.is_cached
    assert f.count() == 5
    stages = ck.lineage()["stages"]
    assert {k: (v["materialized"], v["rows"], v["inputs"]) for k, v in stages.items()} == {
        "p": ("persist", 5, ["src"]),
        "f": ("fused", None, ["p"]),
    }
    ck.unpersist()
    assert not p.is_cached


def test_driver_side_writers_guard_collect(spark):
    """to_turtle / to_ntriples refuse to collect graphs beyond max_triples
    (big graphs must go through the distributed ntriples_lines writer)."""
    import pytest
    from pyspark.sql import functions as F

    from p5_rdf_rdb2rdf_spark.ntriples import to_ntriples
    from p5_rdf_rdb2rdf_spark.turtle_writer import to_turtle

    big = spark.range(100).select(
        F.lit("iri").alias("s_kind"),
        F.concat(F.lit("http://s/"), F.col("id")).alias("s_value"),
        F.lit("http://p/x").alias("p_value"),
        F.lit("literal").alias("o_kind"),
        F.col("id").cast("string").alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("g_value"),
    )
    with pytest.raises(ValueError, match="max_triples"):
        to_ntriples(big, max_triples=10)
    with pytest.raises(ValueError, match="max_triples"):
        to_turtle(big, max_triples=10)
    assert len(to_ntriples(big, max_triples=1000)) == 100


def test_graph_table_reopen_adopts_write_time_bucket_count(spark, tables, tmp_path):
    """A table's bucket count is fixed at creation: a process reopening the
    table with a different constructor default must adopt the manifest's
    write-time n_buckets — merge pruning recomputes pmod(xxhash64(p), K)
    and a mismatched K would prune the anti-join's parent to the wrong
    buckets and silently append duplicates (review r5)."""
    triples = direct_map(spark, {"dept": tables["dept"]}, CONSTRAINTS, base=BASE)
    path = str(tmp_path / "gtk")
    gt = GraphTable(spark, path, n_buckets=8, closed_vocabulary=True)
    gt.write(triples)
    assert gt.current_snapshot()["n_buckets"] == 8

    gt2 = GraphTable(spark, path)  # constructor default 32 != write-time 8
    assert gt2.n_buckets == 8
    before = gt2.read().count()
    gt2.merge(triples)  # known triples: the delta must be EMPTY
    assert gt2.read().count() == before
    assert gt2.read().distinct().count() == before


def test_footers_file_uri_authority_handling():
    """file: URIs with an authority are NOT os.walk-able: 'file://host/p'
    must route to the Hadoop FileSystem path (the naive '//host/p' strip
    silently found zero files and recorded zero rows — review r5);
    'file:///p' and 'file:/p' are local and strip to '/p'."""
    from p5_rdf_rdb2rdf_spark.io.footers import _is_local, _strip_scheme

    assert _is_local("/data/x") and _is_local("file:/data/x")
    assert _is_local("file:///data/x")
    assert not _is_local("file://somehost/data/x")
    assert not _is_local("hdfs://nn/data/x") and not _is_local("s3a://b/k")
    assert _strip_scheme("file:///data/x") == "/data/x"
    assert _strip_scheme("file:/data/x") == "/data/x"
    assert _strip_scheme("/data/x") == "/data/x"


def test_checkpoint_lineage_tail_slot_no_pid_collision(spark, tmp_path, monkeypatch):
    """Alien (non-Spark-named) parquet files in a stage listing must get
    tail partition ids AFTER every real task pid — an alphabetically-early
    alien file previously claimed pid 0 and absorbed a real partition's
    counts (review r5). The listing is synthesized (alien first) to pin the
    assignment order independent of directory enumeration."""
    from p5_rdf_rdb2rdf_spark.io import footers
    from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer

    def fake_listing(_spark, d):
        return [
            (f"{d}/aaa-extra.parquet", 3),  # sorts before part-00000
            (f"{d}/part-00000-u1.parquet", 25),
            (f"{d}/part-00001-u2.parquet", 25),
            (f"{d}/part-00002-u3.parquet", 25),
            (f"{d}/part-00003-u4.parquet", 25),
        ]

    monkeypatch.setattr(footers, "parquet_file_rows", fake_listing)
    ck = StageCheckpointer(spark, str(tmp_path))
    df = spark.range(0, 100, 1, 4).withColumnRenamed("id", "v")
    ck.run_stage("s", lambda: df)
    parts = {p["partition"]: p["rows"] for p in ck.lineage()["stages"]["s"]["partitions"]}
    assert parts == {0: 25, 1: 25, 2: 25, 3: 25, 4: 3}
