"""The three workloads. Each one builds its inputs from the seed, warms up
with one untimed op per op type, runs a fixed count of ops in a closed loop,
checks every op's output, and reports its end-to-end and per-layer metrics.

Layers are timed from outside, around calls into their public functions:

- ``rdb_map``: ``direct_mapping.direct_map`` + ``r2rml.r2rml_to_ir`` +
  ``compiler.compile_mapping`` + ``io.graph_table.GraphTable.write``
- ``kg_build``: ``pipeline.kgpipeline.run_pipeline`` (checkpointed)
- ``graph_serve``: ``store.TripleStore.get_statements`` and
  ``sparql.sparql`` reads beside ``GraphTable.merge``
"""

from __future__ import annotations

import os
import random
import statistics

import data
from harness import N_BUCKETS, SLOTS, Harness, dir_bytes, ops_for, pct, rm

# population scale of the star schema (TPC-H sf0.1 proportions) and the
# share of its rows one seed samples
STAR_SCALE = 0.1
STAR_FRAC = 0.01
# untimed ops before the timed ones: ops keep getting faster for several
# ops after the cold first one (JIT and code generation still warming); the
# second op of a run ran 1.2-1.4x slower than the fifth
WARMUP_OPS = 3


def _engine():
    import __spark_entry__ as entry

    return entry


def _duck(paths: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for t, p in paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def dm_triple_count(con, tables: list[str], manifest: dict) -> int:
    """Direct Mapping triple count computed by DuckDB from the source rows:
    one rdf:type triple per row, one literal triple per non-NULL value, one
    reference triple per non-NULL foreign key; rows of a table whose key is
    not enforced count once per distinct (key, value)."""
    total = 0
    for t in tables:
        cons = manifest[t]
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        fks = [" AND ".join(f"{c} IS NOT NULL" for c in fk["cols"]) for fk in cons["fks"]]
        if cons.get("pk_enforced", True):
            parts = ["count(*)", *(f"count({c})" for c in cols),
                     *(f"count(*) FILTER (WHERE {w})" for w in fks)]
            total += sum(con.execute(f"SELECT {', '.join(parts)} FROM {t}").fetchone())
            continue
        key = ", ".join(cons["pk"])
        queries = [f"SELECT DISTINCT {key} FROM {t}"]
        queries += [f"SELECT DISTINCT {key}, {c} FROM {t} WHERE {c} IS NOT NULL" for c in cols]
        queries += [
            f"SELECT DISTINCT {key}, {', '.join(fk['cols'])} FROM {t} WHERE {w}"
            for fk, w in zip(cons["fks"], fks)
        ]
        total += sum(con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in queries)
    return total


class Workload:
    name = ""

    def __init__(self, h: Harness):
        self.h = h
        self.t = h.tracer
        self.stats: list[dict] = []  # per-op facts the checks gathered

    def build_inputs(self, rep_dir: str) -> None:
        """Generate and load the seed's inputs (repeated per set-up)."""

    def prepare(self) -> None:
        """One-off set-up after the inputs exist."""

    def warm_up(self) -> None:
        """One untimed op of each op type."""

    def run_ops(self) -> None:
        """The measured ops of one pass."""

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    def per_layer(self) -> dict[str, float]:
        return {}

    def traced_tail(self) -> dict[str, tuple[float, str]]:
        """Extra traced-only ops after the traced pass; returns figures to print."""
        return {}

    def _stat(self, **kw) -> None:
        self.stats.append({"traced": self.t.enabled, **kw})

    def _traced(self, kind: str | None = None) -> list[dict]:
        return [s for s in self.stats if s["traced"] and kind in (None, s.get("kind"))]


class RdbMap(Workload):
    """Relational -> graph bulk build. One op maps the whole star schema
    (Direct Mapping over all eight tables plus the orders-customer R2RML
    join mapping) and writes the union as one fresh graph table."""

    name = "rdb_map"
    NOMINAL_OP_S = 2.5

    def build_inputs(self, rep_dir):
        e = _engine()
        paths = data.write_star_schema(rep_dir, self.h.seed, STAR_SCALE, STAR_FRAC)
        con = _duck(paths)
        dm = dm_triple_count(con, data.STAR_TABLES, e.TPCH_CONSTRAINTS)
        r2rml = con.execute(
            "SELECT (SELECT count(*) + count(o_orderstatus) FROM orders)"
            " + (SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey)"
            " + (SELECT count(*) + count(c_mktsegment) FROM customer)"
        ).fetchone()[0]
        con.close()
        self.expected = dm + r2rml
        self.paths = paths
        self.tables = {t: self.h.spark.read.parquet(p) for t, p in paths.items()}
        self.last = None
        self.serve = None

    def _map(self, op_id: int):
        from p5_rdf_rdb2rdf_spark import compiler, direct_mapping, r2rml
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable

        e, t, spark = _engine(), self.t, self.h.spark
        with t.span("direct_mapping.plan"):
            dm = direct_mapping.direct_map(spark, self.tables, e.TPCH_CONSTRAINTS, base=e.BASE)
        with t.span("r2rml.parse"):
            ir = r2rml.r2rml_to_ir(e._R2RML_ORDERS)
        r = compiler.compile_mapping(spark, ir, tables=self.tables, broadcast_parents={"#Customer"})
        union = dm.unionByName(r)
        gt = GraphTable(spark, self.h.path("graphs", f"map-{op_id}"), n_buckets=N_BUCKETS)
        gt.write(union)
        return gt, union

    def _check(self, out):
        gt = out[0]
        if self.last is not None:
            rm(self.last[0].path)
        self.last = out
        total = gt.current_snapshot()["total_rows"]
        if total != self.expected:
            raise AssertionError(f"graph holds {total} triples, DuckDB counts {self.expected}")
        return total

    def warm_up(self):
        for _ in range(WARMUP_OPS):
            self.h.op("map", self._map, self._check, warmup=True)

    def run_ops(self):
        for _ in range(ops_for(self.h.seconds, self.NOMINAL_OP_S, 3)):
            rec = self.h.op("map", self._map, self._check)
            if self.t.enabled and rec.ok:
                # the mapping plan executed alone into a no-op sink: the
                # compiler's execution cost without the write
                with self.t.span("compiler.exec", op=rec.op, op_type="map"):
                    self.last[1].write.format("noop").mode("overwrite").save()

    def end_to_end(self):
        ops = self.h.measured("map")
        ms = [r.ms for r in ops]
        return {
            "op_ms_p50": (statistics.median(ms), "ms"),
            "ops_per_s": (len(ms) / (sum(ms) / 1000.0), "ops/s"),
            "triples_per_s": (_med(r.triples / (r.ms / 1000.0) for r in ops), "triples/s"),
            "graph_bytes_per_triple": (dir_bytes(self.last[0].path)[1] / self.expected, "B"),
        }

    def per_layer(self):
        t = self.t
        calls = t.by_name("compiler.plan")
        return {
            "r2rml.parse_ms": _med(t.per_op("r2rml.parse", _self)),
            "direct_mapping.plan_ms": _med(t.per_op("direct_mapping.plan", _self)),
            "compiler.plan_ms": _med(t.per_op("compiler.plan", _self)),
            "compiler.exec_ms": _med(t.per_op("compiler.exec", _dur)),
            "compiler.memo_hit_frac": _mean(float(s.attrs.get("memo_hit", False)) for s in calls),
            **_write_layer(t),
            **(self.serve.per_layer() if self.serve else {}),
        }

    def traced_tail(self):
        """Serve the star schema's graph: reads and merges, traced."""
        self.serve = Serving(self.h)
        self.serve.load(self.paths, self.tables)
        self.t.enabled = False
        self.serve.prepare()
        self.serve.warm_up()
        self.t.enabled = True
        self.h.pass_no += 1
        self.serve.run_ops()
        return self.serve.summary()


class KgBuild(Workload):
    """Interleaved documents -> graph: one op is the checkpointed
    ``run_pipeline`` over a seeded window of the synthetic corpus."""

    name = "kg_build"
    N_DOCS = 10_000
    NOMINAL_OP_S = 4.0
    _STAGES = (("s1_spans", "pipeline.spans"), ("s2_relations", "pipeline.mentions"),
               ("s3_links", "pipeline.linking"), ("s4_canon", "pipeline.cc"),
               ("s5_triples", "pipeline.kgpipeline.triples"))

    def build_inputs(self, rep_dir):
        start = data.corpus_window(self.h.seed)
        path = data.write_corpus(self.h.spark, os.path.join(rep_dir, "corpus"), start,
                                 self.N_DOCS, parts=SLOTS)
        self.facts, self.prov = data.expected_kg(start, self.N_DOCS)
        self.docs = self.h.spark.read.parquet(path)

    def _build(self, op_id: int):
        from p5_rdf_rdb2rdf_spark.pipeline import kgpipeline

        wd = self.h.path("graphs", f"kg-{op_id}")
        return wd, kgpipeline.run_pipeline(self.h.spark, self.docs, wd, n_buckets=N_BUCKETS)

    def _check(self, out):
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
        from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import MENTIONS_PRED
        from pyspark.sql import functions as F

        wd, res = out
        total = GraphTable(self.h.spark, os.path.join(wd, "graph")).current_snapshot()["total_rows"]
        facts = {
            (r.s_value, r.p_value, r.o_value)
            for r in res.triples.where(F.col("p_value") != MENTIONS_PRED)
            .select("s_value", "p_value", "o_value").collect()
        }
        self._stat(lineage=res.lineage["stages"], total=total,
                   graph_bytes=dir_bytes(os.path.join(wd, "graph"))[1],
                   ckpt_bytes=dir_bytes(*(os.path.join(wd, d) for d in os.listdir(wd)
                                          if d.startswith("stage-")))[1])
        rm(wd)
        if facts != self.facts:
            raise AssertionError(f"{len(facts ^ self.facts)} fact triples differ from the closed form")
        if total != len(self.facts) + self.prov:
            raise AssertionError(f"graph holds {total} triples, closed form {len(self.facts) + self.prov}")
        return total

    def warm_up(self):
        for _ in range(WARMUP_OPS):
            self.h.op("build", self._build, self._check, warmup=True)

    def run_ops(self):
        for _ in range(ops_for(self.h.seconds, self.NOMINAL_OP_S, 3)):
            self.h.op("build", self._build, self._check)

    def end_to_end(self):
        ops = self.h.measured("build")
        ms = [r.ms for r in ops]
        last = self.stats[-1]
        return {
            "op_ms_p50": (statistics.median(ms), "ms"),
            "ops_per_s": (len(ms) / (sum(ms) / 1000.0), "ops/s"),
            "triples_per_s": (_med(r.triples / (r.ms / 1000.0) for r in ops), "triples/s"),
            "graph_bytes_per_triple": (last["graph_bytes"] / last["total"], "B"),
        }

    def per_layer(self):
        traced = self._traced()
        out = {}
        for stage, layer in self._STAGES:
            ms = _med(s["lineage"][stage]["wall_sec"] * 1000.0 for s in traced)
            rows = _med(s["lineage"][stage]["rows"] for s in traced)
            if layer == "pipeline.kgpipeline.triples":
                out["pipeline.kgpipeline.triples_ms"] = ms
            else:
                out[f"{layer}.ms"] = ms
                out[f"{layer}.rows"] = rows
        out["io.checkpoint.bytes_written"] = _med(s["ckpt_bytes"] for s in traced)
        out.update(_write_layer(self.t))
        return out


class Serving(Workload):
    """Reads beside writes on one graph table: a seeded mix of
    ``TripleStore.get_statements`` lookups and ``sparql`` queries, with one
    ``GraphTable.merge`` of a pre-materialized lineitem batch every
    ``READS_PER_MERGE`` reads. A pass covers whole auto-compaction cycles.

    Runs inside ``rdb_map``'s traced run, on that run's star schema, to
    measure the read and merge layers (see README.md for why it is not a
    workload of its own)."""

    MAX_CHAIN_LEN = 2  # one compacting merge per 2 merges
    READS_PER_MERGE = 15
    CYCLES = 1

    def load(self, paths: dict[str, str], tables: dict) -> None:
        e = _engine()
        con = _duck(paths)
        self.base_expected = dm_triple_count(
            con, [t for t in data.STAR_TABLES if t != "lineitem"], e.TPCH_CONSTRAINTS)
        self.reads = self._read_specs(con, e.BASE)
        con.close()
        self.tables = tables

    def _read_specs(self, con, base):
        """The seed's fixed read mix with DuckDB's answers. Reads touch only
        the base tables' predicates, which merges never add to, so every
        answer holds for the whole run."""
        rng = random.Random(self.h.seed)
        counts = [
            (f"{base}{t}#{c}", con.execute(f"SELECT count({c}) FROM {t}").fetchone()[0])
            for t, c in (("customer", "c_mktsegment"), ("customer", "c_name"),
                         ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
                         ("part", "p_brand"), ("supplier", "s_name"), ("events", "event_type"))
        ]
        counts.append((f"{base}orders#ref-o_custkey",
                       con.execute("SELECT count(o_custkey) FROM orders").fetchone()[0]))
        cust = con.execute("SELECT c_custkey, c_name FROM customer ORDER BY 1").fetchall()
        orders = con.execute("SELECT o_orderkey, o_orderpriority FROM orders ORDER BY 1").fetchall()
        subjects = [(f"{base}customer/c_custkey={k}", f"{base}customer#c_name", v)
                    for k, v in rng.sample(cust, 16)]
        subjects += [(f"{base}orders/o_orderkey={k}", f"{base}orders#o_orderpriority", v)
                     for k, v in rng.sample(orders, 16)]
        name_p, seg_p = f"{base}customer#c_name", f"{base}customer#c_mktsegment"
        stars = []
        for seg in data._SEGMENTS:
            names = [r[0] for r in con.execute(
                "SELECT c_name FROM customer WHERE c_mktsegment = ? ORDER BY c_name LIMIT 10",
                [seg]).fetchall()]
            q = (f"SELECT ?c ?name WHERE {{ ?c <{name_p}> ?name . ?c <{seg_p}> ?seg . "
                 f"FILTER(?seg = \"{seg}\") }} ORDER BY ?name LIMIT 10")
            stars.append((q, names, [name_p, seg_p]))
        ref_p = f"{base}orders#ref-o_custkey"
        join = (f"SELECT ?seg (COUNT(?o) AS ?n) WHERE {{ ?o <{ref_p}> ?c . ?c <{seg_p}> ?seg }} "
                "GROUP BY ?seg",
                dict(con.execute("SELECT c_mktsegment, count(*) FROM orders JOIN customer"
                                 " ON o_custkey = c_custkey GROUP BY 1").fetchall()),
                [ref_p, seg_p])
        # per 15 reads: 11 lookups and 4 queries in seeded order, so the
        # median read is a lookup and the 90th percentile a query
        block = ["p"] * 6 + ["sp"] * 5 + ["star"] * 2 + ["join"] * 2
        specs = []
        for _ in range(50):
            for kind in rng.sample(block, len(block)):
                if kind == "p":
                    p, n = rng.choice(counts)
                    specs.append(("lookup", kind, (p, None, n, [p])))
                elif kind == "sp":
                    s, p, v = rng.choice(subjects)
                    specs.append(("lookup", kind, (p, s, [v], [p])))
                else:
                    specs.append(("query", kind, rng.choice(stars) if kind == "star" else join))
        return specs

    def prepare(self):
        from p5_rdf_rdb2rdf_spark import direct_mapping
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
        from p5_rdf_rdb2rdf_spark.store import TripleStore
        from pyspark.sql import functions as F

        e, spark = _engine(), self.h.spark
        base = {t: df for t, df in self.tables.items() if t != "lineitem"}
        self.gt = GraphTable(spark, self.h.path("serve"), n_buckets=N_BUCKETS,
                             max_chain_len=self.MAX_CHAIN_LEN)
        self.gt.write(direct_mapping.direct_map(spark, base, e.TPCH_CONSTRAINTS, base=e.BASE))
        got = self.gt.current_snapshot()["total_rows"]
        if got != self.base_expected:
            raise AssertionError(f"base graph holds {got} triples, DuckDB counts {self.base_expected}")
        self.store = TripleStore(self.gt)
        preds = sorted({p for spec in self.reads for p in spec[2][-1]})
        self.buckets = dict(
            spark.createDataFrame([(p,) for p in preds], "p string")
            .select("p", F.pmod(F.xxhash64("p"), F.lit(N_BUCKETS)).cast("int")).collect())
        # merge batches: lineitem's DM triples cut into seeded hash bands and
        # written once; batch k is bands 2k and 2k+1 plus band 2k-1 re-sent
        n_bands = 2 * (1 + self.n_merges())
        li = direct_mapping.direct_map(spark, {"lineitem": self.tables["lineitem"]},
                                       e.TPCH_CONSTRAINTS, base=e.BASE)
        band = F.pmod(F.xxhash64("s_value", "p_value", "o_value", F.lit(self.h.seed)),
                      F.lit(n_bands))
        self.batch_dir = self.h.path("batches")
        (li.withColumn("band", band).repartition(SLOTS, "band")
         .write.partitionBy("band").parquet(self.batch_dir))
        sizes = dict(spark.read.parquet(self.batch_dir).groupBy("band").count().collect())
        self.band_rows = [sizes.get(b, 0) for b in range(n_bands)]
        self.next_batch = 0
        self.read_pos = 0

    def n_merges(self) -> int:
        return self.CYCLES * self.MAX_CHAIN_LEN

    # -- ops ---------------------------------------------------------------------
    def _read(self, spec, warmup: bool = False):
        from p5_rdf_rdb2rdf_spark import sparql

        op_type, kind, arg = spec
        t, store = self.t, self.store

        def fn(_op_id):
            if op_type == "lookup":
                p, s = arg[0], arg[1]
                with t.span("store.plan"):
                    df = store.get_statements(s=s, p=p)
                with t.span("store.exec"):
                    return df.count() if s is None else [r.o_value for r in df.collect()]
            with t.span("sparql.plan"):
                df = sparql.sparql(store, arg[0])
            with t.span("sparql.exec"):
                rows = df.collect()
            if kind == "star":
                return [r["name"]["value"] for r in rows]
            return {r["seg"]["value"]: r["n"] for r in rows}

        def check(res):
            expected = arg[2] if op_type == "lookup" else arg[1]
            if self.t.enabled:
                self._stat(kind="read", **self._read_files(arg[-1]))
            if res != expected:
                raise AssertionError(f"{kind} read answered {res!r}, expected {expected!r}")
            return 0

        return self.h.op(op_type, fn, check, warmup=warmup)

    def _read_files(self, preds: list[str]) -> dict:
        """Snapshot chain length and the data files in the bucket
        directories a read's predicates prune to."""
        snap = self.gt.current_snapshot()
        dirs = snap.get("dirs", [snap["dir"]])
        buckets = {self.buckets[p] for p in preds}
        files = dir_bytes(*(os.path.join(d, f"pred_bucket={b}") for d in dirs for b in buckets))[0]
        return {"chain": len(dirs), "files": files}

    def _merge(self, warmup: bool = False):
        from pyspark.sql import functions as F

        k = self.next_batch
        self.next_batch += 1
        bands = [b for b in (2 * k - 1, 2 * k, 2 * k + 1) if b >= 0]
        expected = self.base_expected + sum(self.band_rows[: 2 * k + 2])
        batch_rows = sum(self.band_rows[b] for b in bands)
        batch = self.h.spark.read.parquet(self.batch_dir).where(F.col("band").isin(bands)).drop("band")

        def fn(_op_id):
            before = self.gt.current_snapshot()["total_rows"]
            self.gt.merge(batch)
            return before

        def check(before):
            snap = self.gt.current_snapshot()
            compacted = snap.get("lineage", {}).get("auto_compacted", False)
            delta = snap["total_rows"] - before
            self._stat(kind="merge", delta_frac=delta / batch_rows, compacted=compacted)
            if snap["total_rows"] != expected:
                raise AssertionError(f"snapshot holds {snap['total_rows']} triples, expected {expected}")
            # a compacting merge also rewrites the whole chain
            return delta + (snap["total_rows"] if compacted else 0)

        return self.h.op("merge", fn, check, warmup=warmup)

    def warm_up(self):
        for kind in ("p", "sp", "star", "join"):
            self._read(next(s for s in self.reads if s[1] == kind), warmup=True)
        # the base write and this merge leave a two-directory chain, so the
        # first measured merge compacts and every pass covers whole cycles
        self._merge(warmup=True)

    def run_ops(self):
        for _ in range(self.n_merges()):
            for _ in range(self.READS_PER_MERGE):
                self._read(self.reads[self.read_pos % len(self.reads)])
                self.read_pos += 1
            self._merge()

    # -- metrics -------------------------------------------------------------------
    def summary(self) -> dict[str, tuple[float, str]]:
        """The serving figures, printed with the traced run."""
        reads = [r.ms for r in self.h.measured("lookup", "query")]
        merges = self.h.measured("merge")
        out = {
            "serve.read_ms_p50": (statistics.median(reads), "ms"),
            "serve.merge_ms_p50": (statistics.median(r.ms for r in merges), "ms"),
            "serve.merge_triples_per_s": (
                sum(r.triples for r in merges) / (sum(r.ms for r in merges) / 1000.0), "triples/s"),
        }
        if len(reads) >= 100:  # at least ten reads lie beyond the 90th percentile
            out["serve.read_ms_p90"] = (pct(reads, 90), "ms")
        return out

    def per_layer(self):
        t = self.t
        reads, merges = self._traced("read"), self._traced("merge")
        read_ops = [s.op for s in t.by_name("op") if s.op_type in ("lookup", "query")]
        merge_ops = [s.op for s in t.by_name("op") if s.op_type == "merge"]
        return {
            "store.plan_ms": _med(t.per_op("store.plan", _self)),
            "store.exec_ms": _med(t.per_op("store.exec", _self)),
            "sparql.parse_ms": _med(t.per_op("sparql.parse", _self)),
            "sparql.plan_ms": _med(t.per_op("sparql.plan", _self)),
            "sparql.exec_ms": _med(t.per_op("sparql.exec", _self)),
            "io.graph_table.chain_dirs": _mean(r["chain"] for r in reads),
            "io.graph_table.files_per_read": _mean(r["files"] for r in reads),
            "io.graph_table.scan_bytes_per_read": _mean(
                _op_counter(t, op, "inputBytes") for op in read_ops),
            "io.graph_table.merge_ms": _med(s.ms for s in t.by_name("io.graph_table.merge")),
            "io.graph_table.merge_delta_frac": _mean(m["delta_frac"] for m in merges),
            "io.graph_table.compact_ms": _med(s.ms for s in t.by_name("io.graph_table.compact")),
            "io.graph_table.merge_shuffle_bytes": _mean(
                _op_counter(t, op, "shuffleWriteBytes") for op in merge_ops),
        }


WORKLOADS = {w.name: w for w in (RdbMap, KgBuild)}


# ---------------------------------------------------------------------------
# helpers


def _self(s) -> float:
    return s.self_ms


def _dur(s) -> float:
    return s.ms


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


def _op_counter(t, op: int, key: str) -> float:
    return float(sum(s.counters.get(key, 0) for s in t.spans if s.op == op))


def _write_layer(t) -> dict[str, float]:
    """Bulk graph writes (the map and build ops; merges report their own)."""
    writes = [s for s in t.by_name("io.graph_table.write") if s.op_type in ("map", "build")]
    per_op: dict[int, float] = {}
    for s in writes:
        per_op[s.op] = per_op.get(s.op, 0.0) + s.self_ms
    return {
        "io.graph_table.write_ms": _med(per_op.values()),
        "io.graph_table.files_written": _med(s.attrs.get("files", 0) for s in writes),
        "io.graph_table.bytes_written": _med(s.attrs.get("bytes", 0) for s in writes),
    }
