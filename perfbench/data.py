"""Seeded benchmark inputs.

Everything here is a pure function of its arguments: the same seed gives the
same rows.

- :func:`write_star_schema` writes a TPC-H-shaped star schema (the eight
  tables ``direct_map`` maps, one parquet file each) as a seeded hash sample
  of a fixed population. Values are a hash of the row id, computed with NumPy,
  so input generation runs no Spark job. As in the population the engine's
  own tests use, lineitem's composite key ``(l_orderkey, l_linenumber)`` is
  not enforced: same-key rows exist and often share their low-cardinality
  values, so Direct Mapping has real duplicates to drop.
- :func:`write_corpus` writes a window of ``pipeline.corpus.synth_corpus``
  documents; :func:`expected_kg` is the closed-form answer for that window.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

# population at scale 1.0 (TPC-H proportions; events is the stream table)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"]
_PART_WORDS = ["blue", "hot", "large", "small", "steel"]
_PART_NOUNS = ["bolt", "gear", "nut", "ring", "valve"]
_DAY0 = np.datetime64("1992-01-01", "us")
_EVENT0 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer of ``x + salt * golden``: a uint64 per row id."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _h(ids: np.ndarray, salt: int, mod: int) -> np.ndarray:
    return (_mix(ids, salt) % np.uint64(mod)).astype(np.int64)


def _pick(values: list[str], idx: np.ndarray) -> np.ndarray:
    return np.asarray(values, dtype=object)[idx]


def _money(ids: np.ndarray, salt: int, lo: float, span: float) -> np.ndarray:
    return lo + _h(ids, salt, int(span * 100)) / 100.0


def _days(ids: np.ndarray, salt: int, n_days: int) -> np.ndarray:
    return _DAY0 + (_h(ids, salt, n_days) * _US_PER_DAY).astype("timedelta64[us]")


def _fmt(fmt: str, values: np.ndarray) -> list[str]:
    return [fmt % v for v in values.tolist()]


def _tables(ids: dict[str, np.ndarray], n: dict[str, int]) -> dict[str, pa.Table]:
    c, s, p, o, li, ev = (ids[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events"))
    i32, i64, f64, utf8, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def table(cols: list[tuple[str, object, pa.DataType]]) -> pa.Table:
        return pa.table({name: pa.array(v, type=t) for name, v, t in cols})

    return {
        "region": table([("r_regionkey", list(range(5)), i32), ("r_name", _REGIONS, utf8)]),
        "nation": table([
            ("n_nationkey", list(range(25)), i32),
            ("n_name", [f"NATION{k:02d}" for k in range(25)], utf8),
            ("n_regionkey", [k % 5 for k in range(25)], i32),
        ]),
        "customer": table([
            ("c_custkey", c, i64),
            ("c_name", _fmt("Customer#%09d", c), utf8),
            ("c_nationkey", _h(c, 1, 25), i32),
            ("c_acctbal", _money(c, 2, -999.99, 10999.98), f64),
            ("c_mktsegment", _pick(_SEGMENTS, _h(c, 3, 5)), utf8),
        ]),
        "supplier": table([
            ("s_suppkey", s, i64),
            ("s_name", _fmt("Supplier#%09d", s), utf8),
            ("s_nationkey", _h(s, 4, 25), i32),
            ("s_acctbal", _money(s, 5, -999.99, 10999.98), f64),
        ]),
        "part": table([
            ("p_partkey", p, i64),
            ("p_name", [f"{a} {b}" for a, b in zip(
                _pick(_PART_WORDS, _h(p, 6, 5)), _pick(_PART_NOUNS, _h(p, 7, 5)))], utf8),
            ("p_brand", _fmt("Brand#%d", _h(p, 8, 25) + 1), utf8),
            ("p_type", _pick(_PART_TYPES, _h(p, 9, 5)), utf8),
            ("p_size", _h(p, 10, 50) + 1, i32),
            ("p_retailprice", 900.0 + (p % 1000) / 10.0, f64),
        ]),
        "orders": table([
            ("o_orderkey", o, i64),
            ("o_custkey", _h(o, 11, n["customer"]), i64),
            ("o_orderstatus", _pick(["F", "O", "P"], _h(o, 12, 3)), utf8),
            ("o_totalprice", _money(o, 13, 900.0, 400000.0), f64),
            ("o_orderdate", _days(o, 14, 3650), ts),
            ("o_orderpriority", _pick(_PRIORITIES, _h(o, 15, 5)), utf8),
        ]),
        # the key is drawn, not enumerated, so about a quarter of the rows
        # share their (l_orderkey, l_linenumber) with another row
        "lineitem": table([
            ("l_orderkey", _h(li, 16, max(1, n["orders"] // 4)), i64),
            ("l_partkey", _h(li, 17, n["part"]), i64),
            ("l_suppkey", _h(li, 18, n["supplier"]), i64),
            ("l_linenumber", _h(li, 19, 7) + 1, i32),
            ("l_quantity", (_h(li, 20, 50) + 1).astype(np.float64), f64),
            ("l_extendedprice", _money(li, 21, 900.0, 100000.0), f64),
            ("l_discount", _h(li, 22, 11) / 100.0, f64),
            ("l_tax", _h(li, 23, 9) / 100.0, f64),
            ("l_returnflag", _pick(["A", "N", "R"], _h(li, 24, 3)), utf8),
            ("l_linestatus", _pick(["F", "O"], _h(li, 25, 2)), utf8),
            ("l_shipdate", _days(li, 26, 3650), ts),
        ]),
        "events": table([
            ("event_id", ev, i64),
            ("ts", _EVENT0 + ((ev * 37 + _h(ev, 27, 30)) * 1_000_000).astype("timedelta64[us]"), ts),
            ("user_id", _h(ev, 28, 1500), i64),
            ("event_type", _pick(_EVENT_TYPES, _h(ev, 29, 5)), utf8),
            ("value", _money(ev, 30, 0.0, 500.0), f64),
            ("props", _fmt('{"k": %d}', _h(ev, 31, 100)), utf8),
        ]),
    }


def write_star_schema(out_dir: str, seed: int, scale: float, frac: float) -> dict[str, str]:
    """Write a seeded ``frac`` hash sample of each table's rows (region and
    nation are kept whole), one parquet file per table; returns
    ``{table: parquet path}``."""
    n = {t: max(1, int(r * scale)) for t, r in _BASE_ROWS.items()}
    keep = np.uint64(int(frac * 2**32))
    ids = {}
    for t, rows in n.items():
        all_ids = np.arange(rows, dtype=np.int64)
        ids[t] = all_ids[(_mix(all_ids, 1_000 + seed) >> np.uint64(32)) < keep]
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in _tables(ids, n).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


# ---------------------------------------------------------------------------
# interleaved corpus window


def corpus_window(seed: int) -> int:
    """First doc index of the seed's window. ``synth_corpus`` enumerates
    from doc 0, so the start is kept below 10^6 docs."""
    return (seed * 7_919) % 1_000_000


def write_corpus(spark, out_dir: str, start: int, n_docs: int, parts: int) -> str:
    """Docs ``[start, start + n_docs)`` of ``synth_corpus`` written as parquet."""
    from pyspark.sql import functions as F

    from p5_rdf_rdb2rdf_spark.pipeline.corpus import synth_corpus

    full = synth_corpus(spark, start + n_docs, partitions=parts)
    full.where(F.col("doc_id") >= F.lit(f"doc-{start:08d}")).write.mode("overwrite").parquet(out_dir)
    return out_dir


def expected_kg(start: int, n_docs: int) -> tuple[set[tuple[str, str, str]], int]:
    """Closed-form KG answer for docs ``[start, start + n_docs)``: the
    canonical fact triple set and the number of distinct (doc, subject
    entity) provenance triples. Every per-doc quantity in
    ``pipeline.corpus`` depends on the doc index only modulo 300, so one
    period is evaluated and the window is summed from it."""
    from p5_rdf_rdb2rdf_spark.pipeline import corpus as C

    period = 300
    if n_docs < period:
        raise ValueError(f"window of {n_docs} docs is shorter than the {period}-doc period")
    facts: set[tuple[str, str, str]] = set()
    prov_per_phase = []
    for d in range(period):
        subjects = set()
        for i in range(C._n_spans(d)):
            if not C._is_text(d, i):
                continue
            _tpl, pred = C.TEMPLATES[C._template_idx(d, i)]
            subjects.add(C._a_idx(d, i))
            facts.add((C.KG + C.entity_id(C._a_idx(d, i)), pred, C.KG + C.entity_id(C._b_idx(d, i))))
        prov_per_phase.append(len(subjects))
    full, rest = divmod(n_docs, period)
    prov = full * sum(prov_per_phase) + sum(prov_per_phase[(start + k) % period] for k in range(rest))
    return facts, prov
