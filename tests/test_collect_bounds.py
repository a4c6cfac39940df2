"""Driver-collect inventory: every call in the package that ships rows or
metrics from Spark to the driver (``collect``, ``toPandas``, ``head``,
``first``, ``take`` and ``observe``, whose Observation metrics land on the
driver) must be listed in ``SITES`` with the bound that keeps it small.
A new site fails the test until it is listed with its bound; a listed bound
must still be visible in the enclosing function's source."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "p5_rdf_rdb2rdf_spark"
CALLS = {"collect", "toPandas", "head", "first", "take", "observe"}

# what each bound means
BOUNDS = {
    "literal": "a frame of a literal number of rows: a one-row aggregate, "
    "LIMIT 1, range(1), or scalar Observation aggregates",
    "max_triples": "limit(max_triples + 1); raises above the cap",
    "MAX_PRUNE_PREDICATES": "limit(MAX_PRUNE_PREDICATES + 1); above the cap "
    "the merge anti-joins the unpruned parent instead",
    "cc.DRIVER_THRESHOLD": "collected only when the counted edge total is "
    "<= threshold (default cc.DRIVER_THRESHOLD)",
    "closed_vocabulary": "only for tables the caller declares "
    "closed_vocabulary (a schema-sized predicate set)",
    "nlist": "the nlist parameter: limit(nlist), or one row per "
    "(centroid, vector position), i.e. nlist x vector width rows",
    "partitions": "one row per range partition (the partitions parameter, "
    "default parallelism)",
    "unbounded": "no bound yet (ROADMAP item 5)",
}

# "module:function" -> [(call, bound, source fragment that carries the bound)]
SITES = {
    "direct_mapping:direct_map": [("first", "literal", "df.agg(")],
    "io.graph_table:GraphTable.write": [
        ("observe", "closed_vocabulary", "if self.closed_vocabulary:"),
        ("head", "literal", "LIMIT 1"),
    ],
    "io.graph_table:GraphTable._merge_iceberg": [("head", "literal", "LIMIT 1")],
    "io.graph_table:GraphTable._delta_against": [
        ("collect", "MAX_PRUNE_PREDICATES", ".limit(MAX_PRUNE_PREDICATES + 1)"),
    ],
    "io.graph_table:GraphTable._bucket_via_job": [
        ("head", "literal", "self.spark.range(1)"),
    ],
    "ntriples:to_ntriples": [("collect", "max_triples", ".limit(max_triples + 1)")],
    "turtle_writer:to_turtle": [("collect", "max_triples", ".limit(max_triples + 1)")],
    "ops.graph:pagerank": [
        ("observe", "literal", 'F.count(F.lit(1)).alias("n")'),
        ("observe", "literal", 'F.sum(F.when(F.col("__out"), F.col("rank")))'),
    ],
    "ops.sessions:sessionize": [
        ("observe", "literal", 'F.max("__user_n")'),
    ],
    "ops.similarity:ivf_build": [
        ("collect", "nlist", '.limit(nlist)'),
        ("collect", "nlist", '.groupBy("__cid", "__pos")'),
    ],
    "ops.text:pack_sequences": [("collect", "partitions", 'groupBy("__pid")')],
    "pipeline.cc:_driver_edges": [
        ("collect", "cc.DRIVER_THRESHOLD", "if n <= threshold"),
    ],
    "pipeline.cc:connected_components": [
        ("observe", "literal", 'F.count_if(F.col("component") != F.col("__prev"))'),
    ],
}


def _scan() -> tuple[Counter, dict[str, str]]:
    """(Counter of (site, call), site -> source of its enclosing function)."""
    found: Counter = Counter()
    sources: dict[str, str] = {}
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)

        def visit(node, scope, fn_src):
            for child in ast.iter_child_nodes(node):
                inner, src = scope, fn_src
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    inner = scope + [child.name]
                    src = ast.get_source_segment(text, child)
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in CALLS
                ):
                    site = f"{module}:{'.'.join(inner)}"
                    found[(site, child.func.attr)] += 1
                    sources[site] = src or text
                visit(child, inner, src)

        visit(ast.parse(text, str(path)), [], None)
    return found, sources


def test_every_driver_collect_is_listed_with_its_bound():
    found, sources = _scan()
    listed = Counter(
        (site, call) for site, entries in SITES.items() for call, _, _ in entries
    )
    assert found == listed, (
        f"unlisted sites: {sorted((found - listed).elements())}; "
        f"listed but gone: {sorted((listed - found).elements())}"
    )
    for site, entries in SITES.items():
        for call, bound, fragment in entries:
            assert bound in BOUNDS, (site, bound)
            assert fragment in sources[site], (site, call, fragment)

