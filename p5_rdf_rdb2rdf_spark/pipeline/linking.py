"""Entity linking: surface forms -> candidate entities (SURVEY.md O39).

The dictionary is broadcast (BASELINE.json north_star: "broadcast
dictionaries for hot entities"), so a hot surface never makes a skewed
shuffle partition. Link scoring is a Column expression rather than the
north_star's pandas/Arrow UDF: no Python worker runs for it at all
(COVERAGE.md O39).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def entity_dictionary(spark: SparkSession, vocab_rows: list[tuple[str, str, str]]) -> DataFrame:
    """(entity_id, surface, type, canonical) dictionary DataFrame.

    The canonical surface (min per entity) is computed driver-side — the
    vocab is already a Python list, and deriving it with a groupBy + join
    would cost two extra Spark jobs of pure scheduling latency per pipeline
    run on what is by definition broadcast-sized data."""
    canon: dict[str, str] = {}
    for eid, surface, _t in vocab_rows:
        canon[eid] = surface if eid not in canon else min(canon[eid], surface)
    rows = [(eid, s, t, canon[eid]) for eid, s, t in vocab_rows]
    # via pandas so createDataFrame takes the Arrow path (enabled in
    # session.py): the plain-list path pickles every row through py4j,
    # measured ~0.3s per pipeline run for a ~30k-row vocabulary (r8)
    pdf = pd.DataFrame(
        rows, columns=["entity_id", "surface", "type", "canonical"]
    )
    return spark.createDataFrame(
        pdf, "entity_id string, surface string, type string, canonical string"
    )


def link_score(surface: Column, canonical: Column) -> Column:
    """Link scoring: exact-canonical 1.0, alias 0.9 - small length penalty
    (a stand-in for a real embedding/edit-distance scorer). A plain Column
    expression, so it runs inside whole-stage codegen with no Python worker
    (lengths count code points, like Python's ``len``)."""
    penalty = F.least(F.abs(F.length(surface) - F.length(canonical)), F.lit(10)) / 100.0
    return F.when(surface == canonical, F.lit(1.0)).otherwise(0.9 - penalty)


def candidate_edges(linked: DataFrame) -> DataFrame:
    """Linked mentions -> candidate entity-link edges for canonicalization:
    (surface-node, entity-node) pairs. Node namespace prefixes keep the
    bipartite graph unambiguous. Not deduplicated: both canonicalization
    paths tolerate duplicate edges, and a distinct would put a shuffle in
    front of the driver path's collect."""
    return linked.select(
        F.concat(F.lit("s:"), F.col("surface")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
    )
