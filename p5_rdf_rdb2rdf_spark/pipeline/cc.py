"""Iterative connected components over candidate entity-link edges
(SURVEY.md O38; north_star: "entity canonicalization runs as an iterative
connected-components merge over candidate links").

Algorithm: min-label propagation (the alternating large-star/small-star
optimization is unnecessary for link graphs whose components are shallow
stars — surface/alias clusters; iterations needed ~= graph diameter, 2-3).

Scale mechanics:
- labels and edges are hash-partitioned on the join key; each iteration is
  one shuffle join + one groupBy-min;
- ``localCheckpoint`` every iteration cuts the lineage chain (otherwise the
  plan doubles per iteration and the driver OOMs planning iteration ~20);
- convergence test is a count of changed labels (cheap aggregate), bounded
  by ``max_iter``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Largest edge count canonicalized on the driver (union-find) instead of by
# the iterative distributed loop. Size it to driver memory: the driver path
# holds ~2 Python objects per edge endpoint (~100 MB at 200k edges with long
# string ids).
DRIVER_THRESHOLD = 200_000


def _union_find(pairs) -> dict:
    """Driver-side union-find over (u, v) pairs -> {node: min member of its
    component}. Unions always hang the larger root under the smaller one, so
    every root IS its component's minimum (the distributed path's label)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _driver_edges(edges: DataFrame, threshold: int, size_hint: int | None):
    """All edge rows on the driver, or None when the graph is larger than
    ``threshold`` (or ``threshold`` <= 0). ``size_hint`` is the caller's
    edge count and bounds the collect; without it the probe is a bounded
    ``limit().count()`` — an aggregate-only job — so a huge graph never
    ships ``threshold`` edge rows to the driver just to learn it is huge."""
    if threshold <= 0:
        return None
    n = size_hint if size_hint is not None else edges.limit(threshold + 1).count()
    return edges.collect() if n <= threshold else None


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
    driver_threshold: int = DRIVER_THRESHOLD,
    size_hint: int | None = None,
    stats: dict | None = None,
    frontier_broadcast_rows: int = 1_000_000,
    slim_doubling_frontier_rows: int | None = None,
) -> DataFrame:
    """-> (node, component) where component = min node id in the component.

    Graphs at or below ``driver_threshold`` edges take a driver-side
    union-find fast path: the entity-link graph is |surfaces|+|entities|
    sized — corpus-size-INVARIANT — so even a 10^12-doc run usually has a
    tiny graph here, and the iterative path's ~10 Spark jobs of pure
    scheduling latency dominate end-to-end pipeline time (measured in
    BENCH/BASELINE.md round-2 stage profile). Both paths produce identical
    (node, min-member) output in the INPUT's node type (min by that type's
    ordering, matching the distributed ``least``); the distributed path
    remains for genuinely large graphs (``driver_threshold=0`` forces it).

    ``size_hint`` (edge count, if the caller already knows it) skips the
    size probe entirely (see :func:`_driver_edges`).

    ``stats`` (optional dict) is filled with run telemetry — ``path``
    ('driver'|'distributed'), and for the distributed path ``n_nodes``,
    ``partitions``, ``iterations`` and per-iteration ``iter_wall_sec`` /
    ``iter_changed`` — the per-iteration shuffle profile the scaling bench
    reports (VERDICT r3 next-round #5).

    ``frontier_broadcast_rows``: once the changed-label frontier is at or
    below this row count, the edge-propagation join broadcasts the frontier
    instead of shuffling (see the frontier comment in the loop). Size it to
    the broadcast budget: ~16 B/row for long ids, ~40-60 B/row for string
    ids — the default 1M rows stays well under the 64 MB threshold.

    ``slim_doubling_frontier_rows`` (default: same as
    ``frontier_broadcast_rows``): once the frontier is at or below this,
    the pointer-doubling join switches to a SLIM build side — the round-4
    CC scaling profile showed post-collapse iterations floored on the
    label×label doubling shuffle join + checkpoint while propagation's own
    cost tracked the shrinking frontier (VERDICT r4 next-round #6). The
    build side only needs rows for nodes that are CURRENTLY SOMEONE'S
    LABEL and are not their own root (label(m) < m): every other row
    no-ops through the coalesce. Pruning the PREVIOUS iteration's
    checkpointed labels that way yields a ~|components|-row frame AQE
    broadcasts: the doubling step runs with ZERO label-sized shuffles and
    no extra materialization (see the loop comment on stale-by-one pointer
    jumping — monotone-safe, Fibonacci-rate instead of 2^k, at most one
    extra iteration on pure chains, simulated). Early iterations
    (labels ≈ nodes, the slim side wouldn't be slim) keep the plain
    shuffle-join shape. Set to 0 to always use the plain shape.
    """
    import time as _time
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    spark = edges.sparkSession
    node_type = sym.schema["u"].dataType  # src/dst resolved to a common type

    sample = _driver_edges(
        edges.select(
            F.col(src).cast(node_type).alias("u"),
            F.col(dst).cast(node_type).alias("v"),
        ),
        driver_threshold,
        size_hint,
    )
    if sample is not None:
        comp = _union_find(sample)
        schema = T.StructType(
            [
                T.StructField("node", node_type, False),
                T.StructField("component", node_type, False),
            ]
        )
        if stats is not None:
            stats.update(path="driver", n_edges=len(sample))
        # pandas -> Arrow local relation (r8): avoids pickling rows through
        # py4j and keeps downstream joins/broadcasts of this frame in-JVM
        # (see linking.entity_dictionary)
        return spark.createDataFrame(
            pd.DataFrame(sorted(comp.items()), columns=["node", "component"]),
            schema,
        )

    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint()
    # right-size the iteration: per-round shuffle overhead dominates on small
    # graphs, so shrink partitions to match |V| (entity-link graphs are often
    # tiny after the broadcast-link stage even when the corpus is huge)
    n_nodes = labels.count()
    parts = max(1, min(edges.sparkSession.sparkContext.defaultParallelism, n_nodes // 50_000 + 1))
    labels = labels.repartition(parts, "node").localCheckpoint()
    sym = sym.repartition(parts, "u").localCheckpoint()
    if stats is not None:
        stats.update(
            path="distributed", n_nodes=n_nodes, partitions=parts,
            iterations=0, iter_wall_sec=[], iter_changed=[],
        )

    import uuid as _uuid

    from pyspark.sql import Observation

    # Frontier propagation: a node's neighbor-min can only improve through a
    # neighbor whose label changed in the PREVIOUS iteration (labels decrease
    # monotonically), so the edge join only needs the changed subset — the
    # frontier — on its probe side. The first iteration's frontier is every
    # node; from iteration 2 the frontier collapses fast (the round-4 CC
    # scaling profile measured per-iteration cost FLAT at full-join cost
    # while |changed| fell 9.9M -> 370k), and once it fits the broadcast
    # budget the edge-sized shuffle disappears entirely: the iteration
    # becomes a map-side broadcast probe of the checkpointed edge list.
    # Pointer doubling stays unrestricted (its improvements can reference
    # stable nodes outside the frontier) — it is label-sized, not edge-sized.
    if slim_doubling_frontier_rows is None:
        slim_doubling_frontier_rows = frontier_broadcast_rows
    frontier = labels
    n_changed = n_nodes
    for _ in range(max_iter):
        _it0 = _time.time()
        front = (
            F.broadcast(frontier)
            if n_changed <= frontier_broadcast_rows
            else frontier
        )
        # (1) frontier neighbors' labels, propagated over edges (1 hop);
        # __prev carries the iteration-start label so the convergence count
        # can ride the checkpoint materialization below
        neighbor = (
            sym.join(front, sym["u"] == front["node"], "inner")
            .select(F.col("v").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("nbr_min"))
        )
        hop = labels.join(neighbor, "node", "left").select(
            "node",
            F.col("component").alias("__prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # (2) pointer doubling: component <- label(component); gives the
        # O(log diameter) convergence plain propagation lacks. Plain shape:
        # a label×label shuffle self-join. Once the frontier collapses
        # (slim mode) the build side is pruned to rows that can actually
        # improve something — nodes appearing as a CURRENT label with a
        # label smaller than themselves (false minima); everything else
        # no-ops through the coalesce — and that pruned frame is
        # ~|components| rows, which AQE broadcasts: zero label-sized
        # shuffles in the doubling step, byte-identical output.
        slim = n_changed <= slim_doubling_frontier_rows
        # (3) the changed-label count is an Observation metric on the SAME
        # job that materializes the checkpoint — previously a separate
        # doubled-vs-labels join + full extra pass per iteration (one of
        # three joins in the loop; measured in the round-4 CC scaling run).
        # __prev is kept through the checkpoint so the next frontier is a
        # filter over in-memory blocks, not a recomputation.
        obs = Observation(f"cc-changed-{_uuid.uuid4().hex[:8]}")
        ptr = hop.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        if slim:
            # Slim build side derived ENTIRELY from the previous iteration's
            # CHECKPOINTED labels (stale-by-one pointer jumping): every
            # hop[n] value is some node's previous label, so pruning the
            # previous labels to {appears as a label} ∩ {label < self}
            # covers every join key that can improve anything. hop keeps
            # exactly ONE consumer (no extra checkpoint — a first attempt
            # that slimmed from hop itself re-materialized a label-sized
            # frame per iteration and measured SLOWER at 4-exec), the two
            # pruning scans read cached blocks, and AQE broadcasts the
            # ~|components|-sized result. Staleness is safe: labels only
            # reference same-component nodes and decrease monotonically, so
            # the fixpoint is unchanged; growth drops from 2^k to
            # Fibonacci-rate (simulated: +1 iteration on pure chains, +0 on
            # the star/chain bench mix).
            comps = labels.select(F.col("component").alias("p_node")).distinct()
            ptr = (
                labels.where(F.col("component") < F.col("node"))
                .select(
                    F.col("node").alias("p_node"), F.col("component").alias("p_comp")
                )
                .join(comps, "p_node", "left_semi")
            )
        out = hop.join(ptr, hop["component"] == ptr["p_node"], "left").select(
            "node",
            "__prev",
            F.least(
                F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
            ).alias("component"),
        )
        out = out.observe(
            obs, F.count_if(F.col("component") != F.col("__prev")).alias("n")
        ).localCheckpoint()
        changed = obs.get["n"]
        labels = out.select("node", "component")
        frontier = out.where(F.col("component") != F.col("__prev")).select(
            "node", "component"
        )
        n_changed = changed
        if stats is not None:
            stats["iterations"] += 1
            stats["iter_wall_sec"].append(round(_time.time() - _it0, 2))
            stats["iter_changed"].append(changed)
            stats.setdefault("iter_slim_doubling", []).append(slim)
        if changed == 0:
            break
    if n_changed:
        # Silent truncation returned NON-MINIMAL labels as if converged —
        # and slim (stale-by-one) doubling can cost one extra iteration on
        # pure chains, so the budget must fail loudly, never quietly
        # (review r5). 64 doubling iterations cover any graph this engine
        # can hold (diameter 2^64); hitting the cap means a pathological
        # input or a bug, both of which the caller must see.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} iterations ({n_changed} labels still changing); "
            "raise max_iter or check the edge list for pathology"
        )
    return labels


def canonicalize(edges: DataFrame, size_hint: int | None = None) -> DataFrame:
    """Entity-link edges (src, dst) -> (node, canonical_entity): each node's
    canonical entity is the smallest ``e:``-prefixed member of its component
    (entity nodes win over surface nodes), prefix stripped; components with
    no entity node drop out.

    Graphs of at most :data:`DRIVER_THRESHOLD` edges (``size_hint`` skips
    the size probe) run the union-find on the driver in one collect and
    return a local relation sorted by node; larger graphs run the
    distributed connected components and pick the canonical entity with
    one aggregate and join. Both paths give identical output."""
    sample = _driver_edges(edges.select("src", "dst"), DRIVER_THRESHOLD, size_hint)
    if sample is not None:
        comp = _union_find(sample)
        entity: dict = {}
        for n, c in comp.items():
            if n.startswith("e:") and (c not in entity or n < entity[c]):
                entity[c] = n
        rows = sorted((n, entity[c][2:]) for n, c in comp.items() if c in entity)
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=["node", "canonical_entity"]),
            "node string, canonical_entity string",
        )
    components = connected_components(edges, driver_threshold=0)
    entities = components.where(F.col("node").startswith("e:")).groupBy("component").agg(
        F.min("node").alias("canonical_entity")
    )
    return (
        components.join(entities, "component", "inner")
        .select("node", F.expr("substring(canonical_entity, 3)").alias("canonical_entity"))
    )
