"""Distributed connected components — north_rule clustering stage.

Hybrid: (1) partition-local union-find contraction, then (2) either a
bounded driver-side union-find finish when the contracted edge set is
small, or (3) alternating large-star / small-star rounds (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014,
O(log n) rounds, each two shuffles).  This is the DataFrame
re-expression of "union-find via iterative self-joins" from the
north_rule; label = MIN member id, so cluster ids are deterministic
regardless of parallelism, phase taken, or iteration order.

Scale notes:
* Hub nodes (a record in a giant clique) concentrate in large-star's
  groupBy; AQE skew handling plus the bounded candidate generation
  upstream (bucket caps) keep neighbor lists tractable; we never
  collect a neighborhood into one array.
* Every iteration localCheckpoints the edge set to cut lineage —
  iterative plans otherwise grow exponentially in Catalyst.
* Convergence test is a cheap checksum aggregate (count + xor of pair
  hashes), not a full DataFrame comparison.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _canon(edges: DataFrame) -> DataFrame:
    """Orient u > v (strings compare lexicographically), drop loops/dupes."""
    return (
        edges.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node n: connect every strictly-larger neighbor to
    m = min(N(n) ∪ {n})."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to smaller ids; for each node n connect all
    smaller-or-equal neighbors (and n) to m = min(N(n) ∪ {n})."""
    dir_ = _canon(edges)  # u > v
    mins = dir_.groupBy("u").agg(F.min("v").alias("m"))
    relink = dir_.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_ = mins.select("u", F.col("m").alias("v"))
    return relink.unionByName(self_)


def _local_contract(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction (mapInPandas): each
    partition's edge set is replaced by the equivalent star edge set
    (node -> partition-local min root).  Preserves global connectivity
    — stars re-connect across partitions in the global rounds — while
    collapsing every partition-local clique/chain to depth 1, so the
    alternating-star rounds start from a graph whose components are
    already mostly stars and converge in fewer (usually 1-2) rounds.

    The per-edge Python union-find is deliberate: it is a pure-CPU
    kernel over one in-memory partition (same budget class as the
    numpy signature kernels), linear with path-halving, and has no
    vectorized equivalent; cost is bounded by partition size, not by
    graph size."""
    schema = edges.schema

    def contract(pdf_iter):
        import pandas as pd

        # the closure references no engine module, so import the package
        # here: it installs the worker's stat-gated zip invalidation
        import polyminhash_spark  # noqa: F401
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in pdf_iter:
            for a, b in zip(pdf["u"], pdf["v"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # root = min id (determinism)
        out_u, out_v = [], []
        for x in parent:
            r = find(x)
            if r != x:
                out_u.append(x)
                out_v.append(r)
        yield pd.DataFrame({"u": out_u, "v": out_v})

    return edges.mapInPandas(contract, schema)


def _driver_union_find(rows) -> list[tuple]:
    """(u, v) edge rows -> [(node, min-root)] for EVERY node seen
    (roots map to themselves).  Binary ids arrive as bytearray from
    collect() — converted to hashable bytes."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[0], row[1]
        if isinstance(a, (bytearray, memoryview)):
            a, b = bytes(a), bytes(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(x, find(x)) for x in parent]


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(pairs: DataFrame, all_ids: DataFrame,
                         max_iter: int = 50,
                         local_threshold: int = 500_000) -> DataFrame:
    """pairs (id_a, id_b) + all_ids (id) -> (id, cluster_id).

    cluster_id = min id in the component; singletons map to themselves.

    Three-phase hybrid (scaling-efficiency design, BENCH/BASELINE.md):

    1. Partition-local union-find contraction (one mapInPandas job) —
       collapses every partition-local subgraph to a star.
    2. If the contracted edge set fits `local_threshold`, ONE driver
       union-find finishes it (a bounded final gather — a few hundred
       MB of Row objects at the default threshold) — this removes the
       5-8 sequential sub-second Spark rounds that dominated CC wall
       time at bench scale, for the price of a single take().
    3. Otherwise alternating large-star/small-star rounds (Kiveris et
       al.), one job per iteration, each round's edge set a LAZY
       localCheckpoint whose materializing action is the convergence
       checksum (localCheckpoint, not persist — persist leaves the
       logical plan growing exponentially across rounds).  At 100 TB
       the threshold still triggers eventually: rounds contract the
       edge set monotonically toward one star per component, and the
       driver finisher replaces only the LAST few rounds."""
    spark = pairs.sparkSession
    edges = _canon(pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")))
    edges = _local_contract(edges)

    def _finish_on_driver(rows) -> DataFrame:
        labels = _driver_union_find(rows)
        if not labels:
            return all_ids.select("id", F.col("id").alias("cluster_id"))
        assigned = spark.createDataFrame(labels, edges.schema) \
            .select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        singletons = all_ids.select("id") \
            .join(assigned, "id", "left_anti") \
            .select("id", F.col("id").alias("cluster_id"))
        return assigned.unionByName(singletons)

    # fast path, ONE action: take(threshold + 1) both answers "is the
    # contracted graph small?" AND delivers the edges if so — no
    # separate count/checksum/collect round-trips
    head = edges.take(local_threshold + 1)
    if len(head) <= local_threshold:
        return _finish_on_driver(head)

    edges = edges.localCheckpoint(eager=False)
    prev = _checksum(edges)  # materializes the checkpoint
    for _ in range(max_iter):
        if prev[0] <= local_threshold:
            return _finish_on_driver(edges.collect())
        edges = _canon(_small_star(_large_star(edges))) \
            .localCheckpoint(eager=False)
        cur = _checksum(edges)  # one action: materializes + tests convergence
        if cur == prev:
            break
        prev = cur

    # converged distributed: non-roots point directly at the component min
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id")) \
                  .select(F.col("u").alias("id"), "cluster_id")
    roots = edges.select(F.col("v").alias("id")).distinct() \
                 .join(labels, "id", "left_anti") \
                 .select("id", F.col("id").alias("cluster_id"))
    assigned = labels.unionByName(roots)
    singletons = all_ids.select("id").join(assigned, "id", "left_anti") \
                        .select("id", F.col("id").alias("cluster_id"))
    return assigned.unionByName(singletons)
