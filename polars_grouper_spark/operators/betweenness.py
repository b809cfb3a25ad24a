"""Betweenness centrality — Brandes, parallelized over sources.

Reference parity: ``/root/reference/src/graph_betweenness_centrality.rs``
(textbook Brandes 2001, unweighted BFS variant) and
``/root/reference/polars_grouper/__init__.py:375-452``.

Semantics replicated exactly:

- Null endpoint drops the edge row; adjacency keeps duplicate edge rows —
  a duplicate edge multiplies shortest-path counts (``paths[w] += paths[v]``
  runs once per parallel edge, ``graph_betweenness_centrality.rs:80-92``),
  so the kernel tracks edge *multiplicities*.
- ``directed=False`` (default) mirrors each edge.
- Undirected scores are halved; ``normalized`` multiplies by
  ``1/((n-1)(n-2))`` directed or ``2/((n-1)(n-2))`` undirected, with n =
  total node count of the whole input (not per component).
- Output: ``(node string, centrality double)``, one row per interned node,
  ordered by first appearance.

Spark-first design: exact Brandes is one BFS per source, embarrassingly
parallel over sources.  The adjacency must reach every executor anyway (a
broadcast), so the exact kernel builds it on the driver from ONE bounded
collect instead of staging it through executor-side joins:

- one executor-side ``groupBy(src, dst)`` compresses the edge rows to
  distinct pairs with their multiplicity and first row id; a single Arrow
  ``toPandas`` of at most ``max_broadcast_edges + 1`` rows brings them to
  the driver;
- interning, undirected mirroring, multiplicity sums and the CSR arrays
  ``(indptr, indices, mult)`` are pandas/numpy on the driver; the node ids
  are the ranks of first appearance, the same ids ``_intern`` assigns;
- sources fan out over ``groupBy("chunk").applyInPandas``; each chunk runs
  a vectorized multi-source Brandes over the broadcast CSR, and the
  per-node dependency sums reduce and join back to the node table
  distributed; the result is never collected here.

``_intern`` (distributed sort + ``zipWithIndex``, joins and aggregations,
no driver collect) serves only :func:`betweenness_centrality_distributed`.

The broadcast bounds the exact kernel to graphs whose adjacency fits in
executor memory (~10^7-10^8 edges) — the same single-machine regime as the
reference (O(V·E) time, ``__init__.py:439``).  Above
``auto_sample_threshold`` nodes the operator automatically switches to
Brandes–Pich source sampling (scores scaled by n/k, unbiased estimator);
pass ``sample_sources=`` to control k, or raise the threshold to force the
exact kernel.

Past the broadcast regime entirely,
:func:`betweenness_centrality_distributed` runs BOTH Brandes passes as
key-partitioned DataFrame joins (level-synchronous BFS forward, per-level
dependency accumulation backward) with no driver or broadcast adjacency —
O(S·V) state on the node key, 2×eccentricity rounds.  Exact parity with
this kernel is test- and oracle-asserted.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from polars_grouper_spark.plans.iteration import truncate_lineage

# Sources per kernel batch are capped so that sources x (nodes + arcs)
# stays under this many state cells (24 bytes each: distance, path count
# and dependency per node; parent, child and multiplicity per DAG arc),
# i.e. a few tens of MB per Python worker.
_BATCH_CELLS = 1 << 20


def _edge_rows(df: DataFrame, from_col: str, to_col: str) -> DataFrame:
    """``(src, dst, _i)`` with string endpoints and a row id whose order is
    the input order; rows with a null endpoint are dropped."""
    return df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
        F.monotonically_increasing_id().alias("_i"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())


def _intern(df: DataFrame, from_col: str, to_col: str, directed: bool):
    """Executor-side front end of the distributed kernel: first-appearance
    interning (distributed sort + zipWithIndex) and the multiplicity-
    compressed pair table.  Returns ``(nid_map, pair_m, n)`` — ``pair_m``
    is (u, v, m) after undirected mirroring."""
    spark = df.sparkSession
    edges = _edge_rows(df, from_col, to_col)

    endpoints = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), (F.col("_i") * 2).alias("seen")),
                F.struct(F.col("dst").alias("node"), (F.col("_i") * 2 + 1).alias("seen")),
            )
        ).alias("x")
    ).select("x.node", "x.seen")
    first_seen = endpoints.groupBy("node").agg(F.min("seen").alias("seen"))
    # localCheckpoint (not persist): pins the nondeterministic zipWithIndex
    # assignment by cutting lineage, and its blocks are released by the
    # ContextCleaner when the result frame is garbage-collected — repeated
    # calls don't accumulate session-lifetime cache the way an explicit
    # persist() without unpersist() would.
    nid_map = truncate_lineage(
        spark.createDataFrame(
            first_seen.orderBy("seen").rdd.map(lambda r: r[0]).zipWithIndex(),
            schema="node string, nid long",
        )
    )
    n = nid_map.count()
    if n == 0:
        return nid_map, None, 0

    u_map = F.broadcast(nid_map.select(F.col("node").alias("src"), F.col("nid").alias("u")))
    v_map = F.broadcast(nid_map.select(F.col("node").alias("dst"), F.col("nid").alias("v")))
    e_ids = edges.join(u_map, "src").join(v_map, "dst").select("u", "v")
    if not directed:
        e_ids = e_ids.union(e_ids.select(F.col("v").alias("u"), F.col("u").alias("v")))
    pair_m = e_ids.groupBy("u", "v").agg(F.count(F.lit(1)).alias("m"))
    return nid_map, pair_m, n


def _driver_csr(df: DataFrame, from_col: str, to_col: str, directed: bool,
                max_broadcast_edges: int):
    """Driver-side front end of the exact kernel: ONE bounded collect of
    the distinct ``(src, dst)`` pairs, then first-appearance interning and
    the CSR adjacency in numpy.  Returns ``(nodes, indptr, indices, mult)``
    with ``nodes[nid]`` the node string; raises before returning anything
    graph-sized when the mirrored pair count exceeds
    ``max_broadcast_edges``."""
    pairs = (
        _edge_rows(df, from_col, to_col)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("m"), F.min("_i").alias("_i"))
    )
    # One row past the bound is enough to decide the guard (mirroring never
    # lowers the pair count), and no count job runs before the collect.
    pdf = pairs.limit(max_broadcast_edges + 1).toPandas()
    truncated = len(pdf) > max_broadcast_edges

    # A pair's src was first seen at 2·_i and its dst at 2·_i + 1 (the
    # ``seen`` of _intern); factorizing the endpoints in that order numbers
    # each node by the rank of its first appearance — _intern's ids.
    k = len(pdf)
    i2 = 2 * pdf["_i"].to_numpy()
    order = np.argsort(np.concatenate([i2, i2 + 1]))
    ends = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    codes, nodes = pd.factorize(ends[order])
    ids = np.empty(2 * k, dtype=np.int64)
    ids[order] = codes
    u, v, m = ids[:k], ids[k:], pdf["m"].to_numpy(dtype=np.float64)
    if not directed:
        u, v, m = np.concatenate([u, v]), np.concatenate([v, u]), np.concatenate([m, m])

    n = len(nodes)
    keys, inv = np.unique(u * n + v, return_inverse=True)
    if len(keys) > max_broadcast_edges:
        raise ValueError(
            f"betweenness_centrality: graph has {'at least ' if truncated else ''}"
            f"{len(keys):,} distinct (u, v) pairs after "
            f"{'directed' if directed else 'undirected'} expansion, above "
            f"max_broadcast_edges={max_broadcast_edges:,}. The Brandes "
            "kernel broadcasts the full adjacency to every executor; a graph "
            "this dense would exhaust driver/executor memory regardless of "
            "source sampling. Use betweenness_centrality_distributed (no "
            "driver/broadcast adjacency, O(diameter) rounds), reduce the "
            "graph, or raise max_broadcast_edges if memory allows "
            "(~50 bytes/pair)."
        )
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(keys // n, minlength=n), out=indptr[1:])
    return nodes, indptr, keys % n, np.bincount(inv, weights=m)


def _brandes(indptr: np.ndarray, indices: np.ndarray, mult: np.ndarray,
             sources: np.ndarray) -> np.ndarray:
    """Summed Brandes dependencies of ``sources`` on every node of the CSR
    graph (arc multiplicities ``mult`` multiply path counts).

    Sources run in batches, level-synchronously: per BFS level the frontier
    cells of every source in the batch expand their arcs at once, and the
    arcs that land one level deeper form the shortest-path DAG, kept per
    level for the backward pass.  Path counts are float64, as in networkx:
    they cannot overflow where int64 would wrap (a 35x35 grid already has
    more than 2^63 corner-to-corner shortest paths)."""
    n = len(indptr) - 1
    deg = np.diff(indptr)
    cent = np.zeros(n)
    batch = max(1, _BATCH_CELLS // (n + len(indices)))
    for lo in range(0, len(sources), batch):
        src = sources[lo:lo + batch]
        roots = np.arange(len(src), dtype=np.int64) * n + src
        dist = np.full(len(src) * n, -1, dtype=np.int64)
        sigma = np.zeros(len(src) * n)
        dist[roots] = 0
        sigma[roots] = 1.0
        dag = []
        front, d = roots, 0
        while front.size:
            # Cell s*n + v is node v of the batch's s-th source; expand
            # every frontier cell's CSR row at once.
            v = front % n
            k = deg[v]
            arc = np.arange(k.sum()) + np.repeat(indptr[v] - (np.cumsum(k) - k), k)
            parent = np.repeat(front, k)
            child = parent - np.repeat(v, k) + indices[arc]
            fresh = child[dist[child] < 0]
            dist[fresh] = d + 1
            on_dag = dist[child] == d + 1
            parent, child, m = parent[on_dag], child[on_dag], mult[arc[on_dag]]
            np.add.at(sigma, child, sigma[parent] * m)
            dag.append((parent, child, m))
            front, d = np.unique(fresh), d + 1
        delta = np.zeros(len(src) * n)
        for parent, child, m in reversed(dag):
            np.add.at(delta, parent, m * sigma[parent] * ((1.0 + delta[child]) / sigma[child]))
        delta[roots] = 0.0
        cent += delta.reshape(len(src), n).sum(axis=0)
    return cent


def _finalize(nid_map: DataFrame, sums: DataFrame, n: int, scale: float,
              directed: bool, normalized: bool) -> DataFrame:
    """Scale/halve/normalize as column expressions, sequenced exactly like
    the reference's scalar arithmetic (same float rounding)."""
    cent = F.coalesce(F.col("s"), F.lit(0.0)) * F.lit(scale)
    if not directed:
        cent = cent / F.lit(2.0)
    if normalized:
        nf = float(n)
        denom = (nf - 1.0) * (nf - 2.0)
        # n <= 2 divides by zero in the reference too (inf/nan mirrored).
        norm = (1.0 if directed else 2.0) / denom if denom != 0.0 else float("inf")
        cent = cent * F.lit(norm)
    return (
        nid_map.join(sums, "nid", "left")
        .withColumn("centrality", cent.cast("double"))
        .orderBy("nid")
        .select("node", "centrality")
    )


def betweenness_centrality(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    normalized: bool = True,
    directed: bool = False,
    sample_sources: int | None = None,
    auto_sample_threshold: int = 8192,
    max_broadcast_edges: int = 10_000_000,
) -> DataFrame:
    """Betweenness centrality for every node of the edge list ``df``.

    ``sample_sources=k`` runs Brandes–Pich estimation from ``k`` random
    sources (unbiased, scores scaled by ``n/k``) instead of exact Brandes.
    When it is left ``None`` and the graph exceeds ``auto_sample_threshold``
    nodes, sampling engages AUTOMATICALLY (a ``RuntimeWarning`` is emitted)
    — scores are then approximate, diverging from the reference's exact
    semantics; raise the threshold or pass ``sample_sources=n`` to force
    the exact kernel on larger graphs.

    Both kernels broadcast the compact adjacency to every executor, so the
    operator is bounded by adjacency size, not by source count.
    ``max_broadcast_edges`` guards that boundary: the driver collects at
    most ``max_broadcast_edges + 1`` distinct (src, dst) rows, and if the
    graph has more distinct (u, v) pairs (after undirected mirroring) the
    call raises ``ValueError`` before any broadcast or kernel work rather
    than OOMing the driver — dense graphs can cross memory limits while
    staying under the node-count threshold.  Raise it only with driver /
    executor memory to match (~50 bytes per pair).
    """
    spark = df.sparkSession
    nodes, indptr, indices, mult = _driver_csr(
        df, from_col, to_col, directed, max_broadcast_edges
    )
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame([], schema="node string, centrality double")
    nid_map = spark.createDataFrame(
        pd.DataFrame({"node": nodes, "nid": np.arange(n)}), schema="node string, nid long"
    )
    bc_csr = spark.sparkContext.broadcast((indptr, indices, mult))

    if sample_sources is None and n > auto_sample_threshold:
        warnings.warn(
            f"betweenness_centrality: {n:,} nodes exceeds auto_sample_threshold="
            f"{auto_sample_threshold:,}; switching to Brandes-Pich source "
            f"sampling ({auto_sample_threshold:,} sources, unbiased estimate "
            "scaled by n/k). Scores are now APPROXIMATE. Pass sample_sources="
            f"{n} or raise auto_sample_threshold to force exact Brandes.",
            RuntimeWarning,
            stacklevel=2,
        )
        sample_sources = auto_sample_threshold
    n_chunks = max(1, spark.sparkContext.defaultParallelism * 2)
    if sample_sources is not None and sample_sources < n:
        import random

        rng = random.Random(42)
        source_ids = rng.sample(range(n), sample_sources)
        scale = n / float(sample_sources)
        src_df = local_result(
            spark,
            [(s, s % n_chunks) for s in source_ids],
            "source long, chunk long",
        )
    else:
        scale = 1.0
        src_df = spark.range(n).select(
            F.col("id").alias("source"), (F.col("id") % n_chunks).alias("chunk")
        )

    def brandes_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        cent = _brandes(*bc_csr.value, pdf["source"].to_numpy(dtype=np.int64))
        nz = np.flatnonzero(cent)
        return pd.DataFrame({"nid": nz, "delta": cent[nz]})

    partials = src_df.groupBy("chunk").applyInPandas(brandes_chunk, "nid long, delta double")
    sums = partials.groupBy("nid").agg(F.sum("delta").alias("s"))
    return _finalize(nid_map, sums, n, scale, directed, normalized)


def betweenness_centrality_distributed(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    normalized: bool = True,
    directed: bool = False,
    sample_sources: int | None = None,
    max_depth: int = 128,
) -> DataFrame:
    """Brandes betweenness with NO driver-side or broadcast adjacency —
    the >10^8-edge regime the exact kernel's ``max_broadcast_edges`` guard
    points at.

    Both Brandes passes run as key-partitioned DataFrame joins over the
    multiplicity-compressed pair table, all sources advancing
    simultaneously (the same all-sources-at-once trick as
    ``calculate_shortest_path``):

    - forward: level-synchronous BFS — per round, frontier ⋈ edges, path
      counts combine map-side (``sigma[w] += m * sigma[v]`` summed over
      parallel discoverers), anti-join against the visited set keeps only
      newly reached (source, node) pairs.  Rounds = eccentricity ≤ diameter.
    - backward: dependency accumulation level by level descending —
      ``delta[v] = Σ_succ m · sigma[v]/sigma[w] · (1 + delta[w])`` is a
      join of the level-d node set with the (already final) level-d+1
      deltas, again map-side-combinable.  Rounds = same depth count.

    State is O(S·V) rows partitioned on the node key (S = sampled source
    count); nothing graph-sized touches the driver.  Sigma counts are
    spark ``long``: graphs with > 2^63 shortest paths between a pair will
    overflow where the in-memory kernel's float64 counts do not (a 35x35
    grid already gets there) — documented deviation.

    Same output contract and arithmetic as :func:`betweenness_centrality`
    (first-appearance order, duplicate-edge multiplicities, undirected
    halving, whole-graph n normalization); ``sample_sources=k`` gives the
    Brandes–Pich n/k-scaled estimate.  Result parity with the exact
    kernel is asserted in ``tests/test_betweenness.py``.
    """
    spark = df.sparkSession
    nid_map, pair_m, n = _intern(df, from_col, to_col, directed)
    if n == 0:
        return spark.createDataFrame([], schema="node string, centrality double")
    edges = truncate_lineage(pair_m)

    if sample_sources is not None and sample_sources < n:
        import random

        rng = random.Random(42)
        ids = rng.sample(range(n), sample_sources)
        scale = n / float(sample_sources)
        src = local_result(spark, [(s,) for s in ids], "s long")
    else:
        scale = 1.0
        src = spark.range(n).select(F.col("id").alias("s"))

    # ---- forward pass: visited (s, v, dist, sigma) --------------------
    frontier = truncate_lineage(
        src.select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma"))
    )
    visited = frontier.select("s", "v", F.lit(0).alias("dist"), "sigma")
    levels = [frontier]  # per-depth (s, v, sigma) — reused by the backward pass
    depth = 0

    def _expand(front: DataFrame, seen: DataFrame) -> DataFrame:
        cand = (
            front.join(edges, front["v"] == edges["u"])
            .select("s", edges["v"].alias("v"), (F.col("sigma") * F.col("m")).alias("c"))
            .groupBy("s", "v")
            .agg(F.sum("c").alias("sigma"))
        )
        # Lazy checkpoint: the termination probe starts materializing the
        # chain (remaining partitions complete when visited/levels consume
        # them).
        return truncate_lineage(
            cand.join(seen.select("s", "v"), ["s", "v"], "left_anti"),
            cache=False,
        )

    # r9-opt: TWO BFS levels per termination probe.  The level-d+1 and
    # level-d+2 expansions chain lazily and one isEmpty materializes
    # both — half the per-round driver sync barriers of probing every
    # level, with identical state (level d+2's anti-join sees visited
    # THROUGH d+1, preserving the level-synchronous invariant; sigma at
    # d+2 sums only final d+1 sigmas).  When the probe finds d+2 empty,
    # d+1 (already materialized by the same job) may still hold the
    # final level.
    while depth < max_depth:
        new1 = _expand(frontier, visited)
        visited1 = truncate_lineage(
            visited.unionByName(
                new1.select("s", "v", F.lit(depth + 1).alias("dist"), "sigma")
            ),
            cache=False,
        )
        if depth + 2 > max_depth:
            if new1.isEmpty():
                break
            depth += 1
            levels.append(new1)
            visited = visited1
            frontier = new1
            continue
        new2 = _expand(new1, visited1)
        if new2.isEmpty():
            if not new1.isEmpty():
                depth += 1
                levels.append(new1)
                visited = visited1
            break
        depth += 2
        levels.append(new1)
        levels.append(new2)
        visited = truncate_lineage(
            visited1.unionByName(
                new2.select("s", "v", F.lit(depth).alias("dist"), "sigma")
            ),
            cache=False,
        )
        frontier = new2

    # ---- backward pass: delta per (s, v), deepest level first ---------
    # Successor relation: (s, v) -> (s, w) along edge (v, w, m) with
    # dist(s, w) == dist(s, v) + 1; levels[] already partitions visited by
    # depth, so each round joins exactly the two adjacent levels.
    sums = None
    delta_next = None  # (s, v, delta) for level d+1
    for d in range(depth - 1, -1, -1):
        nxt = levels[d + 1].select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
        )
        if delta_next is not None:
            nxt = nxt.join(
                delta_next.select("s", F.col("v").alias("w"), "delta"),
                ["s", "w"],
                "left",
            )
        else:
            nxt = nxt.withColumn("delta", F.lit(None).cast("double"))
        nxt = nxt.select(
            "s", "w",
            ((1.0 + F.coalesce(F.col("delta"), F.lit(0.0))) / F.col("sigma_w")).alias("coeff"),
        )
        cur = levels[d].select("s", "v", "sigma")
        delta_cur = (
            cur.join(edges, cur["v"] == edges["u"])
            .select("s", cur["v"].alias("v"), "sigma", edges["v"].alias("w"), "m")
            .join(nxt, ["s", "w"])
            .select("s", "v", (F.col("m") * F.col("sigma") * F.col("coeff")).alias("part"))
            .groupBy("s", "v")
            .agg(F.sum("part").alias("delta"))
        )
        # Lazy: both consumers (the final sum and the next level's join)
        # share the same checkpoint blocks, computed once on first use.
        delta_cur = truncate_lineage(delta_cur, cache=False)
        contrib = delta_cur.where(F.col("v") != F.col("s"))
        sums = contrib if sums is None else sums.unionByName(contrib)
        delta_next = delta_cur

    if sums is None:
        sums = local_result(spark, [], "s long, v long, delta double")
    totals = sums.groupBy("v").agg(F.sum("delta").alias("s")).withColumnRenamed("v", "nid")
    return _finalize(nid_map, totals, n, scale, directed, normalized)
