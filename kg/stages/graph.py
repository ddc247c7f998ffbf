"""Graph analytics over DataFrame edge lists (SURVEY.md §2): PageRank
power iteration, synchronous min-label propagation, and
degree-ordered triangle counting — each as the join-aggregate shape
GraphFrames' aggregateMessages lowers to.

Dataflow per iteration (the plan you'd want on a billion-edge graph):

    adjacency ⋈ state (two O(nodes) tables; the O(edges) multiset
                       was grouped ONCE into per-src arrays)
      → map-side explode of the destination arrays
      → groupBy(dst) agg            (partial agg combines map-side;
        seeded with per-node identity messages — 0.0 contributions /
        self-labels — so the aggregate's key set IS the node set and
        no join back to the node table is needed)

N (node count) rides a broadcast 1-row cross join. Fixed unrolled
iterations keep everything one declarative plan; for
convergence-driven runs pass ``checkpoint_every`` so lineage is cut
with localCheckpoint the same way the CC loop in canon.py does.

Driver gate of :func:`pagerank` and :func:`min_label_propagation`:
on a small graph every round's join, explode and shuffle aggregate is
pure fixed cost, so both first collect a bounded Arrow probe of the
node ids (at most ``DRIVER_GRAPH_MAX_NODES`` + 1 rows), then of the
edges (at most ``DRIVER_GRAPH_MAX_EDGES`` + 1). Inside both bounds,
and only on a WELL-FORMED graph — non-null int or string ids of one
type, distinct node rows, every edge endpoint listed in ``nodes`` —
the rounds run in numpy over positions in the sorted node ids and
come back as a local relation with the distributed output's schema.
Any other input, over a bound or malformed, runs the distributed
plan above unchanged, so the two branches agree on every input by
construction (pinned in tests/test_graph.py).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

#: shared with the contract oracle (kg/contract.py interpolates these
#: same constants into its DuckDB SQL — one copy, nothing to drift)
DAMP = 0.85
TELEPORT = 0.15


def _materialize(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False): computed once at first use, then
    served from executor block storage for every later iteration.
    Without this, the unrolled plan repeats the INPUT-DERIVATION
    subtree (often a distinct over a fact-table scan) once per
    iteration per consumer — at sf0.1 that alone made pagerank_iter3
    89 s vs 29 s materialized (3 iterations; grows linearly with
    iters). Same discipline GraphFrames applies by caching its
    vertex/edge tables before iterating."""
    return df.localCheckpoint(eager=False)


#: node rows up to which :func:`pagerank` and
#: :func:`min_label_propagation` run on the driver (module docstring).
#: Canon's 100k node bound would reject graph_hub's 110k nodes. The
#: driver branch was still faster above both bounds: on
#: tools/stress_graph.py --op pagerank --iters 3 (4 cores, one cold
#: call each) 5.6 s vs 11.6 s at 262k nodes / 557k edges, 11.0 s vs
#: 15.2 s at 1.05M / 2.23M and 18.4 s vs 33.8 s at 4.2M / 8.9M
#: (--op lpa at 950k / 2.02M: 7.0-9.2 s vs 11.5-14.7 s), so the
#: bounds cap driver memory: the Python driver's ru_maxrss was 257
#: MB, 593 MB and 1.9 GB there (141 MB distributed).
DRIVER_GRAPH_MAX_NODES = 1_000_000

#: edge rows up to which the same driver branch runs: the edge probe
#: is the driver's memory and most of its time. One more and the
#: distributed branch runs instead, after collecting MAX + 1 edges.
#: That rejected probe costs the edge derivation plus the transfer:
#: on tools/stress_graph.py's graph just above the bound (232
#: replicas: 950k nodes / 2.02M edges, 4 cores, warm) the gate took
#: 0.9-1.1 s (node probe 0.1-0.2 s) before a 12-15 s distributed
#: call; on the contract's sf0.1 graph (1,181,946 edges, bound
#: lowered to 1M) it added 0.6-1.0 s to calls of 2-2.5 s. Counting
#: the edges first saves little of that: a limit-count of the same
#: 2.02M edges took 0.6 s, since it runs the same derivation, and it
#: would be one more job inside the bound. Inside the bound at sf0.1
#: (6 alternating warm pairs) the pagerank_iter3 entry took 1.9 s vs
#: 2.3 s distributed, and min_label_prop_iter3 2.6 s vs 2.4 s (its
#: probes took 1.1-1.3 s of that; the rounds' numpy 0.02 s).
DRIVER_GRAPH_MAX_EDGES = 2_000_000


def _driver_graph(nodes: DataFrame, edges: DataFrame):
    """The driver gate: (Arrow field of ``node``, node ids sorted in
    Spark's order, src positions, dst positions into those ids), or
    None when a probe exceeds its bound or the graph is not
    well-formed (module docstring). Arrow sorts strings by their UTF-8
    bytes, as Spark compares them, so a min over positions is the min
    over ids."""
    probe = (nodes.select("node").limit(DRIVER_GRAPH_MAX_NODES + 1)
             .toArrow())
    ids = probe.column("node").combine_chunks()
    t = ids.type
    if (probe.num_rows > DRIVER_GRAPH_MAX_NODES or ids.null_count
            or not (pa.types.is_integer(t) or pa.types.is_string(t))
            or pc.count_distinct(ids).as_py() < len(ids)):
        return None
    pairs = (edges.select("src", "dst").limit(DRIVER_GRAPH_MAX_EDGES + 1)
             .toArrow())
    if pairs.num_rows > DRIVER_GRAPH_MAX_EDGES \
            or pairs.schema.types != [t, t]:
        return None
    ids = ids.take(pc.sort_indices(ids))
    pos = [pc.index_in(pairs.column(c), value_set=ids)
           for c in ("src", "dst")]
    if any(p.null_count for p in pos):
        return None
    return (probe.schema.field("node"), ids,
            *(p.to_numpy().astype(np.int64) for p in pos))


def _local(nodes: DataFrame, fields: list, *cols) -> DataFrame:
    """The driver branch's columns as a local relation."""
    return nodes.sparkSession.createDataFrame(
        pa.table(list(cols), schema=pa.schema(fields)))


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 3,
             checkpoint_every: int = 0) -> DataFrame:
    """``iters`` PageRank power iterations over ``edges`` (columns
    src, dst; every node listed in ``nodes.node`` — nodes without
    out-edges receive teleport mass only, their own mass is NOT
    redistributed, i.e. the simplified no-dangling-redistribution
    variant; feed a symmetrized edge list to avoid dangling mass
    loss). Returns (node, pr) unrounded.

    EAGER gate (module docstring): inside ``DRIVER_GRAPH_MAX_NODES``
    / ``DRIVER_GRAPH_MAX_EDGES`` a well-formed graph runs on the driver
    — out-degrees and each round's message sums are ``np.bincount``
    over the probed edges — and returns a local relation. Any other
    input runs the distributed plan below. ``checkpoint_every`` only
    matters there.

    Precondition of the distributed branch, not checked:
    ``edges`` is endpoint-closed over ``nodes`` (every src and dst is
    listed). A dst outside ``nodes`` gets an output row of its own,
    while N counts only ``nodes``; a src outside ``nodes`` sends
    nothing until it has received rank.

    Distributed iteration shape (make every repeated shuffle move a
    lightweight proxy, move the heavy multiset once): the edge list is
    pre-grouped ONCE into per-src adjacency arrays with the out-degree
    folded in (one groupBy, materialized), so each iteration is a
    JOIN OF TWO O(nodes) TABLES (adjacency ⋈ pr — the small state
    side auto-broadcasts / AQE picks the strategy) followed by a
    map-side explode of the destination arrays into the partial-agg
    sum. Re-shuffling the FULL O(edges) list per iteration through a
    three-way SortMergeJoin instead measured 9.4 s vs 4.2 s for the
    contract entry (12M rows × 3 iters at sf1.0). pr values depend on
    summation order, which is partition-order-dependent; callers'
    rounding grain absorbs that.

    nodes and the adjacency table are localCheckpointed once so each
    iteration reads the materialized graph instead of recomputing its
    derivation — see :func:`_materialize`."""
    g = _driver_graph(nodes, edges)
    if g is not None:
        field, ids, src, dst = g
        return _local(nodes, [field, pa.field("pr", pa.float64())], ids,
                      _driver_pagerank(len(ids), src, dst, iters))
    nodes = _materialize(nodes)
    adj = _materialize(edges.groupBy("src").agg(
        F.collect_list("dst").alias("_dsts"),
        F.count("*").alias("_outdeg")))
    ncnt = nodes.select(F.count("*").alias("n"))
    pr = (nodes.crossJoin(F.broadcast(ncnt))
          .select("node", (F.lit(1.0) / F.col("n")).alias("pr")))
    # zero-message seeding: every node contributes an explicit 0.0
    # into its own message sum, so the aggregate's key set IS the node
    # set and no per-iteration `nodes LEFT JOIN summed` is needed —
    # one join + one aggregate per iteration. IEEE addition with +0.0
    # is the identity, so the sums are unchanged (contributions are
    # strictly positive; no -0.0 can arise).
    zeros = nodes.select("node", F.lit(0.0).alias("c"))
    for i in range(iters):
        contrib = (adj.join(pr, adj.src == pr.node)
                   .select(F.explode("_dsts").alias("node"),
                           (F.col("pr") / F.col("_outdeg")).alias("c")))
        summed = (contrib.unionByName(zeros)
                  .groupBy("node").agg(F.sum("c").alias("s")))
        pr = (summed.crossJoin(F.broadcast(ncnt))
              .select("node",
                      (F.lit(TELEPORT) / F.col("n")
                       + DAMP * F.col("s")).alias("pr")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            pr = pr.localCheckpoint(eager=True)
    return pr


def _driver_pagerank(n: int, src, dst, iters: int) -> np.ndarray:
    """:func:`pagerank`'s rounds over node positions, with the
    distributed branch's arithmetic: pr₀ = 1.0 / n, then TELEPORT / n
    + DAMP · Σ pr[src] / outdeg[src] per dst. Only the summation order
    differs."""
    if not n:
        return np.zeros(0)
    outdeg = np.bincount(src, minlength=n)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        pr = TELEPORT / n + DAMP * np.bincount(
            dst, weights=pr[src] / outdeg[src], minlength=n)
    return pr


def min_label_propagation(nodes: DataFrame, edges: DataFrame,
                          iters: int = 3,
                          checkpoint_every: int = 0) -> DataFrame:
    """``iters`` synchronous rounds of min-label propagation — the
    HASH-MIN primitive bounded CC loops are built from (Kiveris et
    al. 2014 use the unbounded fixpoint; kg/stages/canon.py runs that
    loop to convergence): label(v, 0) = v's own id; label(v, t) =
    min(label(v, t-1), min over in-neighbors u of label(u, t-1)).
    After k rounds every node holds the minimum node id within its
    k-hop in-neighborhood, so a bounded run doubles as k-hop
    reachability evidence; on a symmetrized graph the fixpoint is the
    connected-component minimum.

    EAGER gate (module docstring), as in :func:`pagerank`: inside the
    driver bounds a well-formed graph runs each round as
    ``np.minimum.at`` over positions in the sorted node ids and
    returns a local relation; any other input runs the distributed
    plan below.

    Precondition of the distributed branch, not checked: ``edges``
    is endpoint-closed over ``nodes`` (every src and dst is listed). A
    dst outside ``nodes`` gets an output row of its own; a src outside
    ``nodes`` sends nothing until it has received a label.

    Distributed plan per round: :func:`min_label_round` over the
    :func:`label_adjacency` table, materialized once as in
    :func:`pagerank`. String labels compare bytewise in Spark, DuckDB
    and Arrow, so the min is engine-independent. Returns (node,
    label). Pass ``checkpoint_every`` to bound lineage on long
    convergence-driven runs."""
    g = _driver_graph(nodes, edges)
    if g is not None:
        field, ids, src, dst = g
        lab = np.arange(len(ids))
        for _ in range(iters):
            nxt = lab.copy()
            np.minimum.at(nxt, dst, lab[src])
            lab = nxt
        # the distributed schema: round 0 is the node column twice,
        # later rounds a non-null exploded node and a nullable min
        fields = ([field, field.with_name("label")] if iters == 0 else
                  [field.with_nullable(False),
                   pa.field("label", field.type)])
        return _local(nodes, fields, ids, ids.take(pa.array(lab)))
    nodes = _materialize(nodes)
    adj = _materialize(label_adjacency(nodes, edges))
    lab = nodes.select("node", F.col("node").alias("label"))
    for i in range(iters):
        lab = min_label_round(adj, lab)
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            lab = _materialize(lab)
    return lab


def label_adjacency(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(src, _dsts): the per-src destination arrays of ``edges`` plus
    a self-loop v→v for every node, so each node's OWN label rides the
    message stream of :func:`min_label_round`. The O(edges) multiset
    is grouped here once; rounds only read the arrays."""
    return (edges.unionByName(
        nodes.select(F.col("node").alias("src"),
                     F.col("node").alias("dst")))
        .groupBy("src").agg(F.collect_list("dst").alias("_dsts")))


def min_label_round(adj: DataFrame, lab: DataFrame) -> DataFrame:
    """One hash-min round: (node, label) → (node, label) with
    label(v) = min over the labels sent to v, i.e.
    min({own} ∪ in-neighbor labels) on a :func:`label_adjacency`
    table. adjacency ⋈ labels (two O(nodes) tables) → map-side
    explode → groupBy(node) min, whose partial aggregate combines
    map-side. The state is read once per round, so unrolled rounds
    keep a LINEAR lineage (reading it twice per round doubles the
    prior-round subtree per reference — 2^iters copies)."""
    return (adj.join(lab, adj.src == lab.node)
            .select(F.explode("_dsts").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label")))


#: Closing-edge probe strategy gate for :func:`triangle_counts`
#: (guide §3.1 — broadcast the side that fits, degrade to a shuffle
#: join when it doesn't): when the oriented edge list has at most
#: this many rows AND node ids fit 31 bits, the closing semi-join
#: probes a BROADCAST of the packed (lo<<32 | hi) edge keys — a
#: LongHashedRelation, so the O(Σ outdeg²) wedge stream is filtered
#: MAP-SIDE and never shuffled (measured 80 s → 18 s for the probe
#: phase at a 12M-edge / 492M-wedge graph on local[32]; the generic
#: two-long struct key was 4-5× slower to probe than the packed
#: long). Above the gate — the 100 TB regime — the shuffle semi-join
#: on (a, c) runs exactly as before; output identical either way.
TRI_BCAST_MAX_EDGES = 50_000_000


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED
    simple graph given as distinct (src, dst) pairs with src < dst
    (each undirected edge once). Degree-ordered orientation (the
    standard scalable scheme, e.g. Suri & Vassilvitskii 2011's MR
    triangle counting): orient every edge from its lower-(degree, id)
    endpoint to the higher one — every triangle then has EXACTLY one
    node with two out-edges, so

        triangles = σ(o(a,b) ⋈ o(b,c)) ⋉ o(a,c)

    counts each once, and the wedge fan-out is bounded by the
    oriented out-degree ≤ O(sqrt(edges)) instead of the raw max
    degree — the difference between a feasible and an exploding
    self-join on a power-law co-occurrence graph. Two shuffles (wedge
    join + closing semi-join) plus the degree aggregation; the corner
    union re-aggregates by node. Returns (node, n_triangles) for
    nodes in ≥1 triangle.

    Materializes ``edges`` (consumed by the degree agg AND the
    orientation join — an expensive edge derivation, e.g. a
    co-occurrence self-join + distinct, would otherwise run twice),
    the oriented edge list ``o`` (consumed three times: both wedge
    sides + the closing probe), and the triangle table (consumed
    three times by the corner union). EAGER: a stat aggregate over ``o``
    picks the closing probe (see TRI_BCAST_MAX_EDGES)."""
    edges = _materialize(edges)
    deg = (edges.select(F.col("src").alias("node"))
           .unionByName(edges.select(F.col("dst").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    ds = deg.select(F.col("node").alias("src"),
                    F.col("deg").alias("sdeg"))
    dd = deg.select(F.col("node").alias("dst"),
                    F.col("deg").alias("ddeg"))
    e = edges.join(ds, "src").join(dd, "dst")
    fwd = F.struct(F.col("sdeg"), F.col("src")) \
        < F.struct(F.col("ddeg"), F.col("dst"))
    o = e.select(F.when(fwd, F.col("src")).otherwise(F.col("dst"))
                 .alias("lo"),
                 F.when(fwd, F.col("dst")).otherwise(F.col("src"))
                 .alias("hi"))
    o = _materialize(o)
    w1 = o.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    w2 = o.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "b")
    # the orientation is a strict total order, so the closing edge of
    # a path a→b→c can only be oriented a→c — one semi-join closes
    # it. Probe strategy: the wedge stream is O(Σ outdeg²) — two
    # orders larger than the edge list — so when the edge list fits
    # the broadcast gate (and ids pack into one long), the probe runs
    # map-side against a broadcast LongHashedRelation of packed keys
    # and the wedges never shuffle; else the shuffle semi-join.
    stats = o.agg(F.count("*").alias("n"),
                  F.max(F.greatest("lo", "hi")).alias("mx"),
                  F.min(F.least("lo", "hi")).alias("mn")).first()
    if (stats["n"] > 0 and stats["n"] <= TRI_BCAST_MAX_EDGES
            and stats["mn"] >= 0 and stats["mx"] < (1 << 31)):
        # pack in LONG arithmetic: on int ids shiftleft(·, 32) masks
        # the shift count to 0 and distinct (lo, hi) keys collide
        def pack(x, y):
            return (F.shiftleft(F.col(x).cast("long"), 32)
                    + F.col(y).cast("long"))
        close = F.broadcast(o.select(pack("lo", "hi").alias("_k")))
        tri = (wedges.withColumn("_k", pack("a", "c"))
               .join(close, "_k", "semi").drop("_k"))
    else:
        tri = wedges.join(
            o.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
            ["a", "c"], "semi")
    # tri feeds the corner union THREE times; without a
    # materialization boundary the O(Σ outdeg²) wedge join + probe
    # re-executes per corner leg (exchange reuse dedups the shuffles
    # but not the merge/probe work above them — measured ~3× the
    # single-pass cost at 492M wedges)
    tri = _materialize(tri)
    corners = (tri.select(F.col("a").alias("node"))
               .unionByName(tri.select(F.col("b").alias("node")))
               .unionByName(tri.select(F.col("c").alias("node"))))
    return corners.groupBy("node").agg(
        F.count("*").alias("n_triangles"))
