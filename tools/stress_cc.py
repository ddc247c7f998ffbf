"""Scale stress probe for DISTRIBUTED connected components — the
hash-to-min label-propagation loop (kg/stages/canon.py C3) on a
multi-million-node graph whose true components are independently
computable, verified label-for-label.

Graph (deterministic arithmetic, same family as the driver-oracle
kg_connected_components entry, scaled):

  - nodes 0..N-1; per group of 16, star edges root=16·g → members;
  - chain bridges (id, id+16) where id % 16 == 0 and (id//16) % C
    != C-1 — they string C consecutive stars into one component of
    diameter ~C, so label propagation genuinely ITERATES (~C rounds),
    not just two;
  - sparse extra bridges (id, id+1) where id % 97 == 0 — cross-group
    merges at irregular offsets.

Truth: a driver union-find over the identical edge arithmetic (numpy
construction, path-halving) — independent of every Spark code path.
The probe FORCES the distributed branch (components_auto fast path
bypassed) and compares all N labels exactly.

Usage: python tools/stress_cc.py [--nodes 2000000] [--chain 8]
Prints one JSON line.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _truth(n: int, chain: int) -> np.ndarray:
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    for i in range(n):
        if i % 16 != 0:
            union((i // 16) * 16, i)
    for i in range(0, n - 16, 16):
        if (i // 16) % chain != chain - 1:
            union(i, i + 16)
    for i in range(0, n - 1, 97):
        union(i, i + 1)
    # min-label closure: root-chasing with path compression already
    # keeps roots minimal because union always keeps the smaller root
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=2_000_000)
    ap.add_argument("--chain", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kg.session import get_spark
    from kg.stages import canon

    spark = get_spark(app_name="kg-cc-stress")
    n, chain = args.nodes, args.chain

    nodes = spark.range(n).select(F.col("id").alias("node"))
    star = (spark.range(n).where("id % 16 != 0")
            .select((F.col("id") - F.col("id") % 16).alias("src"),
                    F.col("id").alias("dst")))
    chains = (spark.range(0, n - 16, 16)
              .where(f"(id div 16) % {chain} != {chain - 1}")
              .select(F.col("id").alias("src"),
                      (F.col("id") + 16).alias("dst")))
    sparse = (spark.range(0, n - 1, 97)
              .select(F.col("id").alias("src"),
                      (F.col("id") + 1).alias("dst")))
    edges = star.unionByName(chains).unionByName(sparse)

    t0 = time.time()
    # force a DISTRIBUTED loop — the driver union-find fast path is
    # exactly what we verify against, so it must not run
    labels = canon.connected_components(nodes, edges)
    pdf = labels.toPandas().sort_values("node")
    dt = time.time() - t0

    got = pdf["component"].to_numpy()
    want = _truth(n, chain)
    match = bool((got == want).all())
    n_components = int(len(np.unique(want)))

    print(json.dumps({
        "n_nodes": n,
        "n_edges": edges.count(),
        "n_components": n_components,
        "labels_match": match,
        "seconds": round(dt, 2),
    }))
    spark.stop()
    if not match:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
