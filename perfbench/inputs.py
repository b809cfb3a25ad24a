"""Seeded input generators and the independent output oracles.

Everything here runs in a spawned helper process, before any timing, so
neither its time nor its memory lands in the measured driver.  The
operators under test only ever see the parquet files written here.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd


def _string_ids(rng: np.random.Generator, n: int, prefix: str) -> np.ndarray:
    """n distinct string ids in random order, so id order says nothing
    about degree."""
    return (prefix + pd.Series(rng.permutation(n)).astype(str)).to_numpy(object)


def power_law_edges(seed: int, n_nodes: int, n_edges: int) -> pd.DataFrame:
    """Directed edge list whose endpoints follow a power law over node
    rank.  Duplicate edges and self-loops are kept, as real edge lists
    carry them."""
    rng = np.random.default_rng(seed)
    p = (np.arange(1, n_nodes + 1, dtype=np.float64)) ** -0.9
    p /= p.sum()
    ids = _string_ids(rng, n_nodes, "n")
    src = rng.choice(n_nodes, size=n_edges, p=p)
    dst = rng.choice(n_nodes, size=n_edges, p=p)
    return pd.DataFrame({"from": ids[src], "to": ids[dst]})


def simple_graph(seed: int, n_nodes: int, n_edges: int) -> pd.DataFrame:
    """Undirected simple graph: no self-loops, no duplicate pairs in
    either orientation."""
    rng = np.random.default_rng(seed)
    ids = _string_ids(rng, n_nodes, "v")
    pairs: set[tuple[int, int]] = set()
    while len(pairs) < n_edges:
        u = rng.integers(0, n_nodes, size=n_edges)
        v = rng.integers(0, n_nodes, size=n_edges)
        for a, b in zip(u.tolist(), v.tolist()):
            if a != b:
                pairs.add((min(a, b), max(a, b)))
            if len(pairs) == n_edges:
                break
    arr = np.array(sorted(pairs), dtype=np.int64)
    arr = arr[rng.permutation(len(arr))]
    return pd.DataFrame({"from": ids[arr[:, 0]], "to": ids[arr[:, 1]]})


def cc_oracle(edges: pd.DataFrame) -> pd.DataFrame:
    """networkx partition; label = min node name of the component; group =
    rank of the component's first appearance (rows in file order, ``from``
    before ``to``), numbered from 1."""
    import networkx as nx

    src = edges["from"].to_numpy(object)
    dst = edges["to"].to_numpy(object)
    g = nx.Graph()
    g.add_edges_from(zip(src, dst))
    order = pd.unique(np.column_stack([src, dst]).ravel())
    first = dict(zip(order, range(len(order))))
    comps = sorted(
        (min(first[v] for v in comp), min(comp), comp)
        for comp in nx.connected_components(g)
    )
    nodes, labels, groups = [], [], []
    for group, (_, label, comp) in enumerate(comps, start=1):
        nodes.extend(comp)
        labels.extend([label] * len(comp))
        groups.extend([group] * len(comp))
    return pd.DataFrame(
        {"node": nodes, "component": labels, "group": np.array(groups, np.int64)}
    )


def betweenness_oracle(edges: pd.DataFrame) -> pd.DataFrame:
    """networkx exact Brandes, normalized, undirected."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(edges["from"], edges["to"]))
    bc = nx.betweenness_centrality(g, normalized=True)
    return pd.DataFrame({"node": list(bc), "centrality": list(bc.values())})


def build_case(name: str, seed: int, smoke: bool, out: str) -> None:
    """Write each step's ``<i>/input.parquet`` and ``<i>/oracle.parquet``
    plus ``meta.json`` into ``out``; the directory appears whole or not at
    all."""
    from workloads import WORKLOADS

    tmp = out + ".tmp"
    steps = []
    for i, step in enumerate(WORKLOADS[name].steps):
        d = os.path.join(tmp, str(i))
        os.makedirs(d, exist_ok=True)
        t0 = time.perf_counter()
        frame = globals()[step.generator](
            seed, **(step.smoke_sizes if smoke else step.sizes)
        )
        frame.to_parquet(os.path.join(d, "input.parquet"), index=False)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        ref = globals()[step.oracle](frame)
        ref.to_parquet(os.path.join(d, "oracle.parquet"), index=False)
        steps.append({"op": step.op, "input_rows": len(frame), "oracle_rows": len(ref),
                      "generate_s": gen_s, "oracle_s": time.perf_counter() - t0})
    meta = {
        "workload": name,
        "seed": seed,
        "steps": steps,
        **{k: sum(s[k] for s in steps) for k in ("input_rows", "generate_s", "oracle_s")},
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)


if __name__ == "__main__":
    import sys

    build_case(sys.argv[1], int(sys.argv[2]), sys.argv[3] == "smoke", sys.argv[4])
