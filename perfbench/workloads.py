"""Workload definitions: input sizes, the operators a request calls, and how
each output is checked against its oracle.

Pure configuration plus the output check.  It imports no Spark, so the
input generator (``inputs.py``) can read the sizes without starting a JVM.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Step:
    """One operator call of a request, on its own seeded input.
    ``generator`` and ``oracle`` name functions of ``inputs.py``; ``op`` is
    a public function of ``polars_grouper_spark``.  The output must match
    the oracle on ``key``: ``exact`` columns exactly, ``close`` (floating
    point) columns within ``REL_TOL`` / ``ABS_TOL``."""

    op: str
    generator: str
    sizes: dict
    smoke_sizes: dict
    oracle: str
    key: str
    exact: tuple[str, ...] = ()
    close: tuple[str, ...] = ()


@dataclass(frozen=True)
class Workload:
    """A request runs ``steps`` in order under the session ``confs``."""

    name: str
    why: str
    steps: tuple[Step, ...]
    confs: dict = field(default_factory=dict)


REL_TOL = 1e-9
ABS_TOL = 1e-12


def _cc(n_nodes: int, n_edges: int, smoke_nodes: int, smoke_edges: int) -> Step:
    return Step(
        op="connected_components",
        generator="power_law_edges",
        sizes={"n_nodes": n_nodes, "n_edges": n_edges},
        smoke_sizes={"n_nodes": smoke_nodes, "n_edges": smoke_edges},
        oracle="cc_oracle",
        key="node",
        exact=("component", "group"),
    )


BRANDES = Step(
    op="betweenness_centrality",
    generator="simple_graph",
    sizes={"n_nodes": 400, "n_edges": 1_800},
    smoke_sizes={"n_nodes": 60, "n_edges": 200},
    oracle="betweenness_oracle",
    key="node",
    close=("centrality",),
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="local_tier_brandes",
            why=(
                "driver and Python side: connected_components local tier on "
                "150k power-law edges, then exact betweenness_centrality on "
                "400 nodes behind applyInPandas"
            ),
            steps=(_cc(45_000, 150_000, 2_000, 6_000), BRANDES),
        ),
        Workload(
            name="dist_fixpoint",
            why=(
                "JVM engine side: connected_components on 50k power-law edges "
                "with the local tier off: star-loop rounds, checkpoints, "
                "fingerprints, shuffles"
            ),
            steps=(_cc(15_000, 50_000, 500, 1_500),),
            confs={"spark.polars_grouper.maxLocalEdges": "0"},
        ),
    )
}


def mismatches(result, oracle, step: Step) -> int:
    """Rows of the Spark frame ``result`` that disagree with the pandas
    frame ``oracle``: a key missing on either side, a duplicated key, or a
    value off the oracle each count once.  Independent of row order."""
    cols = [step.key, *step.exact, *step.close]
    got = result.select(*cols).toPandas()
    bad = int(got[step.key].duplicated().sum())
    m = got.drop_duplicates(step.key).merge(
        oracle[cols], on=step.key, how="outer", suffixes=("_r", "_o"), indicator=True
    )
    ok = m["_merge"] == "both"
    for c in step.exact:
        ok &= m[c + "_r"] == m[c + "_o"]
    for c in step.close:
        ok &= (m[c + "_r"] - m[c + "_o"]).abs() <= m[c + "_o"].abs() * REL_TOL + ABS_TOL
    return bad + int((~ok).sum())
