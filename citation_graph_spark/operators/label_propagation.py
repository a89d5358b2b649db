"""Synchronous label propagation (community detection) as supersteps.

Rule (deterministic — north rule requires exact label parity at
convergence): every vertex starts with its own id as label; each round a
vertex adopts the most frequent label among its undirected neighbours,
breaking count-ties toward the SMALLEST label; isolated vertices keep
their label. Stops at fixpoint or ``max_iter`` (synchronous LPA can
2-cycle on bipartite structures — the converged flag reports which).

Superstep shape: labels ⋈ sym-edges on ``src`` → ``groupBy(dst, label).
count()`` → per-dst argmax as two hash aggregations (max count, then min
label among the tied) — no window sort, works for long AND string labels,
and the whole argmax stays JVM-side with map-side partials.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from citation_graph_spark.edges import vertices_of
from citation_graph_spark.operators.prepared import PreparedGraph
from citation_graph_spark.operators.superstep import SuperstepContext
from citation_graph_spark.sources.checkpoint import CheckpointManager


@dataclass
class LPAResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def label_propagation(
    edges: DataFrame | None = None,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    resume: bool = True,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
) -> LPAResult:
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)
    else:
        edges = prepared.edges
    try:
        return _lpa_loop(
            prepared, edges, max_iter, checkpoint_dir, durable_every, resume
        )
    finally:
        if owns_prepared:
            prepared.unpersist()


def _lpa_loop(
    prepared: PreparedGraph,
    edges: DataFrame,
    max_iter: int,
    checkpoint_dir: str | None,
    durable_every: int,
    resume: bool,
) -> LPAResult:
    spark = edges.sparkSession

    ckpt = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(
            spark,
            checkpoint_dir,
            args={"algorithm": "label_propagation", "max_iter": max_iter},
        )
    ctx = SuperstepContext(checkpoint=ckpt, durable_every=durable_every)

    resumed = ctx.resume(lambda it, m: m.get("changed") == 0) if resume else None
    if resumed is not None and resumed.done:
        return LPAResult(resumed.state.select("id", "label"), resumed.iteration, True, [])

    sym = prepared.symmetrized()

    if resumed is None:
        # vertex set from the PreparedGraph's cached flag table (r06; see
        # components.py — one shared aggregation instead of a private
        # union-distinct over the edge table)
        state = prepared.dangling_flagged().select("id", F.col("id").alias("label"))
        state = ctx.truncate(state, 0)
        ctx.record(state, 0, {"changed": None})
        start_iter = 1
    else:
        state, start_iter = resumed.state, resumed.iteration + 1

    changed = -1
    it = start_iter - 1
    for it in range(start_iter, max_iter + 1):
        # Count neighbour labels per vertex, then a type-agnostic argmax:
        # max count first, smallest label on ties. Two hash aggs (both with
        # map-side partials), no window sort, works for long AND string ids.
        counts = (
            state.join(sym.hint("merge"), state.id == sym.src)
            .groupBy(sym.dst.alias("id"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        max_cnt = counts.groupBy("id").agg(F.max("cnt").alias("max_cnt"))
        nbr_best = (
            counts.join(max_cnt, "id")
            .where(F.col("cnt") == F.col("max_cnt"))
            .groupBy("id")
            .agg(F.min("label").alias("best_label"))
        )
        new_state = (
            state.join(nbr_best.hint("merge"), "id", "left")
            .select(
                "id",
                F.coalesce("best_label", "label").alias("label"),
                (F.coalesce("best_label", "label") != F.col("label")).alias("_changed"),
            )
        )
        new_state = ctx.truncate(new_state, it)
        changed = new_state.where("_changed").count()
        state = new_state.drop("_changed")
        state = ctx.record(state, it, {"changed": changed})
        if changed == 0:
            break

    converged = changed == 0
    state = ctx.finish(state, it, {"changed": changed, "final": converged})
    return LPAResult(state.select("id", "label"), it, converged, ctx.history)
