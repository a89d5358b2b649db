"""PageRank as join-aggregate supersteps — the engine's benchmark workload.

Semantics match the standard power iteration with damping ``alpha``,
uniform teleport, and uniform redistribution of dangling mass each
iteration (NetworkX semantics; the reference's citation counts are the
degree special case of this, ``src/citation_graph/traverser.py:109-116``):

    r'(v) = (1-a)/n + a * ( sum_{u->v} r(u)/outdeg(u)  +  dm/n )
    dm    = sum of r(u) over dangling u (no out-edges)

Converges when the L1 delta ``sum |r' - r|`` drops below ``tol`` (1e-6 per
the north rule).

Scale shape per iteration (what runs on 1000 executors):
- ``ranks ⋈ edges`` on ``src`` — the big side (edges) is pre-weighted,
  pre-partitioned on ``src`` and persisted ONCE; only the small rank frame
  shuffles each superstep. AQE skew-join splits hub-src partitions; an
  explicit ``salt_factor`` replicates rank rows across salted edge splits
  for deterministic hub handling.
- ``groupBy(dst).sum()`` — partial (map-side) aggregation bounds a hub
  dst's shuffle rows by the partition count, the built-in equivalent of
  two-phase salted aggregation.
- one driver-side scalar action per iteration reads BOTH the L1 delta and
  the next iteration's dangling mass from the already-materialized state —
  no extra pass.
- plan lineage is truncated per iteration (localCheckpoint), durable
  Parquet checkpoints + manifest every ``durable_every`` iterations; a
  killed run resumes from the newest valid manifest (metrics carry the
  dangling mass, so resume is exact).

:func:`personalized_pagerank` runs on the same loop (``_power_iteration``);
the two differ only in the restart term — uniform ``(1-a)/n + a*dm/n`` here,
the source vector there.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from citation_graph_spark.operators.prepared import PreparedGraph, superstep_contribs
from citation_graph_spark.operators.superstep import SuperstepContext
from citation_graph_spark.sources.checkpoint import CheckpointManager, id_fingerprint


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    delta: float
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def pagerank(
    edges: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    salt_factor: int | str = 0,
    resume: bool = True,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run PageRank on an ``(src, dst, ...)`` edge DataFrame.

    The loop (``_power_iteration``, shared with
    :func:`personalized_pagerank`) carries ``(id, rank, is_dangling)`` and
    adds the uniform restart ``(1-a)/n + a*dm/n`` to every vertex; resume,
    truncation, timing and checkpoints follow ``SuperstepContext``.

    ``weight_col``: optional strictly-positive edge-weight column —
    contributions become r(u)·weight(u,v)/Σ_w(u) instead of
    r(u)/outdeg(u) (weighted PageRank; identical superstep plan, only
    the per-edge ``w`` in the static cache changes). Ignored when
    ``prepared`` is passed (the PreparedGraph's own ``weight_col``
    governs, since its cache is already built).

    ``salt_factor``: 0/1 = unsalted; N>1 = split each src's edges over N
    salted join partitions (hub skew the cached edge side has, which AQE
    cannot split — measured 1.57× on a 15%-hub graph, BENCH.md);
    ``"auto"`` = the deterministic skew probe proposes a factor and a
    measured 2-superstep A/B validates it before committing
    (``PreparedGraph.resolve_salt_factor`` — auto can never pick a layout
    it just measured as slower than unsalted). The checkpoint manifest
    records the RESOLVED integer, and a resumed ``"auto"`` run ADOPTS
    that recorded factor instead of re-measuring (measurement is
    timing-dependent; adoption keeps resume deterministic and exact).

    ``prepared``: pass a :class:`PreparedGraph` to reuse the weighted
    sorted edge cache (and vertex/dangling tables) across repeated
    algorithm calls on the same graph — the static setup then runs once,
    outside this call's wall. Without it, a private one is built and
    released before returning (single-call behavior unchanged)."""
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions, weight_col=weight_col)
    else:
        edges = prepared.edges
        weight_col = prepared.weight_col
    spark = edges.sparkSession
    if salt_factor == "auto":
        salt_factor = _resolve_auto_salt(
            spark, prepared, checkpoint_dir if resume else None,
            alpha=alpha, tol=tol, max_iter=max_iter,
        )

    ckpt = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(
            spark,
            checkpoint_dir,
            args={
                "algorithm": "pagerank",
                "alpha": alpha,
                "tol": tol,
                "max_iter": max_iter,
                "salt_factor": salt_factor,
                **({"weight_col": weight_col} if weight_col else {}),
            },
        )
    ctx = SuperstepContext(checkpoint=ckpt, durable_every=durable_every)

    def uniform(flagged: DataFrame) -> _Restart:
        n = prepared.n_vertices()
        return _Restart(
            flagged,
            F.lit(1.0 / n),
            lambda state, dm: F.lit((1.0 - alpha) / n + alpha * dm / n),
        )

    try:
        return _power_iteration(
            prepared, ctx, alpha, tol, max_iter, salt_factor, resume, uniform
        )
    finally:
        if owns_prepared:
            prepared.unpersist()


def personalized_pagerank(
    edges: DataFrame | None = None,
    sources: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    durable_every: int = 5,
    salt_factor: int = 0,
    resume: bool = True,
    num_partitions: int | None = None,
    prepared: PreparedGraph | None = None,
) -> PageRankResult:
    """Personalized PageRank: random walk with restart to a source set.

    The reference's whole program is rooted expansion from one seed paper
    (``src/citation_graph/traverser.py:132-145`` walks outward from
    ``start_paper``); PPR is the principled scoring of that rooted view —
    relevance TO the seed set rather than global importance:

        r'(v) = ((1-a) + a*dm) * p(v) + a * Σ_{u→v} r(u)/outdeg(u)

    with ``p`` uniform over ``sources ∩ vertices`` (ns of them, p(v) =
    1/ns), r0 = p, dangling mass restarting at the sources, and the same
    L1-delta stopping rule as :func:`pagerank`. It runs on
    :func:`pagerank`'s loop (same superstep plan, checkpointing and
    resume); only the restart term differs, a branchless CASE over a
    source flag broadcast-joined once into the state.

    ``sources``: DataFrame with an ``id`` column (kept declarative —
    typically tiny vs the graph, so the flag join broadcasts). Ids not in
    the graph are ignored; ns counts only matched sources. The manifest
    records a fingerprint of the distinct source ids, so resuming with
    another source set warns and starts fresh.
    ``salt_factor`` is the explicit integer knob (no "auto" here — the
    measured A/B would re-time what the pagerank study already settled
    for the shared superstep body)."""
    if sources is None:
        raise ValueError("personalized_pagerank requires a sources DataFrame")
    owns_prepared = prepared is None
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = PreparedGraph(edges, num_partitions)
    else:
        edges = prepared.edges
    spark = edges.sparkSession

    ckpt = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(
            spark,
            checkpoint_dir,
            args={
                "algorithm": "personalized_pagerank",
                "alpha": alpha,
                "tol": tol,
                "max_iter": max_iter,
                "salt_factor": salt_factor,
                "sources_fp": id_fingerprint(sources),
            },
        )
    ctx = SuperstepContext(checkpoint=ckpt, durable_every=durable_every)

    def to_sources(flagged: DataFrame) -> _Restart:
        # the seed set is small by construction: broadcast the flag join
        vertices = flagged.join(
            F.broadcast(
                sources.select("id").distinct().withColumn("is_source", F.lit(True))
            ),
            "id",
            "left",
        ).select(
            "id", "is_dangling", F.coalesce("is_source", F.lit(False)).alias("is_source")
        )
        ns = vertices.where("is_source").count()
        if ns == 0:
            raise ValueError("no source id matches a graph vertex")
        return _Restart(
            vertices,
            F.when(F.col("is_source"), F.lit(1.0 / ns)).otherwise(0.0),
            lambda state, dm: F.when(
                state.is_source, F.lit(((1.0 - alpha) + alpha * dm) / ns)
            ).otherwise(0.0),
        )

    try:
        return _power_iteration(
            prepared, ctx, alpha, tol, max_iter, salt_factor, resume, to_sources
        )
    finally:
        if owns_prepared:
            prepared.unpersist()


def _resolve_auto_salt(
    spark, prepared: PreparedGraph, checkpoint_dir: str | None, **call_args
) -> int:
    """Resolve ``salt_factor="auto"`` for one pagerank call.

    A resumable checkpoint whose OTHER args match this call ADOPTS the
    manifest's recorded integer factor: the measured A/B inside
    ``resolve_salt_factor`` is timing-dependent, and a re-measurement
    that resolved differently would fail the args-compat check and
    silently discard the checkpoint. Only a fresh run (no compatible
    manifest) probes + measures."""
    if checkpoint_dir is not None:
        from citation_graph_spark.sources.checkpoint import (
            CheckpointManager,
            resume_compatible,
        )

        manifest = CheckpointManager(spark, checkpoint_dir).peek_latest_manifest()
        if manifest is not None:
            margs = dict(manifest.get("args") or {})
            recorded = margs.get("salt_factor")
            want = {"algorithm": "pagerank", **call_args, "salt_factor": recorded}
            if isinstance(recorded, int) and resume_compatible(margs, want):
                return recorded
    return prepared.resolve_salt_factor()


class _Restart(NamedTuple):
    """What distinguishes PageRank from PPR: the vertex table the state is
    built from (``id``, ``is_dangling`` and any flag the restart term
    reads), the initial rank, and the per-vertex restart term as a
    function of the state and the current dangling mass."""

    vertices: DataFrame
    initial_rank: Column
    term: Callable[[DataFrame, float], Column]


def _power_iteration(
    prepared: PreparedGraph,
    ctx: SuperstepContext,
    alpha: float,
    tol: float,
    max_iter: int,
    salt_factor: int,
    resume: bool,
    restart: Callable[[DataFrame], _Restart],
) -> PageRankResult:
    """The loop :func:`pagerank` and :func:`personalized_pagerank` share:
    r'(v) = restart(v) + alpha * Σ_{u→v} r(u)·w(u,v)."""
    # a converged checkpoint returns before any static table is built
    resumed = (
        ctx.resume(lambda it, m: m.get("delta") is not None and m["delta"] < tol)
        if resume
        else None
    )
    if resumed is not None and resumed.done:
        return PageRankResult(
            resumed.state.select("id", "rank"),
            resumed.iteration,
            float(resumed.metrics["delta"]),
            True,
            [],
        )

    # --- static per-run tables (PreparedGraph: built once, persisted,
    # shared across algorithm calls when the caller passed one) --------------
    w_edges = prepared.weighted_edges(salt_factor)
    flagged = prepared.dangling_flagged()
    if prepared.n_vertices() == 0:
        empty = flagged.select(F.col("id"), F.lit(0.0).alias("rank"))
        return PageRankResult(empty, 0, 0.0, True, [])
    vertices, initial_rank, restart_term = restart(flagged)
    carried = [c for c in vertices.columns if c != "id"]

    if resumed is None:
        state = vertices.select("id", initial_rank.alias("rank"), *carried)
        state = ctx.truncate(state, 0)
        dangling_mass = (
            state.where("is_dangling").agg(F.sum("rank")).first()[0] or 0.0
        )
        state = ctx.record(state, 0, {"dangling_mass": dangling_mass, "delta": None})
        start_iter, delta = 1, float("inf")
    else:
        # the metrics carry the dangling mass, so the resume is exact; a
        # resume with no step left reports the recorded residual, not inf
        state = resumed.state
        start_iter = resumed.iteration + 1
        dangling_mass = float(resumed.metrics["dangling_mass"])
        recorded = resumed.metrics.get("delta")
        delta = float("inf") if recorded is None else float(recorded)

    it = start_iter - 1
    for it in range(start_iter, max_iter + 1):
        # the join-agg superstep body lives in prepared.superstep_contribs —
        # shared with the measured salt A/B so the probe times this exact plan
        contribs = superstep_contribs(state, w_edges, salt_factor)
        new_state = (
            state.join(contribs.hint("merge"), state.id == contribs.dst, "left")
            .select(
                state.id.alias("id"),
                (
                    restart_term(state, dangling_mass)
                    + F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
                ).alias("new_rank"),
                state.rank.alias("old_rank"),
                *[state[c].alias(c) for c in carried],
            )
            .select(
                "id",
                F.col("new_rank").alias("rank"),
                *carried,
                F.abs(F.col("new_rank") - F.col("old_rank")).alias("_delta"),
            )
        )
        new_state = ctx.truncate(new_state, it)
        row = new_state.agg(
            F.sum("_delta").alias("delta"),
            F.sum(F.when(F.col("is_dangling"), F.col("rank"))).alias("dm"),
        ).first()
        delta = float(row["delta"] or 0.0)
        dangling_mass = float(row["dm"] or 0.0)
        state = ctx.record(
            new_state.drop("_delta"),
            it,
            {"dangling_mass": dangling_mass, "delta": delta},
        )
        if delta < tol:
            break

    converged = delta < tol
    # the last state with its full schema (so a resume works) even when it
    # fell between durable_every boundaries
    state = ctx.finish(
        state, it, {"dangling_mass": dangling_mass, "delta": delta, "final": converged}
    )
    return PageRankResult(state.select("id", "rank"), it, delta, converged, ctx.history)
