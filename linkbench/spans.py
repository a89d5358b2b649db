"""Span recording for the traced run.

Spans are recorded only from the benchmark's own files: the workload code
opens a span around each public call it makes, and ``instrument`` wraps the
public calls the library makes internally (PreparedGraph statics, the
superstep truncate/record pair, checkpoint save/load) at runtime, with no
edits to the library. Every span runs in its own Spark job group, so the
status store can attribute jobs, stages and tasks to exactly one span.
Spans stay in memory; ``layer_metrics`` turns them into per-layer numbers
at the end of the run.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from stats import median, self_times

# Operator span name -> the short name its supersteps are reported under.
OPERATORS = {"pagerank": "pagerank", "components": "cc", "label_propagation": "lpa"}

# Layers reported with the full set of status-store values.
FULL_LAYERS = (
    "extract",
    "edges",
    "triangles",
    "dedup",
    "prepared",
    "superstep.pagerank",
    "superstep.cc",
    "superstep.lpa",
    "checkpoint",
)
FULL_VALUES = (
    "wall_s", "busy_s", "wait_s", "jobs", "tasks", "failed_tasks",
    "shuffle_write_mb", "spill_mb",
)
# Operator self layers (convergence scalar + driver loop).
OPERATOR_VALUES = ("iters", "self_s", "busy_s", "wait_s", "jobs", "tasks")
# Counts recorded at layer boundaries, beyond the status-store values.
EXTRA_COUNTS = (
    "session.start_s",
    "extract.pages", "extract.raw_edges", "extract.malformed_pages",
    "edges.unique_ratio", "edges.write_mb",
    "triangles.oriented_edges", "triangles.count",
    "dedup.candidates", "dedup.pairs", "dedup.precision",
    "prepared.cached_mb",
    *(
        f"superstep.{op}.{key}"
        for op in OPERATORS.values()
        for key in ("steps", "step_s", "exchanges", "shuffle_mb")
    ),
    "checkpoint.saves", "checkpoint.save_s", "checkpoint.write_mb", "checkpoint.load_s",
    "trace.job_s",
)
# Every per-layer metric a traced run reports, on every workload; a layer
# the workload does not use reads 0.
PER_LAYER = (
    *(f"{layer}.{key}" for layer in FULL_LAYERS for key in FULL_VALUES),
    *(f"{op}.{key}" for op in OPERATORS.values() for key in OPERATOR_VALUES),
    *EXTRA_COUNTS,
)

MB = 1024 * 1024
_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False

    def layer(self, name, **attrs):
        return contextlib.nullcontext()

    def note(self, name, value):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        # frames the library builds internally, kept for counting after
        # the span that built them has closed
        self.stash: dict = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def layer(self, name, **attrs):
        parent = self._stack[-1] if self._stack else None
        span = Span(name, parent, f"linkbench-span-{len(self.spans)}", attrs=attrs)
        self._stack.append(len(self.spans))
        self.spans.append(span)
        self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def note(self, name, value):
        """Set the extra count ``name`` to ``value``."""
        self.counts[name] = value

    def operator(self) -> str:
        """Short name of the innermost operator span open right now."""
        for idx in reversed(self._stack):
            name = self.spans[idx].name
            if name in OPERATORS:
                return OPERATORS[name]
        return "other"


def _patch(stack: contextlib.ExitStack, owner, attr, make):
    original = getattr(owner, attr)
    setattr(owner, attr, make(original))
    stack.callback(setattr, owner, attr, original)


def exchange_count(df) -> int:
    """Shuffle and broadcast Exchange nodes that ran in the executed plan of
    ``df`` (the final plan when adaptive execution has run it).

    Walks the plan tree itself, not its printed form: the inner plan of a
    cached relation (an ``InMemoryTableScan``'s, such as the PreparedGraph
    statics) is not part of the tree, and a reused exchange ran elsewhere,
    so neither is counted."""

    def walk(node) -> int:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):  # an adaptive stage: its plan
            return walk(node.plan())
        children = node.children()
        own = 1 if kind in _EXCHANGES else 0
        return own + sum(walk(children.apply(i)) for i in range(children.size()))

    return walk(df._jdf.queryExecution().executedPlan())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the library's internal public calls in spans for the duration
    of the block; the originals are restored on exit."""
    from citation_graph_spark.operators.prepared import PreparedGraph
    from citation_graph_spark.pipeline import dedup
    from citation_graph_spark.operators.superstep import SuperstepContext
    from citation_graph_spark.sources.checkpoint import CheckpointManager

    def prepared(original):
        def wrapper(*args, **kwargs):
            with tracer.layer("prepared"):
                return original(*args, **kwargs)

        return wrapper

    def superstep(original):
        def wrapper(ctx, state, iteration, *args, **kwargs):
            op = tracer.operator()
            with tracer.layer(f"superstep.{op}", iteration=iteration) as span:
                out = original(ctx, state, iteration, *args, **kwargs)
            if original.__name__ == "truncate":
                # state was just executed by the eager localCheckpoint
                span.attrs["exchanges"] = exchange_count(state)
            return out

        return wrapper

    def save(original):
        def wrapper(manager, state, iteration, *args, **kwargs):
            with tracer.layer("checkpoint", kind="save") as span:
                out = original(manager, state, iteration, *args, **kwargs)
            span.attrs["bytes"] = dir_bytes(manager._iter_dir(iteration))
            return out

        return wrapper

    def latest(original):
        def wrapper(manager, *args, **kwargs):
            with tracer.layer("checkpoint", kind="load"):
                return original(manager, *args, **kwargs)

        return wrapper

    def keep_candidates(original):
        def wrapper(candidates, *args, **kwargs):
            tracer.stash["candidates"] = candidates
            return original(candidates, *args, **kwargs)

        return wrapper

    with contextlib.ExitStack() as stack:
        _patch(stack, dedup, "exact_jaccard_for_candidates", keep_candidates)
        for method in ("weighted_edges", "dangling_flagged", "symmetrized"):
            _patch(stack, PreparedGraph, method, prepared)
        for method in ("truncate", "record"):
            _patch(stack, SuperstepContext, method, superstep)
        _patch(stack, CheckpointManager, "save", save)
        _patch(stack, CheckpointManager, "latest", latest)
        yield


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def stage_totals(sc, groups) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed tasks, executor run time and
    shuffle/spill bytes of the stages its jobs ran.

    A stage listed by several jobs (a reused shuffle) is charged once, to
    the first job that lists it."""
    tracker = sc.statusTracker()
    owner: dict[int, tuple[int, str]] = {}
    totals = {g: defaultdict(float) for g in groups}
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            totals[group]["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id not in owner or owner[stage_id][0] > job_id:
                    owner[stage_id] = (job_id, group)
    if not owner:
        return totals
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
    it = stages.iterator()
    while it.hasNext():
        stage = it.next()
        hit = owner.get(stage.stageId())
        if hit is None:
            continue
        t = totals[hit[1]]
        t["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
        t["failed_tasks"] += stage.numFailedTasks()
        t["busy_s"] += stage.executorRunTime() / 1000.0
        t["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
        t["spill_mb"] += stage.diskBytesSpilled() / MB
    return totals


# ---------------------------------------------------------------------------
# per-layer aggregation
# ---------------------------------------------------------------------------


def layer_metrics(tracer: Tracer, cores: int) -> dict[str, float]:
    """Every ``PER_LAYER`` metric from the recorded spans: self values per
    layer, plus the counts the workload recorded (``tracer.counts``)."""
    spans = tracer.spans
    selfs = self_times([(s.start, s.end, s.parent) for s in spans])
    stage = stage_totals(tracer.sc, [s.group for s in spans])
    out = dict.fromkeys(PER_LAYER, 0.0)
    steps: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    exchanges: dict[str, list[int]] = defaultdict(list)
    for span, self_s in zip(spans, selfs):
        if span.name in OPERATORS:
            name = OPERATORS[span.name]
            out[f"{name}.self_s"] += self_s
        elif span.name in FULL_LAYERS:
            name = span.name
            out[f"{name}.wall_s"] += self_s
            for key in ("failed_tasks", "shuffle_write_mb", "spill_mb"):
                out[f"{name}.{key}"] += stage[span.group][key]
        else:
            continue  # operation spans: their self time is driver glue
        for key in ("busy_s", "jobs", "tasks"):
            out[f"{name}.{key}"] += stage[span.group][key]
        iteration = span.attrs.get("iteration", 0)
        if name.startswith("superstep.") and iteration > 0:
            steps[name][iteration] += self_s
            if "exchanges" in span.attrs:
                exchanges[name].append(span.attrs["exchanges"])
        if name == "checkpoint":
            kind = span.attrs["kind"]
            if kind == "save":
                out["checkpoint.saves"] += 1
                out["checkpoint.write_mb"] += span.attrs["bytes"] / MB
            if span.parent is None or spans[span.parent].name != "checkpoint":
                # inclusive time of the outermost checkpoint span
                out[f"checkpoint.{kind}_s"] += span.end - span.start

    for op in OPERATORS.values():
        layer = f"superstep.{op}"
        n = len(steps[layer])
        if n:
            out[f"{layer}.steps"] = n
            out[f"{layer}.step_s"] = median(list(steps[layer].values()))
            out[f"{layer}.shuffle_mb"] = out[f"{layer}.shuffle_write_mb"] / n
        if exchanges[layer]:
            out[f"{layer}.exchanges"] = median(exchanges[layer])
    for layer in FULL_LAYERS:
        out[f"{layer}.wait_s"] = out[f"{layer}.wall_s"] - out[f"{layer}.busy_s"] / cores
    for op in OPERATORS.values():
        out[f"{op}.wait_s"] = out[f"{op}.self_s"] - out[f"{op}.busy_s"] / cores
    out.update(tracer.counts)
    return out
