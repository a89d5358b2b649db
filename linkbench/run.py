"""Link-graph benchmark: one run of one workload.

    python3 linkbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Sets up three times (session, inputs
generated from the seed) and reports the median, runs the workload's job
once and again while less than ``--seconds`` have passed, and checks the
last job's outputs. Gated times are walls less the CPU time the hypervisor
stole from this machine (``host.Interval``). ``--trace 1`` runs one job with spans and reports
per-layer numbers instead of end-to-end ones. See NOTES.md.

stdout: one report line (every named metric with its unit and sample
count), then, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from host import Interval  # noqa: E402

SETUP_ROUNDS = 3
# Well below this host class's RAM; the library default (16g) is not.
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def filesystem_of(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path, best, fstype = os.path.realpath(path), "", "unknown"
    try:
        with open("/proc/mounts", encoding="utf-8") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and (
                    path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")
                ) and len(parts[1]) > len(best):
                    best, fstype = parts[1], parts[2]
    except OSError:
        pass
    return fstype


def session_config(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": cores,
        "driver_memory": DRIVER_MEM,
        "local_dir": local_dir,
        "tmp_dir": tmp,
        "filesystem": filesystem_of(work),
    }


def start_session(conf: dict):
    """The library's session factory, pinned to this host: explicit
    master and shuffle partitions, driver memory below host RAM, every
    scratch file inside the work directory."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = conf["driver_memory"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = conf["local_dir"]
    os.environ["SPARK_LOCAL_DIRS"] = conf["local_dir"]
    os.environ["TMPDIR"] = conf["tmp_dir"]
    # the short-lived JVM that assembles the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={conf['tmp_dir']} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = conf["tmp_dir"]
    from citation_graph_spark.session import get_spark

    return get_spark(
        app_name="linkbench",
        master=conf["master"],
        shuffle_partitions=conf["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the
            # status store, so none may be evicted
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.warehouse.dir": os.path.join(conf["tmp_dir"], "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={conf['tmp_dir']} -XX:-UsePerfData"
            ),
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def set_up(wl_cls, conf, work, seed):
    """SETUP_ROUNDS set-ups, each a fresh session and freshly generated
    inputs; the first also launches the JVM. No library operation runs
    before the last round, so every job runs in the final session.
    Returns the last round's state, every round's ``Interval`` and every
    session start's wall."""
    spark, rounds, starts = None, [], []
    for _ in range(SETUP_ROUNDS):
        with Interval() as round_:
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(conf)
            starts.append(time.perf_counter() - t0)
            wl = wl_cls(spark, work, seed)
            inputs = wl.generate("input")
        rounds.append(round_)
    return spark, wl, inputs, rounds, starts


def timed(name: str, intervals) -> dict:
    """``<name>_s``, the median of the intervals' walls less the CPU time
    stolen from them, and ``<name>_wall_s`` and ``<name>_stolen``, the
    medians of the raw walls and of the stolen shares."""
    from stats import median

    return {
        f"{name}_s": {"median": median([i.value for i in intervals]),
                      "n": len(intervals), "unit": "s"},
        f"{name}_wall_s": {"median": median([i.wall for i in intervals]),
                           "values": [i.wall for i in intervals], "unit": "s"},
        f"{name}_stolen": {"median": median([i.stolen for i in intervals]),
                           "unit": "ratio"},
    }


def named_metrics(wl, op_times, outputs, inputs) -> dict:
    """This workload's end-to-end numbers under their own names, each
    with its unit."""
    from stats import timing_summary

    named = {
        f"{op}_s": {**timing_summary([i.wall for i in v]), "unit": "s"}
        for op, v in op_times.items()
    }
    named["cache_peak_mb"] = {"value": wl.cache_peak_mb, "unit": "MB"}
    if wl.name == "rank_resume":
        edges = inputs["rows"]
        per_rep = [edges * outputs["supersteps"] / i.wall for i in op_times["pagerank"]]
        named["pagerank_edges_per_s"] = {**timing_summary(per_rep), "unit": "1/s"}
        named["checkpoint_mb"] = {"value": outputs["checkpoint_mb"], "unit": "MB"}
    return named


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import citation_graph_spark  # noqa: F401
        import tests.oracles  # noqa: F401
    except ImportError as exc:
        print(f"linkbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from spans import PER_LAYER, NullTracer, Tracer, instrument, layer_metrics
    from stats import median
    from workloads import WORKLOADS, OpFailed

    if args.workload not in WORKLOADS:
        print(f"linkbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # one directory per process, so runs in one checkout never share files
    work = os.path.join(ROOT, ".linkbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = session_config(work)
    spark, wl, inputs, setups, starts = set_up(
        WORKLOADS[args.workload], conf, work, args.seed
    )
    if wl.name != "crawl_ingest":
        inputs["rows"] = spark.read.parquet(inputs["graph"]).count()

    attempted = failed = 0
    op_times = {op: [] for op in wl.ops}  # an Interval per op and job
    outputs, res = None, None
    tracer = Tracer(spark) if args.trace else NullTracer()
    t_start = time.perf_counter()
    try:
        # one job at least; more while the measuring time has not run out
        while True:
            if res is not None:
                wl.reset()
            attempted += len(wl.ops)
            with instrument(tracer) if tracer.enabled else contextlib.nullcontext():
                times, res = wl.job(inputs, tracer)
            for op, t in times.items():
                op_times[op].append(t)
            if tracer.enabled or time.perf_counter() - t_start >= args.seconds:
                break
        outputs = wl.collect(inputs, res)
    except OpFailed as exc:
        traceback.print_exc()
        failed += 1
        attempted -= len(wl.ops) - 1 - wl.ops.index(str(exc))
    if outputs is not None:
        verdicts = wl.check(inputs, outputs)
        bad = [op for op, ok in verdicts.items() if not ok]
        if bad:
            print(f"linkbench: output check failed for {bad}", file=sys.stderr)
        failed += len(bad)

    report = {
        "workload": wl.name,
        "seed": args.seed,
        "session": conf,
        **timed("setup", setups),
        "failed_op_share": {"value": failed / attempted, "unit": "ratio"},
    }
    metrics = {}
    if args.trace == 0 and outputs is not None:
        report.update(timed("job", [Interval.total(ops) for ops in zip(*op_times.values())]))
        report.update(named_metrics(wl, op_times, outputs, inputs))
        metrics = {name: {"value": report[name]["median"], "unit": "s"}
                   for name in ("setup_s", "job_s")}
    elif args.trace == 1 and outputs is not None:
        values = layer_metrics(tracer, conf["cores"])
        values["session.start_s"] = median(starts)
        values["trace.job_s"] = sum(op_times[op][-1].wall for op in wl.ops)
        report["operations"] = operation_self_sums(tracer.spans)
        metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in PER_LAYER}
        report["layers"] = {k: v["value"] for k, v in metrics.items()}

    stop_jvm(spark)
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0 and outputs is not None,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def operation_self_sums(spans) -> dict:
    """Per operation: its traced wall and the sum of the layer self times
    under it. The rest of the wall is the benchmark's own driver code
    between layer calls (``glue_s``)."""
    from stats import self_times

    selfs = self_times([(s.start, s.end, s.parent) for s in spans])
    children: dict[int, list[int]] = {}
    for i, span in enumerate(spans):
        if span.parent is not None:
            children.setdefault(span.parent, []).append(i)
    out = {}
    for i, span in enumerate(spans):
        if span.name.startswith("op:"):
            layers, todo = 0.0, list(children.get(i, ()))
            while todo:
                j = todo.pop()
                layers += selfs[j]
                todo.extend(children.get(j, ()))
            out[span.name[3:]] = {
                "wall_s": span.end - span.start,
                "layer_self_sum_s": layers,
                "glue_s": selfs[i],
            }
    return out


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("unique_ratio", "precision"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
