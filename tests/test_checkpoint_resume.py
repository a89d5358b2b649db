"""Kill/resume semantics (SURVEY.md §5.4): a run killed after iteration k,
resumed from checkpoint, must equal the uninterrupted run exactly."""

import math
import os
import shutil
from functools import partial

import pytest

from citation_graph_spark import datagen
from citation_graph_spark.operators.bfs import bfs_expand
from citation_graph_spark.operators.components import connected_components
from citation_graph_spark.operators.hits import hits
from citation_graph_spark.operators.label_propagation import label_propagation
from citation_graph_spark.operators.pagerank import pagerank, personalized_pagerank
from citation_graph_spark.sources.checkpoint import CheckpointManager
from tests.oracles import connected_components_oracle


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_pagerank_kill_resume_exact(spark, tmp_path):
    edges = datagen.zipf_edges(spark, 150, 900, seed=17).cache()
    ck = str(tmp_path / "ck")

    full = pagerank(edges, tol=1e-7, checkpoint_dir=ck, durable_every=2)
    baseline = _ranks(full)
    assert full.converged

    # simulate a kill after iteration 4: drop all later durable state
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 4:
            shutil.rmtree(os.path.join(ck, name))
    resumed = pagerank(edges, tol=1e-7, checkpoint_dir=ck, durable_every=2)
    got = _ranks(resumed)
    assert set(got) == set(baseline)
    for v in baseline:
        assert math.isclose(got[v], baseline[v], abs_tol=1e-12), v


def test_pagerank_resume_converged_is_instant(spark, tmp_path):
    edges = datagen.cycle_edges(spark, 12)
    ck = str(tmp_path / "ck2")
    first = pagerank(edges, tol=1e-8, checkpoint_dir=ck)
    again = pagerank(edges, tol=1e-8, checkpoint_dir=ck)
    assert again.converged
    assert again.history == []  # no supersteps re-run
    assert _ranks(again) == _ranks(first)


def test_bfs_resume_continues_deeper(spark, tmp_path):
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(10)] + [(0, 5, 2)], "src long, dst long, pos int"
    )
    ck = str(tmp_path / "ck_bfs")
    first = bfs_expand(edges, root=0, max_depth=2, checkpoint_dir=ck, durable_every=1)
    assert first.depth_reached == 2

    direct = bfs_expand(edges, root=0, max_depth=5)
    resumed = bfs_expand(edges, root=0, max_depth=5, checkpoint_dir=ck, durable_every=1)
    as_set = lambda r: {(x["id"], x["depth"], x["parent"]) for x in r.visited.collect()}  # noqa: E731
    assert as_set(resumed) == as_set(direct)
    assert resumed.depth_reached == direct.depth_reached
    # only the continuation levels (3..5) ran as supersteps
    assert len(resumed.history) <= 3

    # re-running at the reached depth returns the stored state without a loop
    again = bfs_expand(edges, root=0, max_depth=5, checkpoint_dir=ck, durable_every=1)
    assert as_set(again) == as_set(direct)
    assert again.history == []


def test_two_star_matches_hash_min(spark):
    edges = datagen.zipf_edges(spark, 250, 400, seed=29).cache()
    elist = [(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()]
    exp = connected_components_oracle(elist)
    hm = connected_components(edges, algorithm="hash_min")
    ts = connected_components(edges, algorithm="two_star")
    got_hm = {r["id"]: r["label"] for r in hm.labels.collect()}
    got_ts = {r["id"]: r["label"] for r in ts.labels.collect()}
    assert got_hm == exp
    assert got_ts == exp


def test_two_star_long_diameter_fewer_rounds(spark):
    # 60-cycle: diameter 30 → hash-min needs ~30 supersteps; two-star O(log n)
    edges = datagen.cycle_edges(spark, 60)
    ts = connected_components(edges, algorithm="two_star", max_iter=15)
    assert ts.converged
    labels = {r["id"]: r["label"] for r in ts.labels.collect()}
    assert set(labels.values()) == {0}
    assert ts.iterations <= 10


def test_two_star_kill_resume_exact(spark, tmp_path):
    """Two-star is the long-diameter O(log n) path — the variant an
    hour-long 100x run uses, so it needs the same kill/resume story as
    hash-min: a run killed after round k and resumed must be byte-identical
    to the uninterrupted run (star rounds are deterministic set
    transforms)."""
    edges = datagen.zipf_edges(spark, 250, 400, seed=31).cache()
    ck = str(tmp_path / "ck_ts")

    full = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert full.converged
    baseline = {r["id"]: r["label"] for r in full.labels.collect()}

    # simulate a kill after round 2: drop all later durable state
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(ck, name))
    resumed = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == baseline
    # the resumed run re-entered mid-iteration, not from round 1
    assert resumed.history and resumed.history[0]["iteration"] == 3


def test_two_star_resume_without_checksum_metric(spark, tmp_path):
    """Resume from a manifest that predates the checksum metric (ADVICE
    r04): the run must recompute the fixpoint baseline from the loaded
    state WITHOUT durably recording it as iteration 0 — that record would
    prune every iteration > 0, deleting the very checkpoint being resumed
    and mislabeling the timeline."""
    import json

    edges = datagen.zipf_edges(spark, 250, 400, seed=31).cache()
    ck = str(tmp_path / "ck_ts_nochk")
    full = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    baseline = {r["id"]: r["label"] for r in full.labels.collect()}

    # kill after round 2, then strip the checksum/pointer metrics from the
    # surviving manifest (an old-format checkpoint)
    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(ck, name))
    mpath = os.path.join(ck, "iter=2", "_manifest.json")
    with open(mpath, encoding="utf-8") as fh:
        manifest = json.load(fh)
    manifest["metrics"].pop("checksum", None)
    manifest["metrics"].pop("pointers", None)
    with open(mpath, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)

    resumed = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == baseline
    # re-entered at round 3 — never re-recorded the loaded state as iter 0
    assert resumed.history and resumed.history[0]["iteration"] == 3
    mgr = CheckpointManager(spark, ck)
    assert 2 in mgr.iterations()  # the loaded checkpoint survived the resume


def test_two_star_resume_converged_is_instant(spark, tmp_path):
    edges = datagen.cycle_edges(spark, 40)
    ck = str(tmp_path / "ck_ts2")
    first = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert first.converged
    again = connected_components(
        edges, algorithm="two_star", checkpoint_dir=ck, durable_every=1
    )
    assert again.converged
    assert again.history == []  # no star rounds re-run
    assert {r["id"]: r["label"] for r in again.labels.collect()} == {
        r["id"]: r["label"] for r in first.labels.collect()
    }


# --- one resume protocol for every checkpointing operator -------------------


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint")


def _labels(res):
    return {r["id"]: r["label"] for r in res.labels.collect()}


# Each runner returns (result, final iteration) for a run checkpointed at ck
# (ck=None: no checkpoint, the fresh ground truth).
def _run_pagerank(e, ck, alpha=0.5):
    r = pagerank(e, alpha=alpha, checkpoint_dir=ck, durable_every=2)
    return _ranks(r), r.iterations


def _run_ppr(e, ck, sources=(1, 3)):
    srcs = _ids(e.sparkSession, sources)
    r = personalized_pagerank(e, sources=srcs, checkpoint_dir=ck, durable_every=2)
    return _ranks(r), r.iterations


def _run_hits(e, ck):
    r = hits(e, tol=1e-6, checkpoint_dir=ck, durable_every=2)
    return {x["id"]: (x["auth"], x["hub"]) for x in r.scores.collect()}, r.iterations


def _run_lpa(e, ck):
    r = label_propagation(e, checkpoint_dir=ck, durable_every=1)
    return _labels(r), r.iterations


def _run_cc(e, ck, algorithm="hash_min"):
    r = connected_components(e, algorithm=algorithm, checkpoint_dir=ck, durable_every=1)
    return _labels(r), r.iterations


def _run_bfs(e, ck, root=2, exclude=None):
    excl = None if exclude is None else _ids(e.sparkSession, exclude)
    r = bfs_expand(
        e, root=root, max_depth=3, exclude=excl, checkpoint_dir=ck, durable_every=1
    )
    return {x["id"]: (x["depth"], x["parent"]) for x in r.visited.collect()}, r.depth_reached


# case -> (writer of a checkpoint under other args, runner under test).
# HITS, LPA and CC record no args besides the algorithm name and
# continuation knobs, so another algorithm's checkpoint is their mismatch.
_MISMATCHED = {
    "pagerank": (partial(_run_pagerank, alpha=0.85), _run_pagerank),
    "ppr": (partial(_run_ppr, sources=(0, 2)), _run_ppr),
    "hits": (_run_pagerank, _run_hits),
    "lpa": (_run_cc, _run_lpa),
    "cc_hash_min": (_run_lpa, _run_cc),
    "cc_two_star": (_run_cc, partial(_run_cc, algorithm="two_star")),
    "bfs_root": (partial(_run_bfs, root=0), _run_bfs),
    "bfs_exclude": (
        partial(_run_bfs, root=0, exclude=(3,)),
        partial(_run_bfs, root=0, exclude=(4,)),
    ),
}


@pytest.fixture(scope="module")
def small_graph(spark):
    edges = datagen.zipf_edges(spark, 120, 700, seed=23).cache()
    yield edges
    edges.unpersist()


@pytest.mark.parametrize("case", list(_MISMATCHED))
def test_resume_rejects_mismatched_args(spark, small_graph, tmp_path, case):
    """A checkpoint written under other args (or by another algorithm) must
    not blend into a new run: warn, start fresh, give the fresh result, and
    prune the dead timeline above the new run's final state."""
    write_other, run = _MISMATCHED[case]
    ck = str(tmp_path / "ck")
    expected, _ = run(small_graph, None)
    write_other(small_graph, ck)
    with pytest.warns(RuntimeWarning, match="different .*args"):
        got, final_iteration = run(small_graph, ck)
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12), k
    assert max(CheckpointManager(spark, ck).iterations()) <= final_iteration


@pytest.mark.parametrize(
    "run", [connected_components, label_propagation], ids=["cc_hash_min", "lpa"]
)
def test_resume_with_no_step_left_keeps_manifest(spark, tmp_path, run):
    """A run stopped by max_iter, resumed with the same max_iter, has no
    superstep left: it returns the recorded state and leaves the manifest
    (and its recorded metrics) as written."""
    edges = datagen.cycle_edges(spark, 40)
    ck = str(tmp_path / "ck_stop")
    first = run(edges, max_iter=2, checkpoint_dir=ck, durable_every=1)
    assert not first.converged
    mgr = CheckpointManager(spark, ck)
    before = mgr.peek_latest_manifest()
    again = run(edges, max_iter=2, checkpoint_dir=ck, durable_every=1)
    assert again.history == []
    assert again.iterations == first.iterations == 2
    assert not again.converged
    after = mgr.peek_latest_manifest()
    assert after["metrics"] == before["metrics"]
    assert after["time"] == before["time"]  # not rewritten
    assert _labels(again) == _labels(first)
