"""The benchmark's workloads.

Each workload generates its inputs from the seed with the ``datagen``
generators and writes them to Parquet, so the library only reads generated
files. ``job`` runs the workload's operations once and times each; the
workload code opens a span around every public call it makes (a no-op when
tracing is off). ``collect`` pulls the outputs to the driver and ``check``
verifies them, both outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import Observation

import checks
from host import Interval
from tests.oracles import (
    connected_components_oracle,
    label_propagation_oracle,
    triangle_count_oracle,
)
from spans import MB, dir_bytes

SIZES = {
    "crawl_ingest": {"n_pages": 5000, "n_docs": 2000},
    "graph": {"n_vertices": 10_000, "n_edges": 100_000},
}
PAGERANK_TOL = 1e-6
LPA_MAX_ITER = 20
LEG1_CC_STEPS = 2


def cache_mb(spark) -> float:
    """Spark storage memory in use, from ``getRDDStorageInfo``."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / MB


class OpFailed(Exception):
    """An operation raised; the repetition stops."""


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cache_peak_mb = 0.0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def op(self, name, times, tr):
        """Time one operation (an ``Interval``); sample storage memory at
        its boundary."""
        try:
            with tr.layer(f"op:{name}"), Interval() as interval:
                yield
        except Exception as exc:
            raise OpFailed(name) from exc
        times[name] = interval
        self.cache_peak_mb = max(self.cache_peak_mb, cache_mb(self.spark))

    def generate(self, tag: str) -> dict:
        raise NotImplementedError

    def job(self, inputs: dict, tr) -> tuple[dict, dict]:
        raise NotImplementedError

    def collect(self, inputs: dict, result: dict) -> dict:
        raise NotImplementedError

    def check(self, inputs: dict, outputs: dict) -> dict[str, bool]:
        raise NotImplementedError

    def reset(self) -> None:
        """Drop every cached frame and persisted RDD (between jobs)."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)


class CrawlIngest(Workload):
    name = "crawl_ingest"
    ops = ("ingest", "triangles", "dedup")

    def generate(self, tag):
        from citation_graph_spark import datagen

        size = SIZES[self.name]
        pages, docs = self.path(tag, "pages"), self.path(tag, "docs")
        datagen.generate_pages(self.spark, size["n_pages"], seed=self.seed).write.mode(
            "overwrite"
        ).parquet(pages)
        datagen.generate_documents(self.spark, size["n_docs"], seed=self.seed).write.mode(
            "overwrite"
        ).parquet(docs)
        return {"pages": pages, "docs": docs, "edges": self.path(tag, "edges"), **size}

    def job(self, inputs, tr):
        from citation_graph_spark import edges as edges_mod, extract
        from citation_graph_spark.operators.triangles import triangle_count
        from citation_graph_spark.pipeline.dedup import minhash_lsh_pairs

        spark, times, res = self.spark, {}, {}
        observed = Observation("linkbench_extract") if tr.enabled else None
        with self.op("ingest", times, tr):
            # build_edges with default arguments, from its public parts, so
            # that extraction runs once: the extract layer is a noop write
            # of pages_to_raw_edges (its Python UDF time is invisible to the
            # JVM's operator accounting), kept in Spark's cache for the
            # edges layer
            with tr.layer("extract"):
                raw = extract.pages_to_raw_edges(
                    spark.read.parquet(inputs["pages"]), observation=observed
                ).persist()
                raw.write.format("noop").mode("overwrite").save()
            with tr.layer("edges"):
                edges_mod.encode_vertices_hash(edges_mod.dedup_edges(raw)).repartition(
                    "src"
                ).write.mode("overwrite").parquet(inputs["edges"])
        res["raw"] = raw
        with self.op("triangles", times, tr), tr.layer("triangles"):
            res["triangles"] = triangle_count(spark.read.parquet(inputs["edges"]))
        with self.op("dedup", times, tr), tr.layer("dedup"):
            pairs = minhash_lsh_pairs(spark.read.parquet(inputs["docs"]), n=3, threshold=0.2)
            res["pairs"] = {
                (r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()
            }
        if tr.enabled:
            self._counts(tr, inputs, res, observed)
        pairs.release_intermediates()
        return times, res

    def _counts(self, tr, inputs, res, observed):
        from citation_graph_spark.operators.triangles import oriented_edges

        spark = self.spark
        seen = observed.get
        raw_edges = res["raw"].count()
        tr.note("extract.pages", seen["pages_scanned"])
        tr.note("extract.malformed_pages", seen["malformed_pages"])
        tr.note("extract.raw_edges", raw_edges)
        edges = spark.read.parquet(inputs["edges"])
        tr.note("edges.unique_ratio", edges.count() / raw_edges if raw_edges else 0.0)
        tr.note("edges.write_mb", dir_bytes(inputs["edges"]) / MB)
        tr.note("triangles.oriented_edges", oriented_edges(edges).count())
        tr.note("triangles.count", res["triangles"])
        candidates = tr.stash.pop("candidates").count()
        tr.note("dedup.candidates", candidates)
        tr.note("dedup.pairs", len(res["pairs"]))
        tr.note("dedup.precision", len(res["pairs"]) / candidates if candidates else 0.0)

    def collect(self, inputs, result):
        raw = result.pop("raw")
        raw_digest = checks.digest(raw)
        raw.unpersist()
        edges = self.spark.read.parquet(inputs["edges"])
        return {
            **result,
            "raw_digest": raw_digest,
            "edge_digest": checks.digest(edges),
            "edge_pairs": checks.edge_pairs(edges),
        }

    def check(self, inputs, outputs):
        raw, unique = checks.expected_digests(self.spark, inputs["n_pages"], self.seed)
        return {
            # the raw extraction and the edge table it was built into
            "ingest": outputs["raw_digest"] == raw and outputs["edge_digest"] == unique,
            "triangles": outputs["triangles"] == triangle_count_oracle(outputs["edge_pairs"]),
            "dedup": checks.planted_duplicates_found(outputs["pairs"], inputs["n_docs"]),
        }


class RankResume(Workload):
    name = "rank_resume"
    ops = ("prepare", "pagerank", "lpa", "cc_resume")

    def generate(self, tag):
        from citation_graph_spark import datagen

        size = SIZES["graph"]
        graph = self.path(tag, "graph")
        datagen.zipf_edges(
            self.spark, size["n_vertices"], size["n_edges"], seed=self.seed
        ).write.mode("overwrite").parquet(graph)
        return {"graph": graph, "checkpoints": self.path(tag, "checkpoints"), **size}

    def graph(self, inputs):
        return self.spark.read.parquet(inputs["graph"])

    def prepared(self, inputs, tr, build: bool):
        """A PreparedGraph over the persisted graph; ``build`` builds every
        static now instead of on first use."""
        from citation_graph_spark.operators.prepared import PreparedGraph

        with tr.layer("prepared"):
            prepared = PreparedGraph(self.graph(inputs))
            if build:
                prepared.weighted_edges()
                prepared.dangling_flagged()
                prepared.symmetrized()
        return prepared

    def job(self, inputs, tr):
        from citation_graph_spark.operators.components import connected_components
        from citation_graph_spark.operators.label_propagation import label_propagation
        from citation_graph_spark.operators.pagerank import pagerank

        times, res = {}, {}
        with self.op("prepare", times, tr):
            prepared = res["prepared"] = self.prepared(inputs, tr, build=True)
        tr.note("prepared.cached_mb", cache_mb(self.spark))
        with self.op("pagerank", times, tr):
            with tr.layer("pagerank"):
                res["pagerank"] = pagerank(prepared=prepared, tol=PAGERANK_TOL)
        with self.op("lpa", times, tr):
            with tr.layer("label_propagation"):
                res["lpa"] = label_propagation(prepared=prepared, max_iter=LPA_MAX_ITER)
        ck = inputs["checkpoints"]
        shutil.rmtree(ck, ignore_errors=True)
        with self.op("cc_resume", times, tr):
            # leg 1: a job stopped after a few durable supersteps
            with tr.layer("components"):
                res["cc_leg1"] = connected_components(
                    prepared=prepared, max_iter=LEG1_CC_STEPS, checkpoint_dir=ck,
                    durable_every=1,
                )
            # leg 2: what a restarted job pays — fresh statics, built on
            # first use, then resume from the latest manifest
            fresh = self.prepared(inputs, tr, build=False)
            with tr.layer("components"):
                res["cc"] = connected_components(
                    prepared=fresh, checkpoint_dir=ck, durable_every=1
                )
        res["checkpoint_mb"] = dir_bytes(ck) / MB
        tr.note("pagerank.iters", res["pagerank"].iterations)
        tr.note("lpa.iters", res["lpa"].iterations)
        tr.note("cc.iters", res["cc"].iterations)
        return times, res

    def collect(self, inputs, result):
        leg1, leg2 = result["cc_leg1"], result["cc"]
        prepared = result["prepared"]
        return {
            "weighted_edges": prepared.weighted_edges().toPandas(),
            "dangling_flagged": prepared.dangling_flagged().toPandas(),
            "supersteps": result["pagerank"].iterations,
            "checkpoint_mb": result["checkpoint_mb"],
            "ranks": result["pagerank"].ranks.toPandas(),
            "lpa": result["lpa"].labels.toPandas(),
            "cc": leg2.labels.toPandas(),
            # the first superstep leg 2 ran: right after leg 1's last one
            # when it resumed (none when leg 1 had already converged)
            "cc_resumed": (
                leg2.history[0]["iteration"] == leg1.iterations + 1
                if leg2.history
                else leg1.converged and leg2.iterations == leg1.iterations
            ),
        }

    def check(self, inputs, outputs):
        pairs = checks.edge_pairs(self.graph(inputs))
        ranks, _ = checks.pagerank_numpy(pairs, tol=PAGERANK_TOL)
        lpa_labels, _ = label_propagation_oracle(pairs, LPA_MAX_ITER)
        return {
            "prepare": checks.statics_match(
                outputs["weighted_edges"], outputs["dangling_flagged"], pairs
            ),
            "pagerank": checks.ranks_match(outputs["ranks"], ranks, atol=1e-6),
            "lpa": checks.labels_match(outputs["lpa"], lpa_labels),
            # leg 2 resumed, and its labels equal the uninterrupted run's:
            # the exact minimum-id labels
            "cc_resume": outputs["cc_resumed"]
            and checks.labels_match(outputs["cc"], connected_components_oracle(pairs)),
        }


WORKLOADS = {w.name: w for w in (CrawlIngest, RankResume)}
