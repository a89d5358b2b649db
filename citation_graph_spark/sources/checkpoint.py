"""Checkpointed, resumable iteration state.

The reference snapshots its entire cache to a JSON file after every uncached
request, with an appended run-meta header (creator, file-spec-version,
program version, wall time, args — ``src/citation_graph/cache_manager.py:
185-197,221-237``), and on restart validates + migrates + re-hydrates it
(``cache_manager.py:239-329``, ``database.py:30-63``).

The Spark analog: per-iteration Parquet state under ``<dir>/iter=<k>/`` plus
a JSON manifest carrying the same lineage fields — spec version, engine
version, args, iteration, convergence metrics, and *per-file lineage*
(row count per parquet file — stable across re-reads, unlike partition
ids) so a resumed run can verify the state it loads. Old manifest specs
are migrated on load, mirroring the reference's v2→v3 cache shim
(``cache_manager.py:37-69``). Writing Parquet (not ``df.checkpoint()``)
both truncates the logical plan — iterative joins otherwise re-plan k
joins at iteration k — and makes every iteration durable and resumable
mid-run (north_rule).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

SPEC_VERSION = 2
# Underscore prefix: Spark's file index skips it when scanning the parquet dir.
_MANIFEST = "_manifest.json"


def _migrate_1_to_2(manifest: dict[str, Any]) -> dict[str, Any]:
    """Spec 1 recorded per-*partition* row counts keyed by
    ``spark_partition_id`` — not stable across re-reads of the same parquet
    dir, so useless as validation. Spec 2 keys lineage by file name. A v1
    manifest can't be upgraded to real per-file lineage after the fact:
    mark the lineage unknown (total row count still validates)."""
    out = dict(manifest)
    out.pop("partitions", None)
    out["files"] = None
    out["file-spec-version"] = 2
    return out


# The reference migrates old cache specs on load rather than stranding them
# (cache_manager.py:37-69, applied at 239-329). Same contract here: each
# entry upgrades one spec step; load() chains them to SPEC_VERSION.
MIGRATIONS = {1: _migrate_1_to_2}


def resume_compatible(
    manifest_args: dict[str, Any] | None,
    current_args: dict[str, Any] | None,
    ignore: tuple[str, ...] = ("max_iter", "tol"),
) -> bool:
    """True iff a recorded run's args match the current call's, excluding
    continuation knobs (more/fewer iterations or a different tolerance are
    legitimate reasons to resume; a different alpha/salt/root is not).

    The reference validates its cache on load (``cache_manager.py:239-329``)
    — the analog here: a checkpoint written under different hyperparameters
    must never silently blend into a new run."""
    drop = set(ignore)
    a = {k: v for k, v in (manifest_args or {}).items() if k not in drop}
    b = {k: v for k, v in (current_args or {}).items() if k not in drop}
    return a == b


def hash_sum(*cols: str | Column) -> Column:
    """Order-independent checksum aggregate: the sum of the rows' xxhash64.
    Decimal, because a long sum overflows under ANSI mode; 0 (not NULL)
    over no rows, so it stays valid manifest JSON."""
    return F.coalesce(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    )


def id_fingerprint(ids: DataFrame) -> str:
    """Fingerprint of the set of ``id`` values in ``ids`` (duplicates and
    order do not matter) — recorded in manifest args, so resuming with a
    different id set (PPR sources, a BFS exclude list) starts fresh."""
    return str(
        ids.select(F.col("id").cast("string").alias("id"))
        .distinct()
        .agg(hash_sum("id"))
        .first()[0]
    )


@dataclass
class CheckpointManager:
    """Directory-backed state store for one iterative run."""

    spark: SparkSession
    path: str
    args: dict[str, Any] = field(default_factory=dict)
    creator: str = "citation_graph_spark"

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.path, f"iter={iteration}")

    def save(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Write state + manifest for ``iteration``; return the re-read frame
        (fresh lineage rooted at the Parquet scan)."""
        from citation_graph_spark import __version__

        target = self._iter_dir(iteration)
        # Write-to-temp + rename: ``state`` may itself be reading from
        # ``target`` (e.g. a resumed run re-saving the iteration it loaded) —
        # a direct overwrite would delete its own input files mid-write.
        # Kill-safety: a dir without a manifest is skipped by ``latest()``,
        # so any interruption in this sequence leaves a resumable store.
        tmp = target + ".tmp"
        if os.path.isdir(tmp):
            import shutil

            shutil.rmtree(tmp)
        state.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(target):
            import shutil

            shutil.rmtree(target)
        os.rename(tmp, target)
        reloaded = self.spark.read.parquet(target)
        lineage = sorted(
            (
                {"file": os.path.basename(r["f"]), "rows": int(r["rows"])}
                for r in (
                    reloaded.groupBy(F.input_file_name().alias("f"))
                    .agg(F.count("*").alias("rows"))
                    .collect()
                )
            ),
            key=lambda p: p["file"],
        )
        manifest = {
            "creator": self.creator,
            "file-spec-version": SPEC_VERSION,
            "version": __version__,
            "time": time.time(),
            "args": self.args,
            "iteration": iteration,
            "metrics": metrics or {},
            "files": lineage,
            "rows": sum(p["rows"] for p in lineage),
            "schema": reloaded.schema.jsonValue(),
        }
        with open(os.path.join(target, _MANIFEST), "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        # Iterations above this one belong to a superseded timeline (a fresh
        # restart after an args mismatch, or a shorter re-run): once
        # iteration k is durably written, anything newer is stale — prune it
        # so a later resume can never pick a dead timeline's state.
        import shutil

        for it in self.iterations():
            if it > iteration:
                shutil.rmtree(self._iter_dir(it), ignore_errors=True)
        return reloaded

    def iterations(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            if name.startswith("iter=") and os.path.isfile(
                os.path.join(self.path, name, _MANIFEST)
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def load(self, iteration: int) -> tuple[DataFrame, dict[str, Any]]:
        """Load + validate one iteration's state (the reference's
        validate-on-load, ``database.py:30-63``).

        Older manifest specs are migrated in place via ``MIGRATIONS`` (and
        the upgraded manifest is written back). Raises on an unknown/newer
        spec, or on per-file row-count drift vs the recorded lineage (one
        grouped count over ``input_file_name`` — stable across reads; a v1
        manifest has unknown file lineage, so only the total is checked)."""
        target = self._iter_dir(iteration)
        with open(os.path.join(target, _MANIFEST), encoding="utf-8") as fh:
            manifest = json.load(fh)
        spec = manifest.get("file-spec-version")
        migrated = False
        while spec in MIGRATIONS and spec < SPEC_VERSION:
            manifest = MIGRATIONS[spec](manifest)
            spec = manifest["file-spec-version"]
            migrated = True
        if spec != SPEC_VERSION:
            raise ValueError(
                f"checkpoint spec {spec} not readable by engine spec {SPEC_VERSION}"
            )
        df = self.spark.read.parquet(target)
        actual = {
            os.path.basename(r["f"]): int(r["rows"])
            for r in df.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        if manifest.get("files") is not None:
            expected = {p["file"]: p["rows"] for p in manifest["files"]}
            if actual != expected:
                raise ValueError(
                    f"checkpoint corrupt: per-file rows {actual} != manifest {expected}"
                )
        rows = sum(actual.values())
        if rows != manifest["rows"]:
            raise ValueError(
                f"checkpoint corrupt: {rows} rows on disk, manifest says {manifest['rows']}"
            )
        if migrated:
            with open(os.path.join(target, _MANIFEST), "w", encoding="utf-8") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
        return df, manifest

    def peek_latest_manifest(self) -> dict[str, Any] | None:
        """Newest readable manifest WITHOUT loading or validating the state
        parquet — for callers that only need the recorded args/metrics
        (e.g. adopting a checkpointed run's resolved salt factor before
        deciding whether to measure a fresh one)."""
        for iteration in reversed(self.iterations()):
            try:
                with open(
                    os.path.join(self._iter_dir(iteration), _MANIFEST),
                    encoding="utf-8",
                ) as fh:
                    return json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
        return None

    def latest(self) -> tuple[int, DataFrame, dict[str, Any]] | None:
        """Newest valid iteration, or None — resume entry point. Falls back
        to earlier iterations if the newest fails validation (a kill mid-write
        leaves no manifest, so partially written iterations are skipped)."""
        for iteration in reversed(self.iterations()):
            try:
                df, manifest = self.load(iteration)
                return iteration, df, manifest
            except (ValueError, OSError):
                continue
        return None
