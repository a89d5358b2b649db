"""Output checks, run outside the timed region.

Independent of the library's operators: numpy for PageRank and
``datagen.expected_edges`` for extraction. (Components, label propagation
and triangles are checked against ``tests/oracles.py``, which the workloads
call directly.) Each check returns True when the output is correct.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import functions as F


def edge_pairs(df) -> list[tuple[int, int]]:
    pdf = df.select("src", "dst").toPandas()
    return list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))


def pagerank_numpy(pairs, alpha=0.85, tol=1e-6, max_iter=100):
    """Power iteration with the engine's rule: uniform teleport, dangling
    mass spread uniformly, stop when the L1 delta drops below ``tol``.
    Returns ({id: rank}, iterations)."""
    src = np.array([s for s, _ in pairs], dtype=np.int64)
    dst = np.array([d for _, d in pairs], dtype=np.int64)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    n = len(ids)
    out_deg = np.bincount(s_idx, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    w = 1.0 / out_deg[s_idx]
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        dm = r[dangling].sum()
        contrib = np.bincount(d_idx, weights=r[s_idx] * w, minlength=n)
        new = (1.0 - alpha) / n + alpha * (contrib + dm / n)
        delta = np.abs(new - r).sum()
        r = new
        if delta < tol:
            break
    return dict(zip(ids.tolist(), r.tolist())), it


def statics_match(weighted_pdf, flagged_pdf, pairs) -> bool:
    """PreparedGraph statics: every edge once, weighted 1 / out-degree of
    its src, and a vertex is dangling exactly when it has no out-edge."""
    out_deg = Counter(s for s, _ in pairs)
    got = sorted(zip(weighted_pdf["src"].tolist(), weighted_pdf["dst"].tolist()))
    if got != sorted(pairs):
        return False
    want_w = [1.0 / out_deg[s] for s in weighted_pdf["src"].tolist()]
    if not np.allclose(weighted_pdf["w"].to_numpy(), want_w, rtol=1e-12, atol=0.0):
        return False
    vertices = {v for pair in pairs for v in pair}
    flags = dict(zip(flagged_pdf["id"].tolist(), flagged_pdf["is_dangling"].tolist()))
    return flags == {v: out_deg[v] == 0 for v in vertices}


def ranks_match(ranks_pdf, expected: dict, atol: float, rtol: float = 0.0) -> bool:
    got = dict(zip(ranks_pdf["id"].tolist(), ranks_pdf["rank"].tolist()))
    if got.keys() != expected.keys():
        return False
    keys = list(expected)
    return bool(
        np.allclose([got[k] for k in keys], [expected[k] for k in keys], atol=atol, rtol=rtol)
    )


def labels_match(labels_pdf, expected: dict) -> bool:
    got = dict(zip(labels_pdf["id"].tolist(), labels_pdf["label"].tolist()))
    return got == expected


def digest_columns():
    """Aggregates giving an (src, dst, pos) table's row count and an
    order-independent checksum."""
    return (
        F.count("*").alias("n"),
        F.sum(F.xxhash64("src", "dst", "pos").cast("decimal(38,0)")).alias("sum"),
    )


def digest(df) -> tuple:
    row = df.agg(*digest_columns()).first()
    return row["n"], row["sum"]


def expected_digests(spark, n_pages: int, seed: int) -> tuple[tuple, tuple]:
    """Digests of ``expected_edges``: the raw extraction (duplicates kept,
    url endpoints) and the engine's edge table (first occurrence per
    (src, dst), xxhash64 ids)."""
    from citation_graph_spark.datagen import expected_edges

    raw = spark.createDataFrame(
        expected_edges(n_pages, seed), "src string, dst string, pos int"
    )
    unique = raw.groupBy("src", "dst").agg(F.min("pos").alias("pos")).select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst"), "pos"
    )
    return digest(raw), digest(unique)


def planted_duplicates_found(
    pairs: set, n_docs: int, exact_dup_every: int = 50, near_dup_every: int = 20
) -> bool:
    """Every exact duplicate ``generate_documents`` plants is among the
    found pairs. Doc i (i % exact_dup_every == 2) repeats doc i-1's token
    stream; that is doc i-1's text unless doc i-1 is itself a near
    duplicate (i-1 % near_dup_every == 1), whose text is mutated."""
    planted = {
        (i - 1, i)
        for i in range(2, n_docs)
        if i % exact_dup_every == 2 and (i - 1) % near_dup_every != 1
    }
    return planted <= pairs
