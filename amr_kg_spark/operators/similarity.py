"""Single-query similarity search over embedding columns (array<float>),
behind the ``dp_cosine_topk``, ``dp_ann_topk`` and ``dp_ivf_topk`` registry
rows.

- ``cosine_topk``: brute-force exact top-k against a query vector —
  a single scan with a Catalyst-only cosine expression; the correctness
  baseline and perfectly scan-parallel (no shuffle except the final top-k).
- ``rhp_ann_topk``: random-hyperplane-LSH bucketed ANN — signs against R
  random hyperplanes give a b-bit signature; candidates share the
  signature bucket (multi-probe via hamming-1 neighbors optional), then
  exact rerank within candidates. The 100 TB path: the bucket join is a
  hash join on the signature, never |corpus| x |queries|.
- ``ivf_topk_pretrained``: inverted-file ANN — a fixed coarse quantizer
  (pretrained centroids, e.g. ``fit_ivf``'s KMeans ``clusterCenters()``)
  assigns every vector a cluster id; a query scans only the ``n_probe``
  clusters whose centroids are nearest. ``dp_ivf_topk`` uses the first
  data vectors as centroids so the DuckDB oracle can derive them too.
- ``fit_ivf``: the KMeans coarse quantizer;
  ``featurize.cluster_balanced_sample`` buckets documents with it.

Hyperplanes are generated from a seeded RNG on the driver and shipped as
literals (they are tiny: R x dim floats).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(x: F.Column, y: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(x: F.Column) -> F.Column:
    return F.sqrt(_dot(x, x))


def _cosine(x: F.Column, y: F.Column) -> F.Column:
    return _dot(x, y) / (_norm(x) * _norm(y))


def _l2sq(x: F.Column, c: list[float]) -> F.Column:
    """Squared L2 distance from array column ``x`` to literal vector ``c``."""
    carr = F.array(*[F.lit(float(v)) for v in c])
    return F.aggregate(
        F.zip_with(
            x, carr, lambda p, q: (p.cast("double") - q) * (p.cast("double") - q)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _rerank_topk(cands: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """Exact cosine top-k of ``cands`` against one literal query vector.
    Sorts on the UNROUNDED cosine (tie-break vec_id), rounding only for
    display — the oracle SQL orders by the unrounded expression, so rounding
    before the sort could flip the k-boundary on 6dp ties."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        cands.select(
            F.col("vec_id"),
            _cosine(F.col("embedding"), q).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("_cos", 6).alias("cosine"))
    )


def _nearest_centroids(
    query_vec: list[float], centroids: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    """Ids of the ``n_probe`` centroids nearest the query (driver side,
    squared L2; ties break on the smaller id)."""
    q = np.asarray(query_vec, dtype=float)
    scored = sorted(
        (float(np.sum((q - np.asarray(c, dtype=float)) ** 2)), int(cid))
        for cid, c in centroids
    )
    return [cid for _, cid in scored[:n_probe]]


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity; deterministic tie-break on id."""
    from ..session import fan_out

    return _rerank_topk(fan_out(emb), query_vec, k)


def rhp_signature(vec_col: str, hyperplanes: np.ndarray) -> F.Column:
    """b-bit random-hyperplane signature as a long (b <= 62)."""
    sig = F.lit(0).cast("long")
    for i, h in enumerate(hyperplanes):
        plane = F.array(*[F.lit(float(v)) for v in h])
        bit = F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + F.shiftleft(bit.cast("long"), i)
    return sig


def make_hyperplanes(dim: int, bits: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def fit_ivf(
    emb: DataFrame,
    n_clusters: int = 16,
):
    """Fit the IVF coarse quantizer (KMeans) and return (model, assigned)
    where ``assigned`` is the corpus with a ``cluster`` column. At 100 TB,
    assign the full corpus and write the table partitioned by ``cluster``
    so probes prune partitions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..session import fan_out

    emb = fan_out(emb)
    feats = emb.withColumn("__features", array_to_vector(F.col("embedding")))
    model = KMeans(
        k=n_clusters, seed=42, featuresCol="__features", predictionCol="cluster"
    ).fit(feats)
    assigned = model.transform(feats).drop("__features")
    return model, assigned


def assign_fixed_centroids(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Assign every vector to its nearest fixed centroid — pure Catalyst
    (argmin over literal centroid arrays via array_min on (dist, cid)
    structs; struct ordering compares fields left-to-right so ties break on
    the smaller cid). This is the production IVF pattern: the quantizer is
    pretrained, assignment happens at ingest, and the cluster id becomes
    the table's partition key."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _l2sq(F.col("embedding"), c).alias("d"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, c in centroids
            ]
        )
    )
    return emb.withColumn("cluster", best["cid"])


def ivf_topk_pretrained(
    emb: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with a FIXED (pretrained) coarse quantizer: Catalyst
    assignment (:func:`assign_fixed_centroids`), driver-side probe
    selection over the tiny centroid list, exact cosine rerank inside the
    probed clusters. Every step is deterministic and replicable in ANSI
    SQL, so the driver oracle can value-check the bucketing, probing and
    rerank."""
    from ..session import fan_out

    emb = fan_out(emb)
    probes = _nearest_centroids(query_vec, centroids, n_probe)
    assigned = assign_fixed_centroids(emb, centroids)
    cands = assigned.filter(F.col("cluster").isin(probes))
    return _rerank_topk(cands, query_vec, k)


def rhp_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 10,
) -> DataFrame:
    """ANN top-k: candidates = vectors whose RHP signature is within
    hamming distance 1 of the query's, then exact cosine rerank.

    On a cluster the signature column is precomputed/persisted with the
    corpus so queries touch only matching buckets (partition pruning by
    signature).
    """
    from ..session import fan_out

    emb = fan_out(emb)
    dim = len(query_vec)
    planes = make_hyperplanes(dim, bits)
    qv = np.asarray(query_vec, dtype=float)
    qsig = 0
    for i, h in enumerate(planes):
        if float(np.dot(qv, h)) >= 0:
            qsig |= 1 << i
    probe_sigs = [qsig] + [qsig ^ (1 << i) for i in range(bits)]

    sigged = emb.withColumn("sig", rhp_signature("embedding", planes))
    cands = sigged.filter(F.col("sig").isin(probe_sigs))
    return _rerank_topk(cands, query_vec, k)
