"""Distributed PCA over embedding columns (beyond-reference).

Dimensionality reduction is the standard embedding-preprocessing step
ahead of ANN indexing and semantic dedup at scale: projecting 64-dim
vectors to the top-k principal components shrinks index storage and
distance-computation cost while keeping most variance. The reference
engine has no linear-algebra surface; this derives from the public
textbook formulation (eigendecomposition of the covariance matrix).

Scale shape — the same two-level moment pattern as the repo's other
sketches, never a driver-side data pass:

1. ONE ``mapInArrow`` stage emits per-(batch, label) moment partials:
   count, sum vector (d), and raw scatter ``VᵀV`` (d·d, flattened) —
   a few KiB per batch regardless of batch row count.
2. ``groupBy(label).applyInPandas`` combines partials per label (the
   only shuffle — #partials rows, label-keyed, tiny). Partials are
   summed in a canonical byte-sorted order so the combine is
   deterministic for a given partial set.
3. The driver collects ≤ #labels rows (loudly guarded) and runs
   ``numpy.linalg.eigh`` on each d×d covariance — O(d³) on ≤ a few
   labels, microseconds at d=64.

Covariance is the population form ``S/n − μμᵀ`` (divides by n, not
n−1) so the eigenvalue sum equals the per-dimension variance trace
that plain SQL can recompute — the oracle identity checked in
``embedding_label_stats`` (sum of eigenvalues = trace certifies the
distributed DIAGONAL; the off-diagonals and the eigvectors are
pytest-differentialed against a single-node numpy PCA).

Projection stays entirely JVM-side: components become array literals
and each output coordinate is one ``aggregate(zip_with(...))`` fold —
no Python in the per-row path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Guard: pca_fit collects one row per label; a high-cardinality label
# column would turn the driver combine into a data pass.
_MAX_LABELS = 10_000


@dataclass(frozen=True)
class PCAModel:
    n: int
    mean: np.ndarray  # (d,)
    eigvals: np.ndarray  # (d,) descending — ALL of them (trace = sum)
    components: np.ndarray  # (k, d) rows = top-k principal axes


def _partials_fn(vec_col: str, label_col: str | None):
    import pyarrow as pa

    out_schema = pa.schema(
        [
            pa.field("_lab", pa.int64()),
            pa.field("n", pa.int64()),
            pa.field("s", pa.list_(pa.float64())),
            pa.field("ss", pa.list_(pa.float64())),
        ]
    )

    def partials(batches):
        for batch in batches:
            pdf = batch.to_pandas()
            if pdf.empty:
                continue
            labs = (
                pdf[label_col].to_numpy()
                if label_col
                else np.zeros(len(pdf), dtype=np.int64)
            )
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            rows = {"_lab": [], "n": [], "s": [], "ss": []}
            for lab in np.unique(labs):
                v = vecs[labs == lab]
                rows["_lab"].append(int(lab))
                rows["n"].append(int(v.shape[0]))
                rows["s"].append(v.sum(axis=0))
                rows["ss"].append((v.T @ v).ravel())
            yield pa.RecordBatch.from_pandas(pd.DataFrame(rows), schema=out_schema)

    return partials


def _combine(pdf: pd.DataFrame) -> pd.DataFrame:
    # Canonical order: summing floats is order-sensitive in the last
    # ulps; byte-sorting the partials makes the combine a pure
    # function of the partial SET.
    pdf = pdf.assign(_key=[np.asarray(s, dtype=np.float64).tobytes() for s in pdf["s"]])
    pdf = pdf.sort_values(["n", "_key"], kind="mergesort")
    n = int(pdf["n"].sum())
    s = np.add.reduce([np.asarray(x, dtype=np.float64) for x in pdf["s"]])
    ss = np.add.reduce([np.asarray(x, dtype=np.float64) for x in pdf["ss"]])
    return pd.DataFrame(
        {"_lab": [int(pdf["_lab"].iloc[0])], "n": [n], "s": [s], "ss": [ss]}
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str | None = None,
    k: int = 8,
    dim: int | None = None,
) -> dict[int, PCAModel]:
    """Fit one PCA per label (or one global model when ``label_col``
    is None; its models key is 0). Eager: runs the two-stage moment
    job and returns driver-side models (≤ ``_MAX_LABELS`` rows).
    Rows failing ``valid_vec`` (NULL / ragged / non-finite / zero-norm
    — real-corpus garbage) are DROPPED with the same semantics as the
    ANN operators, so the numpy stages never see ragged input; an
    all-invalid corpus returns {} rather than crashing."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if label_col:
        lab_dt = df.schema[label_col].dataType.simpleString()
        if lab_dt not in ("tinyint", "smallint", "int", "bigint", "long"):
            # cast('long') on e.g. a string label silently NULLs every
            # row — the caller would get {} back, indistinguishable
            # from an all-invalid corpus (r11 ADVICE). Raise instead;
            # hash/dense-rank string labels to ints before fitting.
            raise ValueError(
                f"pca_fit: label column {label_col!r} must be an integral "
                f"type, got {lab_dt} — map string/other labels to ints "
                "first (e.g. F.hash / dense_rank)"
            )
    from .similarity import _dim_of, valid_vec

    dim = dim if dim is not None else _dim_of(df, vec_col)
    if dim == 0:
        return {}
    if label_col:
        n_labs = df.agg(F.approx_count_distinct(label_col).alias("n")).first()["n"]
        if n_labs > _MAX_LABELS:
            raise ValueError(
                f"~{n_labs} labels exceeds the {_MAX_LABELS} driver-model "
                "budget — PCA-per-label needs a label-bounded column"
            )
    cols = [F.col(vec_col).cast("array<double>").alias(vec_col)]
    if label_col:
        cols.append(F.col(label_col).cast("long").alias(label_col))
    src = df.select(*cols).where(
        valid_vec(F.col(vec_col), dim) & (
            F.col(label_col).isNotNull() if label_col else F.lit(True)
        )
    )
    part_schema = "_lab long, n long, s array<double>, ss array<double>"
    parts = src.mapInArrow(_partials_fn(vec_col, label_col), schema=part_schema)
    combined = parts.groupBy("_lab").applyInPandas(_combine, schema=part_schema)
    models: dict[int, PCAModel] = {}
    for row in combined.collect():
        n = int(row["n"])
        s = np.asarray(row["s"], dtype=np.float64)
        ss = np.asarray(row["ss"], dtype=np.float64)
        d = s.shape[0]
        mean = s / n
        cov = ss.reshape(d, d) / n - np.outer(mean, mean)
        # eigh is for symmetric matrices; enforce exact symmetry so
        # float asymmetry from the two outer-product paths can't leak.
        cov = (cov + cov.T) / 2.0
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1]
        w, v = w[order], v[:, order]
        comps = v[:, : min(k, d)].T.copy()
        # Sign convention: make each component's largest-|x| entry
        # positive, so the model is unique (eigenvectors are ±).
        for i in range(comps.shape[0]):
            j = int(np.argmax(np.abs(comps[i])))
            if comps[i, j] < 0:
                comps[i] = -comps[i]
        models[int(row["_lab"])] = PCAModel(n=n, mean=mean, eigvals=w, components=comps)
    return models


def _dot_literal(vec: Column, arr: np.ndarray) -> Column:
    lit = F.array(*[F.lit(float(x)) for x in arr])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append ``out_col``: the centered top-k projection, computed as
    k JVM-side ``aggregate(zip_with(...))`` folds against component
    literals — zero Python, zero shuffles, survives any scale the scan
    survives."""
    vec = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(
        vec,
        F.array(*[F.lit(float(m)) for m in model.mean]),
        lambda a, b: a - b,
    )
    coords = [_dot_literal(centered, c) for c in model.components]
    return df.withColumn(out_col, F.array(*coords))


def explained_variance_ratio(model: PCAModel) -> np.ndarray:
    """Per-component fraction of total variance (eigvals / trace)."""
    total = float(model.eigvals.sum())
    k = model.components.shape[0]
    return model.eigvals[:k] / total if total > 0 else np.zeros(k)


def truncation_quality(vec_col: str | Column, k: int) -> Column:
    """cos(v, zero-padded v[:k]) = ||v[:k]|| / ||v|| — the MATRYOSHKA
    truncation audit (Kusupati et al. 2022): how much of each vector's
    norm the first k dimensions carry, i.e. the cosine fidelity of the
    cheapest possible dimensionality reduction (keep a prefix, no
    transform). The per-label min/avg of this ratio is the bound a
    serving stack checks before truncating stored embeddings; PCA
    (above) is the transform to reach for when the prefix bound is
    poor. Pure JVM array folds — no shuffle, no Python. Zero-norm /
    NULL vectors yield NULL (try_divide — ANSI-safe), so they drop out
    of min/avg aggregates instead of erroring or poisoning them."""
    from .similarity import as_double, dot

    v = as_double(vec_col)
    p = F.slice(v, 1, k)
    return F.try_divide(F.sqrt(dot(p, p)), F.sqrt(dot(v, v)))
