"""Vector compression codecs: SQ8 (scalar) and PQ (product quantization).

Reference counterparts: FAISS "SQ8" and "PQ{m}" index factories
(configs/benchmark_config.yaml:36-72, built via modular.py:277-286).
Re-designed for Spark:

- **SQ8**: per-dimension [min,max] calibration → uint8 codes
  (code = round((x−vmin)/scale), scale = (vmax−vmin)/255; decode
  x̂ = vmin + code·scale).  Calibration is a per-partition NumPy
  min/max partial reduce (one pass, no shuffle of vector data);
  codes live in the index table at 1/4 the float32 footprint.
- **PQ**: dims split into ``m`` subspaces, each with a ``ksub``-entry
  codebook learned by seeded Lloyd k-means on a driver-side sample
  (the same train-on-sample regime FAISS uses); codes are m bytes per
  vector.  Search uses ADC (asymmetric distance computation): per query
  a (m × ksub) lookup table of partial squared-L2 distances is
  broadcast, and candidate distance = sum of LUT entries — a gather +
  sum per Arrow batch, never reconstructing the vectors.

Both codecs expose fit / encode / decode so IVF composes with them
(IVF-SQ8, IVF-PQ) and standalone exhaustive scans (SQ8/PQ flat) reuse
the same code; ``encode_df(codec, df)`` is the one Spark encode pass
for every codec.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_retrieval_spark.functions.distance import normalize_rows


def _stack(col: pd.Series) -> np.ndarray:
    return np.vstack(col.to_numpy())


class SQ8Codec:
    """Per-dimension 8-bit scalar quantizer."""

    # fit() is an exact full-pass min/max — the result is independent of
    # the input plan's row order or partitioning, so IVF builds may run
    # it on the raw base table instead of the assigned table (guide
    # §1.2: the calibration pass then skips the nearest-centroid GEMM
    # the assignment lineage would re-execute).  Sample-based codecs
    # (PQ: fit = limit(train_sample)) must NOT set this: a different
    # input plan could surface different sample rows.
    fit_plan_invariant = True

    def __init__(self):
        self.vmin: np.ndarray | None = None
        self.vmax: np.ndarray | None = None
        self.scale: np.ndarray | None = None

    def is_fitted(self) -> bool:
        return self.vmin is not None

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "SQ8Codec":
        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lo, hi = None, None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _stack(pdf[vec_col]).astype(np.float64)
                blo, bhi = mat.min(axis=0), mat.max(axis=0)
                lo = blo if lo is None else np.minimum(lo, blo)
                hi = bhi if hi is None else np.maximum(hi, bhi)
            if lo is not None:
                yield pd.DataFrame({"vmin": [lo.tolist()], "vmax": [hi.tolist()]})

        parts = (
            df.select(vec_col)
            .mapInPandas(partial, schema="vmin array<double>, vmax array<double>")
            .collect()
        )
        lo = np.min([r["vmin"] for r in parts], axis=0)
        hi = np.max([r["vmax"] for r in parts], axis=0)
        self.vmin = lo
        self.vmax = hi
        scale = (hi - lo) / 255.0
        scale[scale == 0.0] = 1.0
        self.scale = scale
        return self

    def encode(self, mat: np.ndarray) -> np.ndarray:
        codes = np.rint((mat.astype(np.float64) - self.vmin) / self.scale)
        return np.clip(codes, 0, 255).astype(np.int16)

    def decode(self, codes: np.ndarray) -> np.ndarray:
        # float64 on purpose: x̂ = vmin + code·scale is then bit-identical
        # to a SQL double oracle, so decoded-distance orderings agree
        return self.vmin + codes.astype(np.float64) * self.scale


class SQfp16Codec:
    """Per-value IEEE-754 half-precision scalar quantizer (FAISS
    ``SQfp16``): codes are the fp16 bit patterns stored as int16 —
    2 bytes/dim, half the float32 footprint, no calibration pass and
    no data-dependent state (unlike SQ8's per-dimension [min,max]).
    Plugs into the same duck-typed codec slot as SQ8Codec/PQCodec
    (fit / is_fitted / encode / decode)."""

    fit_plan_invariant = True  # fit is a no-op

    def is_fitted(self) -> bool:
        return True

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "SQfp16Codec":
        return self

    def encode(self, mat: np.ndarray) -> np.ndarray:
        return np.ascontiguousarray(mat, dtype=np.float16).view(np.int16)

    def decode(self, codes: np.ndarray) -> np.ndarray:
        # serving may hand back uint8 when a cluster's int16 codes all
        # happened to fit [0, 256) (pack_clusters' SQ8/PQ fast path);
        # the astype restores the original int16 values either way
        raw = np.ascontiguousarray(np.asarray(codes).astype(np.int16))
        return raw.view(np.float16).astype(np.float64)


def _kpp_init(
    data: np.ndarray, k: int, rng: np.random.RandomState
) -> np.ndarray:
    """Seeded k-means++ (D² sampling) initial centroids.

    Distance refresh per picked center is the matvec expansion
    ``‖x‖² − 2 x·c + ‖c‖²`` (clamped at 0 against fp cancellation), not
    a broadcast ``(data − c)²`` pass — the latter allocates an n × d
    temporary per step, which at a 65k × 384 training sample × k=256
    steps is ~50 GB of page traffic and dominates the whole train."""
    n = data.shape[0]
    cents = np.empty((k, data.shape[1]), dtype=np.float64)
    x2 = (data * data).sum(axis=1)

    def dist2_to(c: np.ndarray) -> np.ndarray:
        d2 = x2 - 2.0 * (data @ c) + float(c @ c)
        np.maximum(d2, 0.0, out=d2)
        return d2

    cents[0] = data[rng.randint(n)]
    d2 = dist2_to(cents[0])
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:
            # all remaining mass identical to a chosen center (duplicate-
            # heavy input): fall back to uniform picks for the rest
            cents[i:] = data[rng.choice(n, size=k - i)]
            break
        cents[i] = data[rng.choice(n, p=d2 / tot)]
        np.minimum(d2, dist2_to(cents[i]), out=d2)
    return cents


def lloyd_kmeans(
    data: np.ndarray, k: int, seed: int, iters: int = 25, init: str = "random"
) -> np.ndarray:
    """Seeded Lloyd k-means (driver-side, for PQ sub-codebooks and the
    sampled IVF coarse-quantizer trainer).

    GEMM assignment (‖x‖² − 2x·cᵀ + ‖c‖²) + bincount center update —
    same algorithm and seeding as the naive membership loop but ~50×
    faster at ksub=256, which is what makes FAISS-parity codebooks
    (m=dim, ksub=256) trainable in seconds.  ``init='++'`` uses seeded
    k-means++ D² sampling (the driver-side analogue of k-means||)."""
    rng = np.random.RandomState(seed)
    data = np.ascontiguousarray(data, dtype=np.float64)
    n, d = data.shape
    k = min(k, n)
    if init == "++":
        cents = _kpp_init(data, k, rng)
    else:
        cents = data[rng.choice(n, size=k, replace=False)].copy()
    if d == 1:
        # 1-d fast path (PQ with dsub=1, e.g. FAISS PQ64 on 64-d data):
        # nearest centroid = binary search against sorted-centroid
        # midpoints — O(n log k) per iter instead of O(n·k)
        x = data[:, 0]
        c1 = cents[:, 0]
        for _ in range(iters):
            order = np.argsort(c1, kind="stable")
            cs = c1[order]
            mids = (cs[1:] + cs[:-1]) / 2.0
            assign = order[np.searchsorted(mids, x)]
            counts = np.bincount(assign, minlength=k)
            sums = np.bincount(assign, weights=x, minlength=k)
            nz = counts > 0
            c1[nz] = sums[nz] / counts[nz]
        return c1[:, None]
    x2 = (data * data).sum(axis=1)[:, None]
    for _ in range(iters):
        d2 = x2 - 2.0 * (data @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, d))
        for t in range(d):
            sums[:, t] = np.bincount(assign, weights=data[:, t], minlength=k)
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


class PQCodec:
    """Product quantizer with ADC search support."""

    def __init__(
        self,
        m: int = 8,
        ksub: int = 256,
        seed: int = 42,
        train_sample: int = 20000,
        iters: int = 25,
        normalize: bool = False,
    ):
        self.m = m
        self.ksub = ksub
        self.seed = seed
        self.train_sample = train_sample
        self.iters = iters
        self.normalize = normalize  # cosine: normalize, then L2 ADC ≡ cosine order
        self.codebooks: np.ndarray | None = None  # (m, ksub, dsub)

    def is_fitted(self) -> bool:
        return self.codebooks is not None

    def _split(self, mat: np.ndarray) -> list[np.ndarray]:
        d = mat.shape[1]
        if d % self.m != 0:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        dsub = d // self.m
        return [mat[:, j * dsub : (j + 1) * dsub] for j in range(self.m)]

    def _prep(self, mat: np.ndarray) -> np.ndarray:
        """Pre-quantization transform (float64 + optional cosine
        normalization here; OPQCodec adds its learned rotation)."""
        mat = mat.astype(np.float64)
        if self.normalize:
            mat = normalize_rows(mat)
        return mat

    def _post(self, recon: np.ndarray) -> np.ndarray:
        """Inverse of the geometric part of ``_prep`` (identity here;
        OPQCodec rotates back so decode() returns ORIGINAL-space
        reconstructions and every decoded-distance consumer is
        transform-agnostic)."""
        return recon

    def _fit_mat(self, mat: np.ndarray) -> None:
        """Train sub-codebooks on an already-_prep'd sample matrix."""
        books = [
            lloyd_kmeans(sub, self.ksub, self.seed + j, self.iters)
            for j, sub in enumerate(self._split(mat))
        ]
        self.codebooks = np.stack(books)

    def _sample(self, df: DataFrame, vec_col: str) -> np.ndarray:
        sample = df.select(vec_col).limit(self.train_sample).toPandas()
        return _stack(sample[vec_col]).astype(np.float64)

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "PQCodec":
        self._fit_mat(self._prep(self._sample(df, vec_col)))
        return self

    def encode(self, mat: np.ndarray) -> np.ndarray:
        mat = self._prep(mat)
        codes = np.empty((mat.shape[0], self.m), dtype=np.int16)
        for j, sub in enumerate(self._split(mat)):
            cb = self.codebooks[j]
            # GEMM form of ‖x−c‖²; the ‖x‖² term is constant per row and
            # drops out of the argmin
            d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            codes[:, j] = d2.argmin(axis=1)
        return codes

    def decode(self, codes: np.ndarray) -> np.ndarray:
        parts = [self.codebooks[j][codes[:, j]] for j in range(self.m)]
        return self._post(np.concatenate(parts, axis=1))


    def adc_luts(self, qmat: np.ndarray) -> np.ndarray:
        """(n_q, m, ksub) partial squared-L2 tables for ADC scoring.
        Queries go through ``_prep`` (normalize, and for OPQ rotate),
        so LUT distances live in the same space as the codes; for an
        orthogonal transform they equal original-space L2."""
        q = self._prep(qmat)
        luts = np.empty((q.shape[0], self.m, self.codebooks.shape[1]))
        for j, sub in enumerate(self._split(q)):
            cb = self.codebooks[j]
            luts[:, j, :] = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ cb.T)
                + (cb * cb).sum(axis=1)[None, :]
            )
        return luts

    @staticmethod
    def adc_distance(luts: np.ndarray, qrows: np.ndarray, codes: np.ndarray) -> np.ndarray:
        """Aligned ADC distance: for row i, sqrt(Σ_j luts[qrows[i], j, codes[i,j]])."""
        m = codes.shape[1]
        acc = np.zeros(len(qrows))
        for j in range(m):
            acc += luts[qrows, j, codes[:, j]]
        return np.sqrt(np.maximum(acc, 0.0))


def pq_refine(
    base_df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    iters: int = 1,
    round_dp: int | None = 6,
) -> np.ndarray:
    """Deterministic distributed Lloyd steps on each PQ sub-codebook.

    Same construction as ``ivf.lloyd_refine``, applied per subspace:
    encode every vector against the current codebooks (ties by lowest
    code), recompute each codebook entry as the per-dimension mean of
    its assigned subvectors (fused encode + partial-sum kernel, one job
    per iteration), keep unassigned entries, round to ``round_dp``
    decimals so an SQL engine summing in any order reproduces the
    codebooks bit-for-bit.  Seeded-data init + rounded Lloyd steps is
    the same train regime as ``lloyd_kmeans``, made cross-engine
    reproducible.
    """
    cb = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    spark = base_df.sparkSession
    base = base_df.select(F.col(vec_col).alias("vec"))
    for _ in range(iters):
        # one job per iteration (the ivf.lloyd_refine construction):
        # encode with the codec's own argmin (``PQCodec.encode``, ties to
        # the lowest code) and accumulate per-(subspace, code)
        # float64 partial sums inside the same kernel — each partition
        # emits ≤ m × ksub compact rows.  The old plan ran an encode
        # job, an id-equi-join, and a DOUBLE posexplode (n × dim rows
        # in flight) per iteration.  Partial-sums/count vs a flat avg()
        # is a different float64 summation order, absorbed by the same
        # round_dp grid that already aligns the Spark and DuckDB-oracle
        # means.
        bc = spark.sparkContext.broadcast(cb)

        def kernel(
            batches: Iterator[pd.DataFrame], _bc=bc, _m=m, _ks=ksub, _ds=dsub
        ) -> Iterator[pd.DataFrame]:
            codec = PQCodec(m=_m, ksub=_ks)
            codec.codebooks = _bc.value
            sums = np.zeros((_m, _ks, _ds))
            cnts = np.zeros((_m, _ks), dtype=np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                mat = _stack(pdf["vec"])
                codes = codec.encode(mat)
                m64 = mat.astype(np.float64)
                for j in range(_m):
                    sub = m64[:, j * _ds : (j + 1) * _ds]
                    cj = codes[:, j]
                    cnts[j] += np.bincount(cj, minlength=_ks)
                    for t in range(_ds):
                        sums[j, :, t] += np.bincount(
                            cj, weights=sub[:, t], minlength=_ks
                        )
            if seen:
                jj, cc = np.nonzero(cnts)
                yield pd.DataFrame(
                    {
                        "j": jj,
                        "code": cc,
                        "s": [sums[a, b] for a, b in zip(jj, cc)],
                        "c": cnts[jj, cc],
                    }
                )

        part_rows = base.mapInPandas(
            kernel, schema="j int, code int, s array<double>, c long"
        )
        cells = m * ksub * dsub
        if cells * spark.sparkContext.defaultParallelism <= (1 << 25):
            # small codebooks (every catalogue/PQ config): fold the
            # ≤ npartitions × m × ksub partial rows on the DRIVER — one
            # job instead of a shuffle + final-agg stage per iteration
            # (r13; same construction and rounding-grid argument as
            # ivf.lloyd_refine's direct fold)
            sums = np.zeros((m, ksub, dsub))
            cnts = np.zeros((m, ksub), dtype=np.int64)
            for r in part_rows.collect():
                sums[r["j"], r["code"]] += np.asarray(r["s"])
                cnts[r["j"], r["code"]] += r["c"]
            new = cb.copy()  # entries with no assignments keep their value
            nz = cnts > 0
            new[nz] = sums[nz] / cnts[nz][:, None]
        else:
            rows = (
                part_rows.groupBy("j", "code")
                .agg(
                    F.sum("c").alias("c"),
                    F.aggregate(
                        F.collect_list("s"),
                        F.array_repeat(F.lit(0.0), dsub),
                        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                    ).alias("s"),
                )
                .collect()
            )
            new = cb.copy()  # entries with no assignments keep their value
            for r in rows:
                new[r["j"], r["code"], :] = np.asarray(r["s"]) / float(r["c"])
        cb = np.round(new, round_dp) if round_dp is not None else new
        bc.destroy()
    return cb


class OPQCodec(PQCodec):
    """Optimized Product Quantization (Ge et al., CVPR 2013; FAISS
    ``OPQ{m}`` transform): learn an orthogonal rotation R that
    minimizes PQ reconstruction error, then product-quantize in the
    rotated space.

    Training alternates on the driver-side sample (the same regime as
    PQCodec.fit): (1) with R fixed, train the sub-codebooks on X @ R;
    (2) with codebooks fixed, solve the orthogonal Procrustes problem
    min_R ||X R - X_hat||_F via one SVD of X^T X_hat.  ``decode``
    rotates reconstructions BACK to the original space and
    ``adc_luts``/``encode`` rotate their inputs forward, so every
    consumer (IVF decoded-distance serving, the exhaustive ADC scan,
    PackedClusters) works unchanged — orthogonality makes rotated-space
    L2 equal original-space L2.

    On isotropic data R buys nothing (rotation-invariant); the win
    appears exactly when dimensions are correlated or unequally scaled,
    which is what real embedding matrices look like.
    """

    def __init__(
        self,
        m: int = 8,
        ksub: int = 256,
        seed: int = 42,
        train_sample: int = 20000,
        iters: int = 25,
        normalize: bool = False,
        opq_iters: int = 8,
    ):
        super().__init__(
            m=m, ksub=ksub, seed=seed, train_sample=train_sample,
            iters=iters, normalize=normalize,
        )
        self.opq_iters = opq_iters
        self.rotation: np.ndarray | None = None  # (d, d) orthogonal

    def is_fitted(self) -> bool:
        return self.codebooks is not None and self.rotation is not None

    def _prep(self, mat: np.ndarray) -> np.ndarray:
        return super()._prep(mat) @ self.rotation

    def _post(self, recon: np.ndarray) -> np.ndarray:
        return recon @ self.rotation.T

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "OPQCodec":
        x = PQCodec._prep(self, self._sample(df, vec_col))
        d = x.shape[1]
        self.rotation = np.eye(d)
        for _ in range(max(1, self.opq_iters)):
            self._fit_mat(x @ self.rotation)
            # reconstruction in ROTATED space (skip _post on purpose)
            codes = self._encode_prepped(x @ self.rotation)
            xhat = np.concatenate(
                [self.codebooks[j][codes[:, j]] for j in range(self.m)], axis=1
            )
            u, _, vt = np.linalg.svd(x.T @ xhat)
            self.rotation = u @ vt
        # final codebooks consistent with the final rotation
        self._fit_mat(x @ self.rotation)
        return self

    def _encode_prepped(self, mat: np.ndarray) -> np.ndarray:
        codes = np.empty((mat.shape[0], self.m), dtype=np.int16)
        for j, sub in enumerate(self._split(mat)):
            cb = self.codebooks[j]
            d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            codes[:, j] = d2.argmin(axis=1)
        return codes


class PCACodec:
    """PCA dimensionality-reduction codec (FAISS ``PCA{d'}`` transform):
    project vectors onto the top ``dim_out`` principal components and
    store the reduced float32 coordinates as the code; decode
    back-projects to the original space (the rank-d' reconstruction).
    Plugs into the same duck-typed codec slot as SQ8/PQ (fit /
    is_fitted / encode / decode), so ``IVFIndexer(codec=
    PCACodec(64))`` serves through every existing IVF plan untouched —
    4 bytes x dim_out per vector instead of 4 x dim.

    fit is one distributed pass of partial (count, sum, X^T X) moments
    (map-side, no shuffle of vectors) combined on the driver, then a
    d x d eigendecomposition — the classic big-n/small-d shape.
    Eigenvector signs are pinned (largest-|component| positive) so the
    learned rotation is run-reproducible.  Preset ``rotation`` /
    ``mean`` skip fit — the SQL-reproducible fixed-transform path
    (orthonormal rows assumed: decode uses R^T as the inverse)."""

    def __init__(
        self,
        dim_out: int,
        rotation: np.ndarray | None = None,
        mean: np.ndarray | None = None,
    ):
        if dim_out < 1:
            raise ValueError(f"dim_out must be >= 1, got {dim_out}")
        self.dim_out = dim_out
        self.rotation = (
            None if rotation is None else np.asarray(rotation, dtype=np.float64)
        )
        if self.rotation is not None and self.rotation.shape[0] != dim_out:
            raise ValueError(
                f"rotation has {self.rotation.shape[0]} rows, expected {dim_out}"
            )
        if mean is None and self.rotation is not None:
            mean = np.zeros(self.rotation.shape[1])
        self.mean = None if mean is None else np.asarray(mean, dtype=np.float64)

    def is_fitted(self) -> bool:
        return self.rotation is not None

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "PCACodec":
        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            n, s, g = 0, None, None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _stack(pdf[vec_col]).astype(np.float64)
                n += len(mat)
                bs = mat.sum(axis=0)
                bg = mat.T @ mat
                s = bs if s is None else s + bs
                g = bg if g is None else g + bg
            if n:
                yield pd.DataFrame(
                    {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
                )

        parts = (
            df.select(vec_col)
            .mapInPandas(partial, schema="n long, s array<double>, g array<double>")
            .collect()
        )
        n = sum(r["n"] for r in parts)
        s = np.sum([r["s"] for r in parts], axis=0)
        d = len(s)
        g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0)
        mean = s / n
        if self.dim_out > d:
            raise ValueError(
                f"PCACodec: dim_out={self.dim_out} exceeds the data "
                f"dimension {d} — a reduction cannot add dimensions "
                "(FAISS raises the same way at build time)"
            )
        cov = g / n - np.outer(mean, mean)
        w, v = np.linalg.eigh(cov)  # ascending eigenvalues
        comps = v[:, ::-1][:, : self.dim_out].T  # (dim_out, d), descending
        # sign convention: the largest-|component| entry positive
        for row in comps:
            j = int(np.argmax(np.abs(row)))
            if row[j] < 0:
                row *= -1.0
        self.rotation = np.ascontiguousarray(comps)
        self.mean = mean
        return self

    def encode(self, mat: np.ndarray) -> np.ndarray:
        y = (np.asarray(mat, dtype=np.float64) - self.mean) @ self.rotation.T
        return y.astype(np.float32)

    def decode(self, codes: np.ndarray) -> np.ndarray:
        return self.mean + np.asarray(codes, dtype=np.float64) @ self.rotation


def codes_type(codec) -> str:
    """Spark SQL type of ``codec.encode``'s rows: PCA's float32 reduced
    coordinates, the int16 codes of every other codec."""
    return "array<float>" if isinstance(codec, PCACodec) else "array<smallint>"


def encode_df(codec, df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """``df`` with ``vec_col`` replaced by a ``codes`` column: one
    Arrow-batched ``codec.encode`` pass under one broadcast of the
    fitted codec, for every codec."""
    bc = df.sparkSession.sparkContext.broadcast(codec)
    other = [c for c in df.columns if c != vec_col]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cdc = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[other].copy()
            out["codes"] = list(cdc.encode(_stack(pdf[vec_col])))
            yield out

    schema = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != vec_col
    ]
    schema.append(f"codes {codes_type(codec)}")
    return df.mapInPandas(kernel, schema=", ".join(schema))
