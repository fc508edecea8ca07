"""Product-quantization (PQ) approximate nearest neighbour — the MEMORY
scale path: a d-dim float corpus (4d bytes/vector) compresses to m one-byte
codes (m ≈ d/8), so a 100 TB embedding store's index fits in ~1.5 TB and
each executor scans its shard from RAM.

Standard shape (Jégou et al. 2011, the FAISS baseline):
- TRAIN on a bounded deterministic sample (collected to the driver, like
  FAISS trains codebooks on ≤256k samples whatever the corpus size): split
  the d dims into m subspaces, run fixed-iteration Lloyd per subspace.
- ENCODE distributively: one Arrow batch matmul per subspace argmin —
  ``codes: array<int>`` per vector, no shuffle.
- SEARCH with asymmetric distance (ADC): per query, an m×ncent lookup
  table of exact subspace distances; a corpus scan sums table entries at
  the stored codes (pure numpy fancy-indexing per batch) and emits only
  each BATCH's top-k per query, so the final exact merge aggregates
  ≤ batches·q·k rows — the same bounded-merge pattern as the IVF kernel.

Determinism: sampling is ``ORDER BY vec_id LIMIT n``, init is the first
ncent sample points per subspace, iterations are fixed-count, numpy argmin
breaks ties to the lowest index — identical results on any layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame


def _sample_matrix(emb: DataFrame, sample: int, vec_col: str) -> np.ndarray:
    """The deterministic training sample: the first ``sample`` vectors by
    vec_id, as an (n, d) float64 matrix on the driver."""
    rows = emb.select(vec_col).orderBy("vec_id").limit(sample).collect()
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """``iters`` fixed Lloyd rounds on the rows of ``X`` from the first-k
    init; empty clusters keep their centroid.  Returns (k, d) centroids."""
    C = X[:k].copy()
    for _ in range(iters):
        a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for c in range(k):
            mask = a == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return C


def _pq_books(X: np.ndarray, m: int, ncent: int, iters: int) -> np.ndarray:
    """One ``_lloyd`` codebook per subspace: ``(m, ncent, d/m)``."""
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < ncent:
        raise ValueError(f"sample {n} smaller than ncent={ncent}")
    dsub = d // m
    books = np.empty((m, ncent, dsub))
    for s in range(m):
        books[s] = _lloyd(X[:, s * dsub:(s + 1) * dsub], ncent, iters)
    return books


def train_pq(emb: DataFrame, m: int = 8, ncent: int = 16,
             sample: int = 4096, iters: int = 10,
             vec_col: str = "embedding") -> np.ndarray:
    """Fit PQ codebooks.  Returns ``(m, ncent, d/m)`` float64 centroids."""
    return _pq_books(_sample_matrix(emb, sample, vec_col), m, ncent, iters)


def pq_encode(emb: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", code_col: str = "codes") -> DataFrame:
    """Add ``codes: array<int>`` (the m per-subspace centroid ids) — one
    Arrow batch argmin per subspace, no shuffle."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        B = bc.value
        m, ncent, dsub = B.shape
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vs.to_numpy()).astype(np.float64)
        codes = np.empty((V.shape[0], m), dtype=np.int32)
        for s in range(m):
            Xs = V[:, s * dsub:(s + 1) * dsub]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per argmin
            d2 = -2.0 * (Xs @ B[s].T) + (B[s] ** 2).sum(axis=1)[None, :]
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series([c.tolist() for c in codes])

    return emb.withColumn(code_col, enc(F.col(vec_col)))


def _merge_topk(cand: DataFrame, k: int, dist_col: str) -> DataFrame:
    """Merge per-batch ``(query_id, neighbor_id, dist_col)`` candidates into
    the exact top-k per query — one bounded sorted aggregation keyed on
    (distance rounded to 9 dp, neighbor id); rank 1 = nearest."""
    return (
        cand.groupBy("query_id")
        .agg(F.slice(
            F.array_sort(F.collect_list(
                F.struct(F.round(dist_col, 9).alias("d"),
                         F.col("neighbor_id").alias("nid")))),
            1, k).alias("top"))
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select("query_id", F.col("t.nid").alias("neighbor_id"),
                (F.col("pos") + 1).cast("bigint").alias("rank"),
                F.col("t.d").alias(dist_col))
    )


def pq_topk(emb: DataFrame, query_pred, codebooks: np.ndarray, k: int = 5,
            vec_col: str = "embedding") -> DataFrame:
    """ADC top-k: ``query_id, neighbor_id, rank, approx_dist`` (squared L2
    under the quantization; rank 1 = nearest).  Queries are the (small)
    predicate subset, collected once for their exact distance tables; the
    corpus scan is one ``mapInPandas`` over the encoded vectors emitting
    per-batch top-k per query, merged by a bounded sorted aggregation."""
    spark = emb.sparkSession
    B = np.asarray(codebooks)
    m, ncent, dsub = B.shape
    qrows = emb.where(query_pred).select("vec_id", vec_col) \
        .orderBy("vec_id").collect()
    if not qrows:
        return local_frame(
            spark, [],
            "query_id long, neighbor_id long, rank long, approx_dist double")
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    # exact subspace distance tables: (q, m, ncent)
    tables = np.empty((len(qids), m, ncent))
    for s in range(m):
        Qs = Q[:, s * dsub:(s + 1) * dsub]
        diff = Qs[:, None, :] - B[s][None, :, :]
        tables[:, s, :] = (diff ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast((qids, tables))
    enc = pq_encode(emb, B, vec_col).select("vec_id", "codes")

    def scan(batches):
        qi, T = bc.value
        nq = len(qi)
        for b in batches:
            if len(b) == 0:
                continue
            ids = b["vec_id"].to_numpy(dtype=np.int64)
            C = np.stack(b["codes"].to_numpy()).astype(np.int64)  # (n, m)
            # dist[q, v] = Σ_s T[q, s, C[v, s]]
            D = np.zeros((nq, len(ids)))
            for s in range(m):
                D += T[:, s, :][:, C[:, s]]
            mask = ids[None, :] == qi[:, None]   # exclude self-matches
            D[mask] = np.inf
            kk = min(k, len(ids))
            part = np.argpartition(D, kk - 1, axis=1)[:, :kk]
            out_q = np.repeat(qi, kk)
            out_v = ids[part].reshape(-1)
            out_d = np.take_along_axis(D, part, axis=1).reshape(-1)
            keep = np.isfinite(out_d)
            yield pd.DataFrame({"query_id": out_q[keep],
                                "neighbor_id": out_v[keep],
                                "approx_dist": out_d[keep]})

    cand = enc.mapInPandas(
        scan, "query_id long, neighbor_id long, approx_dist double")
    return _merge_topk(cand, k, "approx_dist")


def exact_l2_topk(emb: DataFrame, query_pred, k: int = 5,
                  vec_col: str = "embedding") -> DataFrame:
    """Exact squared-L2 top-k with the same bounded scan-and-merge shape as
    ``pq_topk`` (queries broadcast, per-batch numpy distances, per-batch
    top-k, sorted-aggregation merge) — the recall baseline PQ is judged
    against, and a useful exact operator in its own right."""
    spark = emb.sparkSession
    qrows = emb.where(query_pred).select("vec_id", vec_col) \
        .orderBy("vec_id").collect()
    if not qrows:
        return local_frame(
            spark, [], "query_id long, neighbor_id long, rank long, dist double")
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    bc = spark.sparkContext.broadcast((qids, Q))

    def scan(batches):
        qi, Qm = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            ids = b["vec_id"].to_numpy(dtype=np.int64)
            V = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            # cumsum = strict left-to-right fold, bitwise-matching the SQL
            # oracle's list_aggregate 'sum' (np.sum is pairwise and would
            # drift in the last ulp, risking rounded-tie rank flips)
            D = np.cumsum((Qm[:, None, :] - V[None, :, :]) ** 2,
                          axis=2)[:, :, -1]
            D[ids[None, :] == qi[:, None]] = np.inf
            kk = min(k, len(ids))
            part = np.argpartition(D, kk - 1, axis=1)[:, :kk]
            out_d = np.take_along_axis(D, part, axis=1).reshape(-1)
            keep = np.isfinite(out_d)
            yield pd.DataFrame({"query_id": np.repeat(qi, kk)[keep],
                                "neighbor_id": ids[part].reshape(-1)[keep],
                                "dist": out_d[keep]})

    cand = emb.select("vec_id", vec_col).mapInPandas(
        scan, "query_id long, neighbor_id long, dist double")
    return _merge_topk(cand, k, "dist")


# -- IVF-PQ composite (coarse quantizer + PQ on residuals) -------------------


def train_ivfpq(emb: DataFrame, nlist: int = 8, m: int = 8, ncent: int = 16,
                sample: int = 4096, iters: int = 10,
                vec_col: str = "embedding"):
    """Fit the composite index (the FAISS IVFPQ shape): a coarse nlist-way
    quantizer plus PQ codebooks trained on the RESIDUALS ``x − c(x)`` —
    residuals concentrate around 0, so the same code budget quantizes them
    far finer than raw vectors.  Returns ``(coarse (nlist, d), books)``.
    Same determinism contract as ``train_pq``."""
    X = _sample_matrix(emb, sample, vec_col)
    if len(X) < nlist:
        raise ValueError(f"sample {len(X)} smaller than nlist={nlist}")
    C = _lloyd(X, nlist, iters)
    a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    books = _pq_books(X - C[a], m, ncent, iters)
    return C, books


def ivfpq_topk(emb: DataFrame, query_pred, coarse: np.ndarray,
               books: np.ndarray, k: int = 5, nprobe: int = 2,
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ADC search: each query probes its ``nprobe`` nearest inverted
    lists; candidate distance ≈ ||q − c_l − r̂_x||² via a per-(query, list)
    m×ncent lookup table.  One ``mapInPandas`` corpus scan assigns, encodes
    and scores every vector in-batch (index structures broadcast), emitting
    per-batch top-k per query — the bounded-merge pattern of ``pq_topk``.
    ``nprobe = nlist`` removes the coarse-pruning error entirely (the
    recall dial, like IVF's)."""
    spark = emb.sparkSession
    C = np.asarray(coarse)
    B = np.asarray(books)
    nlist, d = C.shape
    m, ncent, dsub = B.shape
    nprobe = min(nprobe, nlist)
    qrows = emb.where(query_pred).select("vec_id", vec_col) \
        .orderBy("vec_id").collect()
    if not qrows:
        return local_frame(
            spark, [],
            "query_id long, neighbor_id long, rank long, approx_dist double")
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    # per query: probed lists + ADC table per probed list
    qd = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)      # (q, nlist)
    probes = np.argsort(qd, axis=1)[:, :nprobe]                   # (q, nprobe)
    # tables[qi, pi, s, j] = ||(q - c_l)_s - B[s, j]||²
    tables = np.empty((len(qids), nprobe, m, ncent))
    for qi in range(len(qids)):
        for pi in range(nprobe):
            res = Q[qi] - C[probes[qi, pi]]
            for s in range(m):
                diff = res[s * dsub:(s + 1) * dsub][None, :] - B[s]
                tables[qi, pi, s, :] = (diff ** 2).sum(axis=1)
    bc = spark.sparkContext.broadcast((qids, probes, tables, C, B))

    def scan(batches):
        qi, pr, T, Cm, Bm = bc.value
        nq = len(qi)
        for b in batches:
            if len(b) == 0:
                continue
            ids = b["vec_id"].to_numpy(dtype=np.int64)
            V = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            assign = ((V[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=2) \
                .argmin(axis=1)                                   # (n,)
            R = V - Cm[assign]
            codes = np.empty((len(ids), m), dtype=np.int64)
            for s in range(m):
                Rs = R[:, s * dsub:(s + 1) * dsub]
                d2 = -2.0 * (Rs @ Bm[s].T) + (Bm[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = d2.argmin(axis=1)
            out_q, out_v, out_d = [], [], []
            for qx in range(nq):
                # vectors whose list is probed by this query
                probe_set = pr[qx]
                pi_of_list = {int(l): p for p, l in enumerate(probe_set)}
                mask = np.isin(assign, probe_set) & (ids != qi[qx])
                if not mask.any():
                    continue
                vidx = np.nonzero(mask)[0]
                pi = np.array([pi_of_list[int(l)] for l in assign[vidx]])
                dist = np.zeros(len(vidx))
                for s in range(m):
                    dist += T[qx, pi, s, codes[vidx, s]]
                kk = min(k, len(vidx))
                part = np.argpartition(dist, kk - 1)[:kk]
                out_q.extend([qi[qx]] * kk)
                out_v.extend(ids[vidx][part].tolist())
                out_d.extend(dist[part].tolist())
            if out_q:
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_v,
                                    "approx_dist": out_d})

    cand = emb.select("vec_id", vec_col).mapInPandas(
        scan, "query_id long, neighbor_id long, approx_dist double")
    return _merge_topk(cand, k, "approx_dist")


# -- OPQ: optimized product quantization (learned rotation) ------------------


def train_opq(emb: DataFrame, m: int = 8, ncent: int = 16,
              sample: int = 4096, iters_pq: int = 10, iters_opq: int = 8,
              vec_col: str = "embedding"):
    """Optimized PQ (Ge et al. 2013, non-parametric): alternate between
    fitting PQ codebooks in the rotated space and re-solving the orthogonal
    Procrustes problem ``R = argmin ‖XR − X̂‖²`` (SVD of ``Xᵀ X̂``), so the
    rotation redistributes correlated variance across subspaces before
    quantization.  Driver-side on the deterministic sample, like
    ``train_pq``.  Returns ``(R (d, d), books)``; encode/search run in the
    rotated space (rotation is one broadcast matmul — compose with
    ``transform_pca``-style application or ``opq_topk``)."""
    X = _sample_matrix(emb, sample, vec_col)
    d = X.shape[1]
    dsub = d // m
    R = np.eye(d)

    def reconstruct(Y, books):
        out = np.empty_like(Y)
        for s in range(m):
            Ys = Y[:, s * dsub:(s + 1) * dsub]
            d2 = ((Ys[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s * dsub:(s + 1) * dsub] = books[s][d2.argmin(axis=1)]
        return out

    for _ in range(iters_opq):
        Y = X @ R
        books = _pq_books(Y, m, ncent, iters_pq)
        Yhat = reconstruct(Y, books)
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    books = _pq_books(X @ R, m, ncent, iters_pq)
    return R, books


def opq_rotate(emb: DataFrame, R: np.ndarray, vec_col: str = "embedding",
               out_col: str = "embedding") -> DataFrame:
    """Apply the OPQ rotation (one broadcast matmul per Arrow batch),
    keeping ``vec_id`` so the result plugs straight into ``pq_encode`` /
    ``pq_topk``."""
    from ophidia_io_server_spark.pipeline.embeddings import transform_pca

    d = R.shape[0]
    out = transform_pca(emb, np.zeros(d), R, vec_col=vec_col, out_col="_rot")
    return out.drop(vec_col).withColumnRenamed("_rot", out_col)


def opq_topk(emb: DataFrame, query_pred, R: np.ndarray, books: np.ndarray,
             k: int = 5, vec_col: str = "embedding") -> DataFrame:
    """ADC top-k in the learned-rotation space (rotation preserves L2, so
    ranks are comparable to raw-space search — just quantized better)."""
    return pq_topk(opq_rotate(emb, R, vec_col, vec_col), query_pred,
                   books, k, vec_col)


def train_opq_ivfpq(emb: DataFrame, nlist: int = 8, m: int = 8,
                    ncent: int = 16, sample: int = 4096, iters: int = 10,
                    iters_opq: int = 6, vec_col: str = "embedding"):
    """OPQ pre-transform + IVF-PQ — the FAISS ``OPQ{m},IVF{nlist},PQ{m}``
    factory composite: learn the Ge et al. rotation on the PQ objective,
    then train the coarse quantizer and residual codebooks in the ROTATED
    space, where variance is balanced across subspaces.  Returns
    ``(R, coarse, books)``; search with ``opq_ivfpq_topk``.  Rotation is
    orthogonal, so L2 ranks in rotated space equal raw-space ranks — only
    the quantization error changes (downward, on correlated data)."""
    R, _ = train_opq(emb, m=m, ncent=ncent, sample=sample,
                     iters_pq=iters, iters_opq=iters_opq, vec_col=vec_col)
    rot = opq_rotate(emb, R, vec_col, vec_col)
    coarse, books = train_ivfpq(rot, nlist=nlist, m=m, ncent=ncent,
                                sample=sample, iters=iters, vec_col=vec_col)
    return R, coarse, books


def opq_ivfpq_topk(emb: DataFrame, query_pred, R: np.ndarray,
                   coarse: np.ndarray, books: np.ndarray, k: int = 5,
                   nprobe: int = 2, vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ADC search in the learned-rotation space (one broadcast
    matmul prepended to the ``ivfpq_topk`` pipeline)."""
    return ivfpq_topk(opq_rotate(emb, R, vec_col, vec_col), query_pred,
                      coarse, books, k=k, nprobe=nprobe, vec_col=vec_col)


def pq_reconstruction_error(emb: DataFrame, books: np.ndarray,
                            R: np.ndarray | None = None,
                            vec_col: str = "embedding") -> DataFrame:
    """Corpus mean squared reconstruction error of a (optionally rotated)
    PQ codec: per Arrow batch, rotate (if ``R``), assign each subspace to
    its nearest centroid, and accumulate ‖y − ŷ‖² — emitting one partial
    (n, sse) row per batch, reduced to a single (n_vectors, mse) row.  The
    quantity OPQ (Ge et al. 2013) minimizes; rotation is orthogonal so
    raw-space and rotated-space errors are directly comparable."""
    from typing import Iterator

    m, ncent, dsub = books.shape

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, sse = 0, 0.0
        for b in batches:
            if len(b) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in b[vec_col]])
            Y = X @ R if R is not None else X
            for s in range(m):
                Ys = Y[:, s * dsub:(s + 1) * dsub]
                d2 = ((Ys[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                sse += float(d2.min(axis=1).sum())
            n += len(X)
        yield pd.DataFrame({"n": [n], "sse": [sse]})

    parts = emb.select(vec_col).mapInPandas(part, "n long, sse double")
    return parts.agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        (F.sum("sse") / F.sum("n")).alias("mse"),
    )
