"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the query matrix rides along
  with a ``mapInPandas`` scan (batch-local BLAS top-k), one pass over
  candidates, global top-k over the pruned candidate set.  The baseline.
- ``cosine_pairs``: all pairs above a cosine threshold via a triangle block
  cogroup — per block pair one ``A @ B.T`` BLAS matmul — avoiding both n²
  shuffle rows and interpreted per-element arithmetic at scale.
- ``lsh_ann_topk``: hyperplane-LSH bucketed approximate top-k — the scale
  path (candidates share ≥1 band bucket).

Exact kernels take ``kernel=`` one of:

- ``"blas"`` — Arrow-batched numpy matmul.  Higher-order-function lambdas
  do not enter whole-stage codegen, so the per-element fold is a measured
  16-25× CPU tax once tiles grow (8k vectors: 18.9 s HOF vs 1.2 s BLAS;
  20k: 84 s vs 3.4 s — PERF.md r5).  The right path at data scale.
- ``"hof"`` — pure-JVM ``F.aggregate`` fold over ``zip_with``: no Python
  workers, bit-exact left-to-right fold order matching the SQL oracles.
  Faster below a few thousand vectors, where Arrow transfer + Python
  worker spin-up dominates the tiny matmuls.
- ``"auto"`` (default) — dispatches on estimated DOT-PRODUCT count:
  ``cosine_pairs`` on corpus size (n²/2 work → ``AUTO_BLAS_MIN_ROWS``),
  the top-k family on q·n (queries × corpus; 10 queries over 20k vectors
  still favor the JVM fold, 1000 favor BLAS 8.6× — ``AUTO_BLAS_MIN_WORK``).
  Costs one or two ``count()`` jobs (metadata-only on parquet; cached base
  for IVF).  Callers that know their scale should pin the kernel.

Both kernels agree to the last bit on every value after the public 6-dp
rounding at the tested scales (verified empirically over the full sf0.01 +
sf0.1 outputs, PERF.md r5); ``tests/test_similarity_ivf.py`` pins the
parity.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame, spread

# Measured HOF↔BLAS crossovers (PERF.md r5).  The right dispatch unit is
# DOT PRODUCTS, not rows: cosine_pairs does ~n²/2 of them, the top-k family
# q·n (queries × corpus), IVF rescore ~q·n·nprobe/nlist.  all-pairs: HOF
# wins at 2k vectors (2e6 dots), BLAS wins ≥16× at 8k (3.2e7).  top-k at
# n=20k: q=10 (2e5 dots) HOF 0.34 s vs BLAS 0.55 s; q=100 (2e6) BLAS 1.6×;
# q=1000 (2e7) BLAS 8.6× (and 4.2× on the IVF rescore).
AUTO_BLAS_MIN_ROWS = 4096        # all-pairs: n²/2 ≥ ~8e6 dots
AUTO_BLAS_MIN_WORK = 1_000_000   # linear family: estimated dot products


def _resolve_kernel(kernel: str, emb: DataFrame) -> str:
    if kernel == "auto":
        return "blas" if emb.count() >= AUTO_BLAS_MIN_ROWS else "hof"
    if kernel not in ("blas", "hof"):
        raise ValueError(f"kernel must be 'auto', 'blas' or 'hof', got {kernel!r}")
    return kernel


def _resolve_kernel_work(kernel: str, est_dots: float) -> str:
    """Work-based dispatch for the linear (q·n) kernels."""
    if kernel == "auto":
        return "blas" if est_dots >= AUTO_BLAS_MIN_WORK else "hof"
    if kernel not in ("blas", "hof"):
        raise ValueError(f"kernel must be 'auto', 'blas' or 'hof', got {kernel!r}")
    return kernel


def _est_rows(df: DataFrame, row_bytes: float) -> float:
    """Catalyst row-count estimate — NO Spark job.  CBO rowCount when the
    catalog has stats; otherwise optimizedPlan sizeInBytes / row_bytes.
    Used only for kernel dispatch (either kernel is correct), so a crude
    estimate is fine; an eager ``count()`` here would be a full corpus
    scan per call on a 100 TB table (r7 verdict #4).  Unknown → +inf,
    which dispatches to the kernel that scales (blas)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
        return float(str(stats.sizeInBytes())) / max(row_bytes, 1.0)
    except Exception:  # noqa: BLE001 — Connect/stats accessor shape varies
        return float("inf")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return spread(emb).withColumn("_norm", _norm(F.col(vec_col).cast("array<double>")))


def cosine_topk(emb: DataFrame, query_pred, k: int = 5,
                vec_col: str = "embedding", kernel: str = "auto") -> DataFrame:
    """Exact top-k cosine neighbors for every query vector (query_pred filters
    the query set — small by contract, like the reference's query vectors).

    ``kernel="blas"``: the query matrix (q×dim doubles — the same data the
    HOF path ships in a broadcast) rides along in the ``mapInPandas`` closure;
    each Arrow batch computes ``V @ Q.T`` and keeps only its batch-local
    top-k per query under the global (cosine desc, vec_id asc) total order,
    so the candidate set entering the final window is ≤ q·k per batch
    instead of q·n — map-side top-k pruning, no join, one scan.

    ``kernel="hof"``: broadcast-join + JVM fold; candidates stream by
    partition; per-query top-k is a window over (sim desc, vec_id)."""
    base = with_norm(emb, vec_col).select(
        F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("v"), F.col("_norm")
    )
    qrows = None
    if kernel == "auto":
        # this operator's work is q·n dot products — dispatch on that, not
        # on n alone (10 queries over 20k vectors still favors the JVM fold;
        # 1000 queries favor BLAS 8.6×, PERF.md r5).  q comes from the
        # query-set collect BOTH kernels pay anyway (blas ships it in the
        # closure, hof broadcasts the same rows to the driver JVM); n is
        # the Catalyst plan estimate — no eager count() jobs (r7 verdict
        # #4: two full corpus scans per call at 100 TB just to pick a
        # kernel).
        qrows = base.filter(query_pred).collect()
        q = len(qrows)
        dim = len(qrows[0].v) if qrows else 1
        n = _est_rows(emb, 8.0 * dim + 24)
        kernel = _resolve_kernel_work(kernel, float(q) * n)
    else:
        kernel = _resolve_kernel(kernel, emb)  # validation only (not auto)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    if kernel == "blas":
        # driver pulls ONLY the query set — the exact rows F.broadcast would
        # collect to the driver JVM anyway; candidates never leave executors
        if qrows is None:
            qrows = base.filter(query_pred).collect()
        if not qrows:
            return local_frame(
                emb.sparkSession, [],
                "query_id long, neighbor_id long, rank long, cosine double")
        qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
        qmat = np.array([r.v for r in qrows], dtype=np.float64)
        qn = np.array([r._norm for r in qrows], dtype=np.float64)

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if b.empty:
                    continue
                vids = b["vec_id"].to_numpy(dtype=np.int64)
                vmat = np.stack(b["v"].to_numpy())
                sims = (vmat @ qmat.T) / np.outer(b["_norm"].to_numpy(), qn)
                out_q, out_v, out_c = [], [], []
                for j in range(len(qids)):
                    col = sims[:, j]
                    keep = vids != qids[j]
                    # batch-local top-k under the global total order
                    # (cosine desc, vec_id asc): the global top-k is a
                    # subset of the union of batch top-k's
                    order = np.lexsort((vids[keep], -col[keep]))[:k]
                    out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                    out_v.append(vids[keep][order])
                    out_c.append(col[keep][order])
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q) if out_q else np.array([], dtype=np.int64),
                    "vec_id": np.concatenate(out_v) if out_v else np.array([], dtype=np.int64),
                    "cosine": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
                })

        scored = base.mapInPandas(scan, "query_id long, vec_id long, cosine double")
    else:
        queries = base.filter(query_pred).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            F.col("_norm").alias("qn")
        )
        scored = (
            F.broadcast(queries)
            .join(base, F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("_norm")))
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("rank").cast("bigint").alias("rank"),
                F.round("cosine", 6).alias("cosine"))
    )


def cosine_pairs(emb: DataFrame, threshold: float = 0.4,
                 vec_col: str = "embedding", blocks: int | None = None,
                 kernel: str = "auto") -> DataFrame:
    """All (a<b) pairs with cosine ≥ threshold — EXACT, and shuffle-bounded.

    Exact all-pairs is Ω(n²) comparisons in the worst case; the scale
    question is only how that work is *distributed*.  The former
    implementation was a BroadcastNestedLoopJoin on ``vec_a < vec_b`` —
    one broadcast of the whole table and a single-node-ish nested loop.
    This is the triangle block join instead: hash every vector into one of
    ``blocks`` buckets, emit each row once per block *pair* it participates
    in (left side: (g,j) for j ≥ g; right side: (i,h) for i ≤ h), and
    equi-join on the pair id.  Every unordered vector pair meets in exactly
    one of the B(B+1)/2 block-pair tasks, the plan is a plain shuffled
    equi-join (no BNLJ / CartesianProduct), each task holds ~(n/B)² work and
    2·n/B rows, and replication is ~B/2 rows per side — the standard
    distributed all-pairs shape.

    ``blocks`` defaults to √(8·defaultParallelism) (≥16): B(B+1)/2 block
    pairs ≈ 4 tasks per core, so the parameter self-scales with cluster
    size instead of being pinned to a bench-size constant.  The OUTPUT is
    identical for any ``blocks`` value (every unordered pair meets exactly
    once), so the oracle does not depend on it.

    ``kernel="blas"`` replaces the equi-join's n²/B² per-task joined ROWS
    with a cogroup: each block-pair task receives its 2·n/B input rows once
    (same shuffle volume as the join's build side) and computes the whole
    ``A @ B.T`` tile in one BLAS call — the n² arithmetic never exists as
    rows, Arrow traffic is O(n·B), and only above-threshold pairs are
    emitted.  ``kernel="hof"`` keeps the plain shuffled equi-join + JVM
    fold (bit-exact left-fold order).

    For the approximate sub-quadratic path use ``cosine_pairs_lsh`` (banded
    sign-LSH candidates + exact verify) or ``lsh_ann_topk``."""
    kernel = _resolve_kernel(kernel, emb)
    if blocks is None:
        par = emb.sparkSession.sparkContext.defaultParallelism
        blocks = max(16, int((8 * par) ** 0.5))
    base = with_norm(emb, vec_col).select(
        F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("v"), F.col("_norm"),
        F.pmod(F.xxhash64("vec_id"), F.lit(blocks)).cast("int").alias("g"),
    )
    if kernel == "blas":
        nblocks = blocks

        def tile(key, ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                  "vec_b": pd.Series(dtype="int64"),
                                  "cosine": pd.Series(dtype="float64")})
            if ldf.empty or rdf.empty:
                return empty
            (pair_id,) = key
            same_block = (pair_id // nblocks) == (pair_id % nblocks)
            ids_a = ldf["vec_a"].to_numpy(dtype=np.int64)
            ids_b = rdf["vec_b"].to_numpy(dtype=np.int64)
            amat = np.stack(ldf["va"].to_numpy())
            bmat = np.stack(rdf["vb"].to_numpy())
            sims = (amat @ bmat.T) / np.outer(ldf["na"].to_numpy(),
                                              rdf["nb"].to_numpy())
            mask = sims >= threshold
            if same_block:
                # order by id: drops self-pairs and mirror duplicates
                mask &= ids_a[:, None] < ids_b[None, :]
            ia, ib = np.nonzero(mask)
            if not len(ia):
                return empty
            return pd.DataFrame({"vec_a": ids_a[ia], "vec_b": ids_b[ib],
                                 "cosine": sims[ia, ib]})

        # distinct aliases per side: both sides derive from `base`, and a
        # self-cogroup with shared expression ids lets column pruning strip
        # the right child down to the grouping key (observed on Spark 4.1 —
        # the pandas frame arrived with only `pair_id`); fresh Alias ids on
        # each side keep the pruner honest, mirroring the HOF join's naming
        left = base.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
            F.col("_norm").alias("na"),
            F.explode(F.sequence(F.col("g"), F.lit(blocks - 1))).alias("jb"),
            F.col("g"),
        ).select("vec_a", "va", "na",
                 (F.col("g") * blocks + F.col("jb")).alias("pair_id"))
        right = base.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
            F.col("_norm").alias("nb"),
            F.explode(F.sequence(F.lit(0), F.col("g"))).alias("ia"),
            F.col("g"),
        ).select("vec_b", "vb", "nb",
                 (F.col("ia") * blocks + F.col("g")).alias("pair_id"))
        scored = left.groupBy("pair_id").cogroup(right.groupBy("pair_id")).applyInPandas(
            tile, "vec_a long, vec_b long, cosine double")
    else:
        left = base.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
            F.col("_norm").alias("na"), F.col("g").alias("ga"),
            F.explode(F.sequence(F.col("g"), F.lit(blocks - 1))).alias("jb"),
        ).withColumn("pair_id", F.col("ga") * blocks + F.col("jb"))
        right = base.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
            F.col("_norm").alias("nb"), F.col("g").alias("gb"),
            F.explode(F.sequence(F.lit(0), F.col("g"))).alias("ia"),
        ).withColumn("pair_id", F.col("ia") * blocks + F.col("gb"))
        joined = left.join(right, "pair_id").where(
            # same block: order by id (also drops self-pairs and mirror dups);
            # distinct blocks: every cross pair meets exactly once, keep it
            ((F.col("ga") == F.col("gb")) & (F.col("vec_a") < F.col("vec_b")))
            | (F.col("ga") != F.col("gb"))
        )
        scored = (
            joined
            .withColumn("cosine", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            .where(F.col("cosine") >= threshold)
        )
    return scored.select(
        F.least("vec_a", "vec_b").alias("vec_a"),
        F.greatest("vec_a", "vec_b").alias("vec_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def cosine_pairs_lsh(emb: DataFrame, threshold: float = 0.4,
                     vec_col: str = "embedding", nplanes: int = 64,
                     bands: int = 16, dim: int = 64) -> DataFrame:
    """Approximate-recall all-pairs: banded sign-LSH candidates + exact
    cosine verify — the sub-quadratic scale path when near-dup pairs sit
    well above the threshold.

    Recall bound: a pair at cosine c survives a band of r = nplanes/bands
    bits with probability p^r, p = 1 - arccos(c)/π, so
    P[candidate] = 1 - (1 - p^r)^bands.  At r=4/bands=16: c=0.95 → miss
    ≈ 2e-7; c=0.7 → miss ≈ 2.8%; c=0.4 (the floor) → miss ≈ 93%.  Use for
    high-similarity near-dup mining, not low-threshold sweeps; precision is
    exact (every candidate is verified)."""
    planes = _hyperplanes(dim, nplanes)
    r = nplanes // bands

    def band_cols(v):
        bits = [
            F.when(_dot(v, F.array(*[F.lit(x) for x in p])) >= 0, 1).otherwise(0)
            for p in planes
        ]
        out = []
        for bnd in range(bands):
            acc = F.lit(0)
            for j in range(r):
                acc = acc * 2 + bits[bnd * r + j]
            out.append(acc)
        return F.array(*out)

    base = with_norm(emb, vec_col).select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("v"), "_norm",
    )
    banded = base.select(
        "vec_id", "v", "_norm",
        F.posexplode(band_cols(F.col("v"))).alias("band", "bucket"),
    )
    a = banded.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                      F.col("_norm").alias("na"), "band", "bucket")
    b = banded.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                      F.col("_norm").alias("nb"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb", "na", "nb")
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplanes(dim: int, nplanes: int, seed: int = 7):
    """Deterministic pseudo-random hyperplanes from the shared LCG (centered
    uniforms are fine for sign-LSH)."""
    return [
        [float(((p * 1103515245 + (k + 1) * 12345 + seed) % 2147483648) / 2147483648.0 - 0.5)
         for k in range(dim)]
        for p in range(nplanes)
    ]


def ivf_ann_topk(emb: DataFrame, query_pred, k: int = 5, nlist: int = 8,
                 nprobe: int = 2, iters: int = 3, vec_col: str = "embedding",
                 kernel: str = "auto") -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other standard ANN scale
    path next to LSH.

    Build: train a coarse quantizer with Lloyd iterations where ONLY the
    centroids (nlist × dim floats) ever touch the driver — assignment is a
    broadcast-centroid map and the mean update a d+1-column partial
    aggregate (``cluster.py``'s update shape: per-dimension sums + count,
    map-side combined, no row amplification).
    Search: each query probes its nprobe nearest centroid lists; candidates
    come from an equi-join on the cluster id; exact cosine rescore; top-k by
    sorted aggregation.  nprobe == nlist degenerates to exact brute force
    (the recall-vs-cost dial), which the tests exploit.

    Centroids live in a BROADCAST DataFrame, not the expression tree:
    assignment is a broadcast cross-join against the nlist centroid rows +
    one map-side-combined ``min_by`` shuffle (n rows).  The former
    implementation inlined every centroid as ``F.lit`` arrays —
    O(nlist·dim) expression nodes, which chokes Catalyst analysis at real
    ANN scale (nlist ≥ 4k) long before the data does.

    ``kernel="blas"``: the rescore cogroups (probing queries × assigned
    vectors) per cluster and computes each inverted list's ``Q @ V.T`` tile
    in one BLAS call, keeping only the per-cluster top-k per query (the
    global top-k over nprobe lists is a subset of the union of per-list
    top-k's), so the final merge aggregation sees ≤ q·nprobe·k rows.
    ``kernel="hof"`` is the cluster equi-join + JVM fold.
    """
    spark = emb.sparkSession
    base = with_norm(emb, vec_col).select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("v"), "_norm"
    ).cache()
    if kernel == "auto":
        # rescore work ≈ q · n · nprobe/nlist dot products (the probed
        # lists' share of the corpus per query).  n is the Catalyst plan
        # estimate (no job, r7 verdict #4); q is a count on the cached
        # training base Lloyd scans 2·iters times anyway — one cache scan,
        # not a source re-read
        dim = len(emb.select(vec_col).first()[0])
        n = _est_rows(emb, 8.0 * dim + 24)
        q = base.filter(query_pred).count()
        kernel = _resolve_kernel_work(kernel, float(q) * n * nprobe / max(nlist, 1))
    else:
        kernel = _resolve_kernel(kernel, emb)  # validation only (not auto)

    def cents_df(cents):
        return F.broadcast(local_frame(
            spark,
            [(i + 1, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cluster int, c array<double>",
        ))

    def sqdist(v):
        return F.aggregate(
            F.zip_with(v, F.col("c"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda s, d: s + d,
        )

    def assign(df, cents):
        # broadcast nlist centroid rows; keep the closest (ties → lowest
        # cluster id, deterministic).  Partial min_by collapses the nlist
        # replicas map-side, so the shuffle is n rows.
        rest = [c for c in df.columns if c != "vec_id"]
        return (
            df.crossJoin(cents_df(cents))
            .withColumn("_d", sqdist(F.col("v")))
            .groupBy("vec_id")
            .agg(F.min_by(
                F.struct(*rest, "cluster"),
                F.struct(F.col("_d"), F.col("cluster")),
            ).alias("_s"))
            .select("vec_id", "_s.*")
        )

    # deterministic init: the nlist lowest vec_ids
    cents = [r.v for r in base.orderBy("vec_id").limit(nlist).collect()]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = assign(base, cents)
        # d+1-column partial aggregate (cluster.py's update shape, r7
        # verdict #2): per-dimension sums + count combine map-side with NO
        # row amplification — the former posexplode → groupBy(cluster, pos)
        # update shuffled n·d intermediate rows per iteration
        upd = (assigned.groupBy("cluster")
               .agg(*[F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                      for i in range(dim)],
                    F.count(F.lit(1)).alias("n"))
               .collect())
        by_cluster = {int(r["cluster"]): [r[f"s{i}"] / r["n"]
                                          for i in range(dim)] for r in upd}
        cents = [by_cluster.get(i + 1, cents[i]) for i in range(nlist)]

    assigned = assign(base, cents).select("vec_id", "v", "_norm", "cluster")
    queries = (
        assigned.filter(query_pred)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                F.col("_norm").alias("qn"))
        .crossJoin(cents_df(cents))
        .withColumn("_d", sqdist(F.col("qv")))
        .groupBy("query_id")
        .agg(
            F.first("qv").alias("qv"),
            F.first("qn").alias("qn"),
            F.slice(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_d").alias("d"), F.col("cluster").alias("cl")))),
                1, nprobe,
            ).alias("_pr"),
        )
        .withColumn("cluster", F.explode(F.transform("_pr", lambda s: s["cl"])))
        .drop("_pr")
    )
    # training collects are done; release the cache.  The final (lazy) search
    # re-derives base from source — one cheap scan — instead of pinning
    # executor memory for the caller's session lifetime.
    base.unpersist()
    if kernel == "blas":
        def rescore(key, qdf: pd.DataFrame, vdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                  "vec_id": pd.Series(dtype="int64"),
                                  "cosine": pd.Series(dtype="float64")})
            if qdf.empty or vdf.empty:
                return empty
            qids = qdf["query_id"].to_numpy(dtype=np.int64)
            vids = vdf["vec_id"].to_numpy(dtype=np.int64)
            qmat = np.stack(qdf["qv"].to_numpy())
            vmat = np.stack(vdf["v"].to_numpy())
            sims = (qmat @ vmat.T) / np.outer(qdf["qn"].to_numpy(),
                                              vdf["_norm"].to_numpy())
            out = []
            for i in range(len(qids)):
                keep = vids != qids[i]
                col = sims[i][keep]
                # per-list top-k under the final merge's total order
                # (-cosine asc, vec_id asc)
                order = np.lexsort((vids[keep], -col))[:k]
                out.append(pd.DataFrame({
                    "query_id": np.full(len(order), qids[i], dtype=np.int64),
                    "vec_id": vids[keep][order], "cosine": col[order]}))
            return pd.concat(out, ignore_index=True) if out else empty

        cand = (
            queries.select("cluster", "query_id", "qv", "qn").groupBy("cluster")
            .cogroup(assigned.groupBy("cluster"))
            .applyInPandas(rescore, "query_id long, vec_id long, cosine double")
        )
    else:
        cand = (
            queries.join(assigned, on="cluster")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("_norm")))
        )
    return (
        cand.groupBy("query_id")
        .agg(F.slice(
            F.array_sort(F.collect_list(F.struct((-F.col("cosine")).alias("nc"),
                                                 F.col("vec_id").alias("nid")))),
            1, k,
        ).alias("top"))
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (F.col("pos") + 1).cast("bigint").alias("rank"),
            F.round(-F.col("t.nc"), 6).alias("cosine"),
        )
    )


def lsh_ann_topk(emb: DataFrame, query_pred, k: int = 5, nplanes: int = 12,
                 bands: int = 3, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Approximate top-k: sign signature over random hyperplanes, banded into
    buckets; candidates = share ≥1 band bucket with the query; exact cosine
    rescoring + per-query top-k via sorted-aggregation (no global window).

    Approximate recall — exposed as the scale path; correctness gate treats
    it as rows-only."""
    planes = _hyperplanes(dim, nplanes)
    r = nplanes // bands

    def sig_bits(v):
        return [
            F.when(_dot(v, F.array(*[F.lit(x) for x in p])) >= 0, 1).otherwise(0)
            for p in planes
        ]

    def band_cols(v):
        bits = sig_bits(v)
        out = []
        for bnd in range(bands):
            acc = F.lit(0)
            for j in range(r):
                acc = acc * 2 + bits[bnd * r + j]
            out.append(acc)
        return F.array(*out)

    base = with_norm(emb, vec_col).select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("v"), "_norm",
        F.posexplode(band_cols(F.col(vec_col).cast("array<double>"))).alias("band", "bucket"),
    )
    queries = base.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("_norm").alias("qn"), "band", "bucket",
    )
    cand = (
        queries.join(base, on=["band", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "vec_id", "v", "_norm")
        .withColumn("cosine", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("_norm")))
    )
    # a candidate sharing several band buckets appears once per bucket; its
    # (cosine, id) struct is bit-identical every time (same deterministic
    # expression), so collect_set dedups inside the aggregation — one shuffle
    # on query_id instead of dropDuplicates + groupBy (two)
    topk = (
        cand.groupBy("query_id")
        .agg(F.slice(
            F.array_sort(F.collect_set(F.struct((-F.col("cosine")).alias("nc"),
                                                F.col("vec_id").alias("nid")))),
            1, k,
        ).alias("top"))
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (F.col("pos") + 1).cast("bigint").alias("rank"),
            F.round(-F.col("t.nc"), 6).alias("cosine"),
        )
    )
    return topk
