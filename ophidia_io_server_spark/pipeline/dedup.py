"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of these at 100 TB):
- NO O(n²) cross joins anywhere.  Candidate pairs come from equi-joins on an
  inverted index (shared shingle), LSH band buckets, or SimHash chunks — the
  standard shuffle-bounded shapes.
- Every probabilistic candidate set is VERIFIED with the exact n-gram Jaccard
  before emission, so MinHash/SimHash outputs are exact-equal to the exact
  operator whenever recall is perfect (which banding parameters guarantee for
  well-separated corpora) — that is what lets the DuckDB oracle check them.
- Exact Jaccard pairs are computed by co-count algebra (|A∩B| from the index
  join, |A∪B| = |A|+|B|-|A∩B|), never by shipping shingle sets around.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.pipeline.text import tokens_col
from ophidia_io_server_spark.session import session_memo
from ophidia_io_server_spark.sources.tables import spread


def _rx_literal(s: str) -> str:
    """Quote a string for literal matching inside a Java regex (what
    ``java.util.regex.Pattern.quote`` does): wrap in \\Q..\\E, splicing any
    embedded \\E so it cannot terminate the quote early."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


# -- exact ------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content hash with the
    representative (minimum) doc_id and the duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )


def canonical_text_col(text):
    """Canonicalization before hashing (the CCNet/near-web-dedup practice):
    lowercase, strip everything but letters/digits/whitespace, collapse
    whitespace runs, trim.  Exact dedup over the canonical form catches
    case/punctuation/spacing variants of the same content that byte-exact
    hashing misses — mirrored 1:1 in the SQL oracle."""
    c = F.lower(text)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_duplicates_canonical(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``exact_duplicates`` over the canonicalized text: one row per distinct
    canonical form with the representative doc and the variant count."""
    return (
        docs.groupBy(F.md5(canonical_text_col(F.col(text_col)))
                     .alias("canonical_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )


# -- shingling ---------------------------------------------------------------


def shingle_df(docs: DataFrame, n: int = 3, text_col: str = "text",
               memo_key: tuple | None = None) -> DataFrame:
    """(doc_id, shingles: array<string> distinct word n-grams, nsh).

    ``memo_key`` is the ``table_ident`` of the table ``docs`` covers (or
    is row-identical to), e.g. ``table_ident(sf_dir, "documents")``.  It
    opts into an explicit Spark-cached memo shared across calls in the
    session (``session_memo``, keyed by the table's path and rebuilt when
    its size or mtime change) — relying on the CacheManager's plan-identity
    dedup across separately-built DataFrames proved flaky, and shingling is
    the dominant dedup cost (import-once-query-many, like the fragment
    store)."""
    if memo_key is not None:
        return session_memo(
            docs.sparkSession, ("shingle_df", memo_key[0], n, text_col),
            lambda: shingle_df(docs, n, text_col).cache(), ident=memo_key)
    toks = tokens_col(F.col(text_col))
    # sequence(1, 0) is DESCENDING ([1, 0]) and element_at(_, 0) throws, so
    # clamp the end to 1 and blank short docs with the outer when()
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    sh = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        )
    )
    sh = F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))
    return spread(docs).select("doc_id", sh.alias("shingles")).withColumn(
        "nsh", F.size("shingles").cast("bigint")
    )


def _pairs_from_index(sh: DataFrame, max_doc_freq: float | None = None) -> DataFrame:
    """Inverted-index candidate pairs with intersection counts.

    explode → self equi-join on shingle → count per (a,b).  Shuffles on the
    shingle key (skew-prone for stop-shingles; AQE skew-join splits those),
    then on the pair key for the count — both bounded by index size, never n².

    ``max_doc_freq``: skew guard — drop shingles present in more than this
    fraction of documents (stop-shingles produce quadratic bucket blowup
    while contributing almost no Jaccard discrimination).  With it on,
    intersection counts are a LOWER BOUND (capped shingles aren't counted),
    so callers that need exact Jaccard must re-verify candidates against the
    full shingle sets — ``jaccard_pairs_exact`` does exactly that.
    """
    inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
    if max_doc_freq is not None:
        ndocs = sh.count()
        cap = int(max_doc_freq * ndocs)
        keep = (
            inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= cap).select("sh")
        )
        inv = inv.join(F.broadcast(keep), on="sh")
    a = inv.alias("a")
    b = inv.alias("b")
    return (
        a.join(b, on="sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )


def jaccard_pairs_exact(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", memo_key: tuple | None = None,
                        max_doc_freq: float | None = 0.2) -> DataFrame:
    """All pairs with distinct-n-gram Jaccard ≥ threshold.

    The skew guard is ON by default (``max_doc_freq=0.2``): stop-shingles —
    present in more than that fraction of documents — are dropped from the
    inverted index, so no index bucket can exceed 0.2·n docs and the
    candidate join stays shuffle-bounded at web scale (AQE skew-join splits
    what remains).  Exactness is preserved by the verify step: candidate
    pairs are re-scored against the FULL shingle sets (array_intersect), so
    the capped index only gates candidate GENERATION.  Near-dup pairs above
    any useful threshold share many shingles, the overwhelming majority
    non-stop, so recall is unaffected in practice (a pair whose every shared
    shingle is a stop-shingle is indistinguishable from background overlap).
    Pass ``max_doc_freq=None`` for the uncapped exact-count path (no verify
    join needed — the index intersection count is already exact)."""
    sh = shingle_df(docs, n, text_col, memo_key=memo_key)
    if memo_key is None:
        sh = sh.cache()
    pairs = _pairs_from_index(sh, max_doc_freq=max_doc_freq)
    if max_doc_freq is None:
        sizes = sh.select("doc_id", "nsh")
        return (
            pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), "doc_b")
            .withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        )
    return _verify_pairs(pairs.select("doc_a", "doc_b"), sh, threshold)


# -- cluster resolution ------------------------------------------------------


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id, cluster_id)``
    with ``cluster_id`` = the minimum doc_id reachable through the pair graph.

    Pair emission is only half of deduplication: near-duplicate relations are
    not transitive per-pair (A~B, B~C), so the keep/drop decision needs the
    transitive closure.  Min-label propagation: every node starts labelled
    with itself; each round a node takes the minimum label among itself and
    its neighbours; fixpoint = component minimum.

    Scale shape: each round is one equi-join on the edge list plus a groupBy
    on node id — the same shuffle-bounded pattern at any corpus size, and
    rounds needed = graph diameter.  LSH/minhash dup clusters are
    near-cliques (diameter ≤ ~3 in practice), so this converges in a handful
    of rounds; ``max_iter`` is a backstop that raises rather than returning a
    half-merged clustering.  Labels are ``localCheckpoint``-ed each round to
    keep lineage flat across the loop.  Only documents that appear in at
    least one pair are returned — callers treat absent docs as singletons.
    """
    # Pin the edge list: it is joined once per round, and without the
    # checkpoint every round re-executes the caller's whole pair
    # pipeline (LSH banding, PassJoin probes, ...) — the same
    # recompute-per-consumer trap dup_clusters_star already guards
    # against.  Edges are pair-count-bounded, tiny next to the corpus.
    from ophidia_io_server_spark.pin import pinned

    # lazy pins (r13 opt): round 1's convergence count is the first
    # action and materializes BOTH the edge blocks and the label-init
    # blocks as part of its job — the eager variants ran two extra
    # fixed-cost jobs per call before the loop even started (on
    # near-clique graphs the loop is 3-5 rounds of mostly job-launch
    # overhead, so two jobs are a measurable slice).  Once materialized
    # by that first action the blocks are reused by every later round,
    # exactly as before.
    edges = pinned(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))),
        "CC edge list: joined once per label-propagation round",
        eager=False,
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        # fold the convergence signal into the label row (min-label only
        # ever DECREASES, so `new < old` detects change) — the changed
        # count then scans the just-checkpointed local blocks instead of
        # re-joining old vs new labels, halving the per-round fixed job
        # cost that dominated entity resolution on small graphs (r8
        # verdict #6)
        nl = F.least(F.col("label"), F.coalesce("nbr_label", "label"))
        # lazy checkpoint: the convergence count right below materializes
        # the blocks, so each round runs ONE action (count) instead of two
        # (eager checkpoint + count) — at gate scale the per-round job
        # floor IS the operator's cost
        new_labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select("doc_id", nl.alias("label"),
                    (nl < F.col("label")).alias("_chg"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where("_chg").count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds — the pair graph "
        "has a longer path than expected; raise max_iter"
    )


def resolve_duplicates(docs: DataFrame, pairs: DataFrame,
                       quality_col: str | None = None,
                       max_iter: int = 25, method: str = "min_label") -> DataFrame:
    """Full near-dup resolution: docs + pairs → every document labelled with
    its duplicate cluster and a canonical-keeper flag.

    Adds ``cluster_id`` (component min doc_id; singletons label themselves),
    ``cluster_size``, and ``is_canonical`` — true for exactly one document
    per cluster: the highest ``quality_col`` (ties → lowest doc_id), or the
    lowest doc_id when no quality column is given.  Filtering
    ``is_canonical`` implements keep-best dedup; the non-canonical rows keep
    their cluster_id for provenance.

    ``method``: ``"min_label"`` (rounds = graph diameter; right for LSH
    near-cliques) or ``"star"`` (large-star/small-star contraction,
    O(log² n) rounds regardless of diameter — the robust choice when the
    duplicate graph's shape is unknown).
    """
    from pyspark.sql import Window

    if method not in ("min_label", "star"):
        raise ValueError(f"unknown CC method {method!r}: use 'min_label' or 'star'")
    cc = dup_clusters if method == "min_label" else dup_clusters_star
    clusters = cc(pairs, max_iter=max_iter)
    labelled = (
        docs.join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    order = [F.col(quality_col).desc()] if quality_col else []
    w = Window.partitionBy("cluster_id").orderBy(*order, F.col("doc_id"))
    return (
        labelled.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("bigint"),
        )
        .withColumn("is_canonical", F.row_number().over(w) == 1)
    )


# -- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(sh: DataFrame, num_hashes: int = 64) -> DataFrame:
    """num_hashes min-hashes per doc, h_i(s) = xxhash64(i, s), as one array.

    Pure Column math over the shingle array — no UDF, no shuffle.  Shape:
    ONE traversal of the shingle array folding a 64-slot running-min
    accumulator (aggregate + zip_with(least)), not 64 separate
    array_min(transform(...)) passes — the values are identical (min per
    hash slot over the same xxhash64(i, s) grid), but the single-fold
    expression tree is ~4x smaller, which halves the per-PLAN fixed cost
    (driver-side analysis + codegen of the wide expression).  That fixed
    cost is what a streaming caller pays PER MICRO-BATCH: the r8
    stream_minhash_incremental regression bisected to ~0.95 s/batch spent
    in this projection regardless of batch size (10 docs cost the same as
    5000 — measured r9); the fold form cuts it to ~0.5 s."""
    per = F.transform(
        "shingles",
        lambda s: F.array(*[F.xxhash64(F.lit(i), s) for i in range(num_hashes)]))
    sig = F.aggregate(
        per, F.array_repeat(F.lit((1 << 63) - 1), num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)))
    return sh.select("doc_id", "shingles", "nsh", sig.alias("sig"))


def _band_rows(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc_id, band, bucket): one row per LSH band, bucket = hash of the
    band's r signature slots."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.xxhash64(*[F.element_at("sig", b * r + j + 1) for j in range(r)])
                for b in range(bands)
            ])
        ).alias("band", "bucket"),
    )


def _verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    the full shingle sets — the step that makes every probabilistic
    candidate generator exact-equal to the brute-force operator."""
    left = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"),
                     F.col("nsh").alias("na"))
    right = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"),
                      F.col("nsh").alias("nb"))
    return (
        cand.join(left, "doc_a")
        .join(right, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
        .withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                      num_hashes: int = 64, bands: int = 16,
                      text_col: str = "text", memo_key: tuple | None = None) -> DataFrame:
    """MinHash → LSH banding → candidate equi-join → EXACT Jaccard verify.

    With r = num_hashes/bands rows per band, P[candidate | j] =
    1-(1-j^r)^bands; at r=4, bands=16, j=0.9 → ~1-3e-8: recall is effectively
    exact above the threshold, so the verified output equals
    jaccard_pairs_exact on separated corpora."""
    r = num_hashes // bands
    # cache the shingle table once (binding the signature, banding, and
    # verify stages); signatures themselves are consumed exactly once by the
    # banding, so caching them would only pay serialization for nothing
    sh = shingle_df(docs, n, text_col, memo_key=memo_key)
    if memo_key is None:
        sh = sh.cache()
    band_rows = _band_rows(minhash_signatures(sh, num_hashes), bands, r)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, sh, threshold)


def minhash_lsh_pairs_incremental(
    old_docs: DataFrame, new_docs: DataFrame, n: int = 3,
    threshold: float = 0.5, num_hashes: int = 64, bands: int = 16,
    text_col: str = "text", memo_key: tuple | None = None,
) -> DataFrame:
    """Continuous-ingestion near-dup detection: all pairs ≥ threshold that
    INVOLVE a new document (new↔old and new↔new), without re-running the
    all-pairs band join over the existing corpus.

    The candidate join is new_bands ⋈ all_bands on (band, bucket) — its
    cost is |new|·bands probe rows against the corpus band index, not the
    corpus self-join.  In production the old side's signatures/band table
    is the thing you PERSIST between ingestion batches (signatures are
    per-doc deterministic, so incremental banding agrees with a fresh
    run); here the old bands are rebuilt from the docs, which changes cost
    but not results.  Doc ids must be disjoint across the two frames.

    Invariant (tested + gate-oracled): output ==
    ``minhash_lsh_pairs(old ∪ new)`` restricted to pairs touching a new
    doc — banding is per-doc, so a pair's candidacy never depends on which
    batch its members arrived in."""
    r = num_hashes // bands
    all_docs = old_docs.select("doc_id", text_col).unionByName(
        new_docs.select("doc_id", text_col))
    sh = shingle_df(all_docs, n, text_col, memo_key=memo_key)
    if memo_key is None:
        sh = sh.cache()
    all_bands = _band_rows(minhash_signatures(sh, num_hashes), bands, r)
    new_ids = new_docs.select("doc_id").distinct()
    new_bands = all_bands.join(new_ids, on="doc_id", how="left_semi")
    a = new_bands.alias("a")
    b = all_bands.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_pairs(cand, sh, threshold)


# -- SimHash ----------------------------------------------------------------


def simhash_df(docs: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc, computed JVM-side:
    explode tokens → xxhash64 → per-bit ±count aggregate → pack bits."""
    toks = spread(docs).select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("w"))
    hashed = toks.select("doc_id", F.xxhash64("w").alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for i in range(bits):
        # bit 63 is the sign bit of the packed signed long
        weight = -(1 << 63) if i == 63 else (1 << i)
        term = F.when(F.col(f"b{i}") > 0, F.lit(weight).cast("bigint")).otherwise(0)
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))


def _hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(docs: DataFrame, max_hamming: int = 7, text_col: str = "text",
                  verify_jaccard: float | None = 0.5, shingle_n: int = 3,
                  n_chunks: int = 8, memo_key: tuple | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit hash into n_chunks equal
    chunks (pigeonhole: hamming ≤ n_chunks-1 ⇒ at least one chunk identical,
    so candidate recall is EXACT up to max_hamming = n_chunks-1), equi-join on
    chunks for candidates, filter exact hamming, optionally verify with exact
    n-gram Jaccard so the output is oracle-checkable."""
    if max_hamming > n_chunks - 1:
        raise ValueError("banding guarantees recall only for max_hamming <= n_chunks-1")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sh = simhash_df(docs, text_col)
    chunks = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), width * c).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ])).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, on=["chunk_idx", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    if verify_jaccard is None:
        return cand
    shd = shingle_df(docs, shingle_n, text_col, memo_key=memo_key)
    if memo_key is None:
        shd = shd.cache()
    left = shd.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"),
                      F.col("nsh").alias("na"))
    right = shd.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"),
                       F.col("nsh").alias("nb"))
    return (
        cand.join(left, "doc_a")
        .join(right, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
        .withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
        .where(F.col("jaccard") >= verify_jaccard)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- exact-substring span dedup ---------------------------------------------


def _dup_window_base(docs: DataFrame, window: int, text_col: str,
                     with_tokens: bool) -> DataFrame:
    """(doc_id[, n_tokens], pos, h): every ``window``-token sliding window as
    an xxhash64 key — the shared base of the span REPORT and the span CUT
    (one construction, so the two can never desynchronize).  NULL/short
    texts produce no windows (size(NULL tokens) is -1 under ANSI-off and
    fails the >= window guard)."""
    toks = tokens_col(F.col(text_col))
    cols = ["doc_id"]
    if with_tokens:
        cols.append(F.size("ws").cast("bigint").alias("n_tokens"))
    return (
        spread(docs)
        .select("doc_id", toks.alias("ws"))
        .where(F.size("ws") >= window)
        .select(
            *cols,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (window - 1)),
                    lambda i: F.xxhash64(F.concat_ws(
                        " ", *[F.element_at(F.col("ws"), (i + j).cast("int"))
                               for j in range(window)])),
                )
            ).alias("pos", "h"),
        )
    )


def _merge_spans(hits: DataFrame, window: int):
    """Gaps-and-islands merge of duplicated windows into maximal per-doc
    spans: returns the grouped-by-(doc_id, grp) DataFrame builder — a window
    starts a new span iff it begins strictly after every earlier window's
    (exclusive) end.  One doc_id exchange serves both window functions and
    the downstream groupBys."""
    from pyspark.sql import Window

    w_prev = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("prev_end", F.max(F.col("pos") + window).over(w_prev))
        .withColumn("new_span",
                    (F.col("pos") > F.coalesce("prev_end", F.lit(-1))).cast("int"))
        .withColumn("grp", F.sum("new_span").over(w_run))
    )


def duplicate_spans(docs: DataFrame, window: int = 8, text_col: str = "text",
                    min_count: int = 2) -> DataFrame:
    """Exact-substring duplication report (the ExactSubstr method of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    re-expressed in shuffle-bounded Spark instead of a global suffix array):
    every ``window``-token sliding window whose exact text occurs at least
    ``min_count`` times corpus-wide marks a duplicated region; per document,
    overlapping/adjacent duplicated windows are merged into maximal spans
    (gaps-and-islands with window functions).

    One row per document containing >=1 duplicated window:
      ``doc_id, n_tokens, dup_windows, n_spans, dup_tokens, dup_frac``
    where ``dup_tokens`` is the token count covered by the merged spans —
    the amount ExactSubstr would cut from the doc.

    Scale shape (100 TB):
      - windows are shuffled as 8-byte ``xxhash64`` keys, never as strings
        (collision odds over 1e13 windows ~ 1e-6 per corpus — the price of
        not building a distributed suffix array);
      - global counts via ``groupBy(h)`` get map-side partial aggregation,
        and the join-back reuses the hash partitioning on the agg side while
        AQE skew-join splits hot boilerplate windows;
      - span merge is two window functions + two groupBys all keyed on
        ``doc_id`` — a single exchange, per-doc state only.
    """
    base = _dup_window_base(docs, window, text_col, with_tokens=True)
    dup = (
        base.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("h")
    )
    spans = (
        _merge_spans(base.join(dup, "h"), window)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("wins"),
            (F.max("pos") + window - F.min("pos")).alias("span_len"),
        )
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.min("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("wins").cast("bigint").alias("dup_windows"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_len").cast("bigint").alias("dup_tokens"),
        )
        .withColumn("dup_frac", F.round(F.col("dup_tokens") / F.col("n_tokens"), 4))
    )


def dup_clusters_star(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    same output contract as ``dup_clusters`` (``doc_id, cluster_id`` =
    component-minimum doc_id, only for documents appearing in a pair).

    Why a second algorithm: min-label propagation needs rounds = graph
    DIAMETER, which is fine for LSH near-cliques (≤3) but degrades on
    chain-shaped duplicate graphs (A~B~C~... from sliding near-dup windows,
    template families, crawl mirrors-of-mirrors).  Star contraction converges
    in O(log² n) rounds REGARDLESS of diameter, so it is the robust default
    when the pair graph's shape is unknown at 100 TB.

    Each round is two groupBy+join passes over the edge list (strictly
    shuffle-bounded; edges only ever point to smaller ids, so the edge count
    never grows beyond the input after round 1).  Convergence is detected by
    an order-independent (count, xxhash64-sum) checksum of the edge set —
    one tiny aggregate per round, no edge-set diff join.  Raises rather than
    returning a half-contracted clustering if ``max_iter`` is hit.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("a", "b")), F.lit(0)).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    prev = _checksum(edges)
    for _ in range(max_iter):
        # large-star: every neighbour v > u links to min(N(u) ∪ {u})
        both = edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = both.groupBy("a").agg(F.min("b").alias("mb"))
        large = (
            both.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.least("a", "mb").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: neighbours v ≤ u (and u itself) link to min(N⁻(u) ∪ {u})
        small_in = large.select(F.greatest("a", "b").alias("a"),
                                F.least("a", "b").alias("b"))
        mins2 = small_in.groupBy("a").agg(F.min("b").alias("mb"))
        edges = (
            small_in.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("mb").alias("b"))
            .union(mins2.select(F.col("a"), F.col("mb").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _checksum(edges)
        if cur == prev:
            roots = edges.select(F.col("b").alias("doc_id")).distinct()
            return (
                edges.select(F.col("a").alias("doc_id"),
                             F.col("b").alias("cluster_id"))
                .union(roots.select("doc_id", F.col("doc_id").alias("cluster_id")))
                .distinct()
            )
        prev = cur
    raise RuntimeError(
        f"dup_clusters_star did not converge in {max_iter} rounds — "
        "pathological edge set; raise max_iter"
    )


def remove_duplicate_spans(docs: DataFrame, window: int = 8,
                           text_col: str = "text", min_count: int = 2,
                           keep_in_min_doc: bool = True) -> DataFrame:
    """Apply ExactSubstr dedup: cut every duplicated span (as defined by
    ``duplicate_spans`` — both are built from the same ``_dup_window_base``
    and ``_merge_spans`` helpers, so report and cut cannot desynchronize)
    out of the corpus text.

    ``keep_in_min_doc=True`` (default) preserves ONE occurrence of each
    duplicated region: a window is only marked for removal if it is not the
    corpus-wide canonical occurrence (minimum ``(doc_id, pos)`` among its
    duplicates) — computed with ``min`` inside the same groupBy that counts
    occurrences, so canonicalization costs no extra shuffle.  With
    ``False`` every occurrence is cut (Lee et al.'s simpler variant).

    Returns all input columns with ``text`` replaced by the cleaned text
    plus ``n_tokens, dup_tokens, text_clean`` metadata (raises if the input
    already carries those columns — silently overwriting caller data is the
    failure mode ``pack_*`` also refuses).  NULL text stays NULL in
    ``text_clean`` with 0 counts.  Token-level cut: the cleaned text is the
    space-join of tokens outside every removed span — whitespace runs are
    normalized, the documented divergence from byte-level cutting.

    Scale: same two shuffles as ``duplicate_spans`` plus one groupBy(doc_id)
    to collect span structs (few per doc) and one join back to the docs
    table on doc_id; the per-token span test is an ``exists`` over the
    doc's own span array (spans per doc ≪ tokens per doc).
    """
    clash = {"n_tokens", "dup_tokens", "text_clean", "spans"} & set(docs.columns)
    if clash:
        raise ValueError(
            f"remove_duplicate_spans would overwrite input columns {sorted(clash)}; "
            "rename them first")
    base = _dup_window_base(docs, window, text_col, with_tokens=False)
    stats = base.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("keeper"),
    ).where(F.col("cnt") >= min_count)
    hits = base.join(stats, "h")
    if keep_in_min_doc:
        hits = hits.where(
            (F.col("doc_id") != F.col("keeper.doc_id"))
            | (F.col("pos") != F.col("keeper.pos")))
    spans = (
        _merge_spans(hits, window)
        .groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("s"), (F.max("pos") + window).alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    with_spans = docs.join(spans, "doc_id", "left")
    text = F.col(text_col)
    ws = tokens_col(text)
    kept = F.filter(
        F.zip_with(ws, F.sequence(F.lit(0), F.greatest(F.size(ws), F.lit(1)) - 1),
                   lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda p: ~F.exists(
            F.coalesce("spans", F.array().cast("array<struct<s:int,e:int>>")),
            lambda sp: (p["i"] >= sp["s"]) & (p["i"] < sp["e"]),
        ),
    )
    cleaned = F.concat_ws(" ", F.transform(kept, lambda p: p["t"]))
    return with_spans.withColumn(
        "n_tokens",
        F.when(text.isNull(), F.lit(0)).otherwise(F.size(ws)).cast("bigint"),
    ).withColumn(
        "dup_tokens",
        F.coalesce(
            F.aggregate("spans", F.lit(0),
                        lambda a, sp: a + (sp["e"] - sp["s"])),
            F.lit(0)).cast("bigint"),
    ).withColumn(
        "text_clean",
        F.when(text.isNull(), F.lit(None).cast("string")).otherwise(cleaned),
    ).drop("spans")


def remove_duplicate_paragraphs(docs: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", min_count: int = 2,
                                keep_canonical: bool = True,
                                sep: str = "\n") -> DataFrame:
    """Paragraph-granularity dedup (the CCNet/C4 boilerplate-line remover):
    drop any paragraph whose text occurs ≥ ``min_count`` times across the
    corpus, keeping — with ``keep_canonical`` — its single canonical
    occurrence (lowest (doc_id, position), the same keeper rule as
    ``remove_duplicate_spans``).

    Returns (id_col, text_cleaned, n_paragraphs, n_removed).  Documents
    whose paragraphs are all removed survive with empty text (the caller
    decides whether to drop them); NULL-text documents survive with NULL
    ``text_cleaned`` and zero counts (same contract as
    ``remove_duplicate_spans``).  Blank/whitespace-only paragraphs are
    never treated as duplicates — removing "all empty lines but one,
    corpus-wide" would mangle formatting for no dedup value.  ``sep`` is
    taken LITERALLY (quoted before it reaches the regex-based split).

    Scale shape: one explode → one groupBy(paragraph) with a ``min_by``
    canonical (map-side combined; the count table is the distinct-
    paragraph set, the standard CCNet working set) → broadcast-or-shuffle
    equi-join back → one groupBy(doc) rebuild.  Everything JVM."""
    paras = docs.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("_was_null"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             _rx_literal(sep)))
        .alias("idx", "para"))
    meaningful = F.trim(F.col("para")) != ""
    counts = (
        paras.where(meaningful)
        .groupBy("para")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
             F.min(F.struct(F.col(id_col).alias("d"),
                            F.col("idx").alias("i"))).alias("canon"))
    )
    tagged = paras.join(counts, on="para", how="left")
    is_canon = (F.col(f"canon.d") == F.col(id_col)) & (F.col("canon.i") == F.col("idx"))
    keep = (
        F.col("cnt").isNull()                      # blank paragraph
        | (F.col("cnt") < min_count)
        | (F.lit(keep_canonical) & is_canon)
    )
    kept = tagged.withColumn("_keep", keep)
    was_null = F.first("_was_null").alias("_was_null")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(
                F.struct("idx", F.col("para"), F.col("_keep")))).alias("ps"),
            was_null,
        )
        .select(
            id_col,
            F.when(F.col("_was_null"), F.lit(None).cast("string"))
             .otherwise(F.array_join(
                 F.transform(F.filter("ps", lambda p: p["_keep"]),
                             lambda p: p["para"]), sep)).alias("text_cleaned"),
            F.when(F.col("_was_null"), F.lit(0)).otherwise(F.size("ps"))
             .cast("bigint").alias("n_paragraphs"),
            F.when(F.col("_was_null"), F.lit(0))
             .otherwise(F.size(F.filter("ps", lambda p: ~p["_keep"])))
             .cast("bigint").alias("n_removed"),
        )
    )


def longest_duplicate_match(docs: DataFrame, min_len: int = 8,
                            max_match: int = 32, text_col: str = "text",
                            id_col: str = "doc_id",
                            partitions: int | None = None) -> DataFrame:
    """Variable-length ExactSubstr: per document, the length of the LONGEST
    token substring that occurs at ≥2 distinct (doc, pos) sites corpus-wide
    — the repeat-structure report Lee et al. 2022 derive from a suffix
    array, where ``duplicate_spans``/``remove_duplicate_spans`` only need
    the fixed-window form.

    Why fixed windows already suffice for CUTTING (and this operator is a
    report, not a replacement): position coverage is provably identical —
    a token position lies inside SOME duplicated substring of length ≥ L
    iff it lies inside a duplicated L-window (⇒: any length-≥L duplicate
    containing the position contains an L-sub-window over it, itself
    duplicated; ⇐: a duplicated L-window IS a duplicated substring of
    length ≥ L).  What fixed windows cannot tell is HOW LONG the repeated
    run is; this operator answers that exactly.

    Algorithm (suffix-array-free, shuffle-bounded): the classic suffix-
    array fact that a suffix's best match is one of its two neighbors in
    suffix-sorted order still holds under hash-sequence order (suffixes
    sharing an m-token prefix share the first m hash values, and a
    lexicographic interval between two such suffixes shares them too), so:
      1. per doc, token xxhash64 arrays — built row-locally, no shuffle;
      2. one position-explode with the suffix's first ``max_match`` hashes
         as an array sort key;
      3. ONE hash exchange on an order-consistent bucket (the top bits of
         the first hash — uniform AND monotone in the array sort order, so
         bucket b's keys all precede bucket b+1's) + a per-bucket sort =
         the global suffix sort without repartitionByRange's extra
         boundary-sampling scan; in-bucket neighbors via lead(), the
         ≤ #buckets cross-bucket boundary pairs via a bounded
         first/last-row join;
      4. neighbor LCP = first mismatch position of the zipped hash arrays
         (pure column math, no join);
      5. L(pos) = max over the ≤2 neighbor pairs; per-doc aggregate.
    Matches longer than ``max_match`` report as ``max_match`` with
    ``capped = true`` (raise the cap, or accept "≥ cap" — Lee et al. cut
    at 50 tokens, far below any sane cap).  Cost: the sort key inflates
    each position to ≤ max_match hashes — an explicit, bounded ×cap blowup
    instead of the suffix array's log-rounds of global sorts; the default
    cap is 32 (the one exchange ships ≤ 32× the corpus token volume —
    r6 verdict: 128 made that exchange dominate everything at 100 TB),
    pick max_match just above the report horizon, or use the UNCAPPED
    ``longest_match_report_sa`` (constant-width exchanges) when the
    horizon is unknown.  Hash collisions over
    64-bit keys are the same accepted risk as the window hashing above.

    Returns (id_col, n_tokens, max_dup_len, n_dup_starts, capped) for docs
    whose longest duplicated substring is ≥ ``min_len``; ``n_dup_starts``
    counts positions whose longest match is ≥ ``min_len`` (equal to the
    fixed-window duplicate START set at window = min_len — the
    cross-algorithm invariant the tests assert).  Differential vs a
    Python suffix-automaton reference in tests/test_dedup_varlen.py."""
    from pyspark.sql import Window

    toks = (
        spread(docs)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("ws"))
        .where(F.size("ws") >= 1)
        .select(
            id_col,
            F.size("ws").cast("bigint").alias("n_tokens"),
            F.transform("ws", lambda w: F.xxhash64(w)).alias("ha"),
        )
    )
    pos = toks.select(
        id_col, "n_tokens",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("ha")),
            lambda i: F.slice("ha", i, max_match),
        )).alias("p0", "key"),
    ).select(
        id_col, "n_tokens", (F.col("p0") + 1).cast("bigint").alias("pos"), "key",
    )
    # order-consistent bucket: arithmetic shift keeps the SIGNED order of
    # key[0], which is what array<long> lexicographic comparison uses —
    # every key in bucket b sorts before every key in bucket b+1, and
    # xxhash64 uniformity balances bucket sizes.  8 top bits → 256 buckets;
    # scale `bucket_bits` with cluster parallelism.
    bucket_bits = 8
    aug = pos.withColumn(
        "bkt", F.shiftright(F.element_at("key", 1), 64 - bucket_bits).cast("int"))
    wp = Window.partitionBy("bkt").orderBy("key")
    inner = (
        aug.select(
            id_col, "pos", "n_tokens", "key",
            F.lead(id_col).over(wp).alias("b_doc"),
            F.lead("pos").over(wp).alias("b_pos"),
            F.lead("n_tokens").over(wp).alias("b_n"),
            F.lead("key").over(wp).alias("b_key"),
        )
        .where(F.col("b_key").isNotNull())
    )
    # cross-bucket neighbor pairs: bucket b's last row pairs with the first
    # row of the nearest non-empty later bucket.  first/last come from a
    # bkt-keyed AGGREGATE (not a filter of the window output) so Catalyst
    # reuses the window's hash exchange instead of recomputing the sorted
    # stream; the result is ≤ #buckets rows and the pairing join trivial.
    edge = F.struct("key", F.col(id_col).alias("d"), F.col("pos").alias("p"),
                    F.col("n_tokens").alias("n"))
    bounds = aug.groupBy("bkt").agg(
        F.min_by(edge, F.col("key")).alias("first"),
        F.max_by(edge, F.col("key")).alias("last"),
    )
    nxt = bounds.select(F.col("bkt").alias("f_bkt"), F.col("first").alias("f"))
    boundary = (
        bounds.select("bkt", "last")
        .join(nxt, F.col("f_bkt") > F.col("bkt"))
        .groupBy("bkt")
        .agg(F.first("last").alias("last"),
             F.min_by("f", F.col("f_bkt")).alias("nxt"))
        .select(
            F.col("last.d").alias(id_col), F.col("last.p").alias("pos"),
            F.col("last.n").alias("n_tokens"), F.col("last.key").alias("key"),
            F.col("nxt.d").alias("b_doc"), F.col("nxt.p").alias("b_pos"),
            F.col("nxt.n").alias("b_n"), F.col("nxt.key").alias("b_key"),
        )
    )
    pairs = inner.unionByName(boundary)
    zipped = F.zip_with("key", "b_key", lambda x, y: F.coalesce(x == y, F.lit(False)))
    miss = F.array_position(zipped, F.lit(False))
    lcp = (F.when(miss > 0, miss - 1).otherwise(F.size(zipped))).cast("bigint")
    # each endpoint carries its own doc's n_tokens through the explode, so
    # the final report needs NO join back to the token stream (which would
    # replay the whole tokenize+hash corpus scan a second time)
    both = pairs.withColumn("lcp", lcp).select(
        F.explode(F.array(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"),
                     F.col("n_tokens").alias("n"), "lcp"),
            F.struct(F.col("b_doc").alias("d"), F.col("b_pos").alias("p"),
                     F.col("b_n").alias("n"), "lcp"),
        )).alias("e")
    ).select(F.col("e.d").alias(id_col), F.col("e.p").alias("pos"),
             F.col("e.n").alias("n_tokens"), F.col("e.lcp").alias("lcp"))
    per_pos = both.groupBy(id_col, "pos").agg(
        F.max("lcp").alias("L"), F.first("n_tokens").alias("n_tokens"))
    return (
        per_pos.where(F.col("L") >= min_len)
        .groupBy(id_col)
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.max("L").cast("bigint").alias("max_dup_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_starts"),
        )
        .select(id_col, "n_tokens", "max_dup_len", "n_dup_starts",
                (F.col("max_dup_len") >= max_match).alias("capped"))
    )


# Base width for the Manber-Myers doubling: rank slice(pos, W) token arrays
# directly instead of single tokens, killing log2(W) doubling rounds.  The
# crossover was measured (PERF.md r8): 16 beats 8 (one fewer corpus-wide
# exchange in construction and one fewer probe round in the LCP descent;
# the wider base-exchange payload is noise at both sf0.1 and 100×).
_SA_BASE_WIDTH = 16


def suffix_array_ranks(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       partitions: int | None = None,
                       return_rounds: bool = False):
    """Distributed suffix array over the tokenized corpus — genuine
    Manber-Myers rank doubling (the structure Lee et al. 2022 build for
    ExactSubstr), with NO hashing anywhere: suffixes are ordered by true
    token-lexicographic comparison, so the result is exact, collision-free
    and uncapped (the complement to ``longest_duplicate_match``'s
    hash-keyed, cap-bounded fast path).

    Returns (id_col, pos, rank): a DENSE 1-based rank over all corpus
    suffixes (suffix = tokens from ``pos`` to the end of its document;
    a shorter suffix sorts before any suffix it prefixes, the end-sentinel
    convention).  Identical suffixes in different documents share a rank.

    Algorithm: rank_0 = global dense rank of single tokens (string order);
    round j doubles the compared prefix — each position pairs its current
    rank with the rank at ``pos + 2^(j-1)`` (0-sentinel past the doc end)
    and the pair is re-ranked.  Positions are DENSE 1..n per document, so
    the classic self-equi-join on (doc, pos+2^j) is just
    ``lead(rank, 2^j)`` over the per-doc position window — one exchange
    per round (by doc) instead of three (two join sides + the range
    exchange), then ``global_dense_rank`` (range exchange + bounded
    offset summary — ``operators/ranking.py``); ⌈log2 maxlen⌉ rounds with
    early exit once all ranks are distinct.  Round state rides
    ``global_dense_rank``'s own internal checkpoint — no extra
    materialization per round.

    With ``return_rounds=True`` returns ``(final, lengths, rounds,
    base_keys)``: ``lengths`` = (id_col, n_tokens) per doc, ``rounds`` =
    the list of ``(width, rank_df)`` checkpoints from every doubling round
    (rank_df ranks suffixes by their first ``width`` tokens), and
    ``base_keys`` = (id_col, pos, key) with the base-width token slice at
    every position — a PROJECTION of the base round's existing checkpoint,
    so consumers resolving the sub-base LCP residual by direct slice
    comparison read checkpoint blocks instead of re-tokenizing the corpus
    (r7 verdict #2).  The rounds are the free by-product that makes exact
    UNCAPPED neighbor LCPs computable in ⌈log₂ lcp⌉ constant-width probes
    (``longest_match_report_sa``)."""
    from ophidia_io_server_spark.operators.ranking import global_dense_rank

    toks = (
        spread(docs)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("ws"))
        .where(F.size("ws") >= 1)
    )
    agg = toks.agg(F.max(F.size("ws")).alias("mx"),
                   F.sum(F.size("ws")).alias("tot")).collect()[0]
    maxlen, total = agg["mx"] or 0, agg["tot"] or 0
    from pyspark.sql import Window

    # Base rank at width 16, not 1: rank the slice(pos, 16) token arrays
    # directly (array sort order IS the suffix order with the
    # end-sentinel convention — a shorter slice sorts before anything it
    # prefixes).  This removes FOUR doubling rounds (widths 1→2→4→8→16);
    # at the gate/bench corpus each round is ~1 s of fixed per-round
    # overhead, and at 100 TB each is a full corpus exchange.  The ×16
    # key payload in this one exchange is the same order as the capped
    # hash path's per-row budget; r7 ran base 8, r8 measured the widening
    # to 16 as a net win (one fewer construction round AND one fewer LCP
    # descent round — PERF.md r8).  ``sa_position_lengths`` resolves the
    # <16-token LCP residual with one direct slice comparison over
    # ``base_keys`` below.
    basew = _SA_BASE_WIDTH
    posb = (toks.select(
        id_col,
        F.posexplode(F.expr(
            f"transform(ws, (x, i) -> slice(ws, i + 1, {basew}))"))
        .alias("p0", "keyb"))
        .select(id_col, (F.col("p0") + 1).cast("bigint").alias("pos"),
                "keyb"))
    ranked, max_rank = global_dense_rank(posb, ["keyb"], partitions,
                                         return_max=True)
    ranked_base = ranked  # retains keyb: base_keys rides this checkpoint
    cur = ranked.select(id_col, "pos", "rank")
    rounds = [(basew, cur)]
    step = basew
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    # the early-exit max rank comes from the rank's own offset summary
    # (r6 verdict #3) — one corpus pass per doubling round, not two
    nparts = (partitions
              or docs.sparkSession.sparkContext.defaultParallelism)
    while step < maxlen and max_rank != total:
        pair = cur.withColumn(
            "_r2", F.coalesce(F.lead("rank", step).over(wdoc),
                              F.lit(0).cast("bigint")))
        # ranks are dense 1..max_rank: the bucket is computable directly
        # (monotone, never splits a rank) — skips the range partitioner's
        # sampling pass, which would re-execute the lead() window
        prev_max = max_rank
        ranked, max_rank = global_dense_rank(
            pair, ["rank", "_r2"], partitions, rank_col="_nr",
            return_max=True,
            bucket_of=lambda r: ((r - 1) * nparts / F.lit(prev_max))
            .cast("bigint"))
        cur = ranked.select(id_col, "pos", F.col("_nr").alias("rank"))
        step *= 2
        rounds.append((step, cur))
    if not return_rounds:
        return cur
    lengths = toks.select(id_col, F.size("ws").cast("bigint")
                          .alias("n_tokens"))
    base_keys = ranked_base.select(id_col, "pos", F.col("keyb").alias("key"))
    return cur, lengths, rounds, base_keys


def sa_position_lengths(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        partitions: int | None = None,
                        memo_key: tuple | None = None) -> DataFrame:
    """Per-position longest-duplicate length from the suffix array —
    UNCAPPED and hash-free.  For every corpus position, L = the length of
    the longest token substring starting there that occurs at ≥2 distinct
    (doc, pos) sites corpus-wide.  Returns (id_col, pos, n_tokens, L)
    with one row for EVERY tokenized position (L = 0 when nothing
    repeats).

    The suffix-array form of the classic fact: a suffix's best match is a
    suffix-order neighbor, so L(pos) = max(LCP with the previous rank's
    suffix, LCP with the next rank's suffix, full suffix length if the
    rank is shared — identical suffixes).

    This table is the SHARED artifact behind both the uncapped report
    (``longest_match_report_sa``) and the variable-length cut
    (``remove_duplicate_spans_varlen``): pass ``memo_key`` (the corpus
    table's ``table_ident``, same convention as ``shingle_df``) and the
    table is built ONCE per session and corpus version,
    ``localCheckpoint``-ed, and reused by every caller — the suffix array
    is the most expensive structure in
    the repo, and the r7 verdict measured it being constructed twice per
    gate/bench pass (once per derived row).  Neighbor LCPs come from the
    Manber-Myers doubling rounds ``suffix_array_ranks`` already built:
    greedy binary descent — probe the width-2^j rank table at the current
    matched offset, add 2^j on rank equality — gives the EXACT LCP in
    ⌈log₂ maxlen⌉ rounds of two constant-width equi-joins each (the r6
    verdict's replacement for the hash path's ×max_match sort-key
    payload; ``longest_duplicate_match`` keeps the single-exchange capped
    fast path).  An equal-rank probe can overshoot only when both
    remaining suffixes are identical, in which case the true LCP is the
    common remaining length — restored by the final least(lcp, slen_a,
    slen_b) clamp."""
    if memo_key is not None:
        # localCheckpoint (not cache): truncates the ~log(maxlen)-round
        # lineage so the second consumer replays blocks, not the pipeline
        return session_memo(
            docs.sparkSession,
            ("sa_position_lengths", memo_key[0], text_col, id_col, partitions),
            lambda: sa_position_lengths(docs, text_col, id_col,
                                        partitions).localCheckpoint(),
            ident=memo_key)

    final, lengths, rounds, base_keys = suffix_array_ranks(
        docs, text_col, id_col, partitions, return_rounds=True)
    sa = (final.join(lengths, on=id_col)
          .select(id_col, "pos", "rank", "n_tokens",
                  (F.col("n_tokens") - F.col("pos") + 1).cast("bigint")
                  .alias("slen")))
    reps = (sa.groupBy("rank").agg(
        F.min_by(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"),
                          F.col("slen").alias("s")),
                 F.struct(id_col, "pos")).alias("a"),
        F.count(F.lit(1)).alias("cnt"),
    ).localCheckpoint())
    nxt = reps.select((F.col("rank") - 1).alias("rank"),
                      F.col("a").alias("b"))
    pairs = (reps.join(nxt, on="rank")
             .select("rank",
                     F.col("a.d").alias("d1"), F.col("a.p").alias("p1"),
                     F.col("a.s").alias("s1"),
                     F.col("b.d").alias("d2"), F.col("b.p").alias("p2"),
                     F.col("b.s").alias("s2"))
             .withColumn("lcp", F.lit(0).cast("bigint")))

    # Per-doc end sentinel (pos = n_tokens + 1, rank = -1): probe offsets
    # are clamped to it, making every probe an INNER join that always
    # hits.  A left-outer probe could only broadcast its right
    # (corpus-sized) side — Spark builds the non-preserved side — so the
    # candidates-only pairs table could never be the build side; inner
    # joins let AQE broadcast the small side and stream the round
    # checkpoints unshuffled.  Two sentinel hits matching (-1 == -1) is
    # exactly the both-suffixes-exhausted ⊂ identical-suffixes overshoot
    # case the final least(lcp, s1, s2) clamp already repairs.
    sent = (lengths.select(id_col,
                           (F.col("n_tokens") + 1).cast("bigint")
                           .alias("pos"),
                           F.lit(-1).cast("bigint").alias("rank"))
            .localCheckpoint())  # one tiny row per doc; referenced by
    # every probe round — without the pin each union replays tokenization

    def _probe(df: DataFrame, rw: DataFrame, w: int) -> DataFrame:
        rw_s = rw.unionByName(sent)
        r1 = rw_s.select(F.col(id_col).alias("d1"),
                         F.col("pos").alias("_q1"),
                         F.col("rank").alias("_ra"))
        r2 = rw_s.select(F.col(id_col).alias("d2"),
                         F.col("pos").alias("_q2"),
                         F.col("rank").alias("_rb"))
        return (
            df
            .withColumn("_q1", F.col("p1") + F.least("lcp", "s1"))
            .withColumn("_q2", F.col("p2") + F.least("lcp", "s2"))
            .join(r1, on=["d1", "_q1"])
            .join(r2, on=["d2", "_q2"])
            .withColumn(
                "lcp",
                F.when(F.col("_ra") == F.col("_rb"),
                       F.col("lcp") + F.lit(w)).otherwise(F.col("lcp")))
            .drop("_q1", "_q2", "_ra", "_rb")
        )

    # Pre-filter (r8): one base-width probe at the ORIGINAL offsets splits
    # the pairs.  Base ranks differing ⟺ the two base-width slices differ
    # ⟺ true LCP < base width — those pairs (the overwhelming majority on
    # any real corpus: positions whose base-width window is corpus-unique)
    # skip the multi-round descent entirely and resolve in the final
    # residual slice comparison.  Only the duplicated-window minority rides
    # the ⌈log₂ maxlen⌉ probe rounds, so every descent join has a
    # candidates-only left side (AQE turns them into broadcast probes of
    # the round checkpoints) instead of a corpus-sized one.
    basew, rb = min(rounds, key=lambda t: t[0])
    flagged = (_probe(pairs.withColumn("_l0", F.col("lcp")), rb, basew)
               .withColumn("_hot", F.col("lcp") > F.col("_l0"))
               .withColumn("lcp", F.col("_l0")).drop("_l0"))
    hot = flagged.where(F.col("_hot")).drop("_hot")
    cold = flagged.where(~F.col("_hot")).drop("_hot")
    for w, rw in sorted(rounds, key=lambda t: -t[0]):
        hot = _probe(hot, rw, w)
    pairs = hot.unionByName(cold)
    # sub-base residual: the greedy descent's uncertainty after the
    # base-width probe is < _SA_BASE_WIDTH tokens — resolve it by fetching
    # the actual base-width slices at the current matched offset and
    # counting the common prefix directly (two joins TOTAL, replacing the
    # width-8/4/2/1 probe rounds a width-1 base would need).  The slices
    # come from ``base_keys`` — a projection of the base round's
    # checkpoint — NOT from re-tokenizing the corpus (which the two join
    # branches would each replay, r7 verdict #2).
    k1 = base_keys.select(F.col(id_col).alias("d1"),
                          F.col("pos").alias("_q1"),
                          F.col("key").alias("_k1"))
    k2 = base_keys.select(F.col(id_col).alias("d2"),
                          F.col("pos").alias("_q2"),
                          F.col("key").alias("_k2"))
    eqs = F.zip_with(
        F.col("_k1"), F.col("_k2"),
        lambda a, b: F.when(a.isNull() | b.isNull(), F.lit(0))
        .otherwise((a == b).cast("int")))
    common = F.aggregate(
        eqs, F.struct(F.lit(0).alias("c"), F.lit(1).alias("alive")),
        lambda acc, x: F.struct(
            (acc["c"] + acc["alive"] * x).alias("c"),
            (acc["alive"] * x).alias("alive")))["c"]
    pairs = (
        pairs
        .withColumn("_q1", F.col("p1") + F.col("lcp"))
        .withColumn("_q2", F.col("p2") + F.col("lcp"))
        .join(k1, on=["d1", "_q1"], how="left")
        .join(k2, on=["d2", "_q2"], how="left")
        .withColumn("lcp", F.col("lcp")
                    + F.when(F.col("_k1").isNull() | F.col("_k2").isNull(),
                             F.lit(0)).otherwise(common).cast("bigint"))
        .drop("_q1", "_q2", "_k1", "_k2")
    )
    pairs = pairs.withColumn("lcp", F.least("lcp", "s1", "s2"))
    neigh = (pairs.select("rank", "lcp")
             .unionByName(pairs.select((F.col("rank") + 1).alias("rank"),
                                       "lcp")))
    nl = neigh.groupBy("rank").agg(F.max("lcp").alias("_nlcp"))
    l_rank = (reps.join(nl, on="rank", how="left")
              .select("rank",
                      F.greatest(
                          F.coalesce(F.col("_nlcp"), F.lit(0)),
                          F.when(F.col("cnt") >= 2, F.col("a.s"))
                           .otherwise(F.lit(0))).cast("bigint").alias("L")))
    return sa.join(l_rank, on="rank").select(id_col, "pos", "n_tokens", "L")


# Backwards-compatible private alias (pre-r8 name).
_sa_position_lengths = sa_position_lengths


def longest_match_report_sa(docs: DataFrame, min_len: int = 8,
                            text_col: str = "text", id_col: str = "doc_id",
                            partitions: int | None = None,
                            memo_key: tuple | None = None,
                            per_pos: DataFrame | None = None) -> DataFrame:
    """UNCAPPED variable-length ExactSubstr report from the suffix array —
    the exact-LCP rebase of ``longest_duplicate_match`` (r6 verdict #2):
    same (id, n_tokens, max_dup_len, n_dup_starts) semantics, no
    ``max_match`` cap and no ×cap exchange payload; every exchange ships
    constant-width rows.  Pass ``per_pos`` (a ``sa_position_lengths``
    table) or ``memo_key`` to share one suffix-array construction with
    ``remove_duplicate_spans_varlen`` (r7 verdict #1).  Differential vs
    the suffix-automaton reference and row-identity vs the capped path
    (below its cap) in tests/test_dedup_varlen.py."""
    if per_pos is None:
        per_pos = sa_position_lengths(docs, text_col, id_col, partitions,
                                      memo_key=memo_key)
    return (
        per_pos.where(F.col("L") >= min_len)
        .groupBy(id_col)
        .agg(F.first("n_tokens").alias("n_tokens"),
             F.max("L").cast("bigint").alias("max_dup_len"),
             F.count(F.lit(1)).cast("bigint").alias("n_dup_starts"))
    )


def remove_duplicate_spans_varlen(docs: DataFrame, min_len: int = 50,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  partitions: int | None = None,
                                  memo_key: tuple | None = None,
                                  per_pos: DataFrame | None = None,
                                  ) -> DataFrame:
    """Variable-length ExactSubstr CUT (Lee et al. 2022 §3: remove every
    substring occurrence whose maximal corpus-wide duplicated match is
    ≥ ``min_len`` tokens) — thresholded on TRUE match length from the
    suffix array, not on fixed-window coverage.  A position p is cut iff
    some position q ≤ p in the same document has L(q) ≥ min_len and
    q + L(q) > p (it lies inside a long-enough duplicated run); that
    reach is one per-doc running-max window over the
    ``_sa_position_lengths`` table.  By the coverage-equivalence theorem
    (documented at ``remove_duplicate_spans``) the REMOVED POSITION SET
    equals fixed-window coverage at window = min_len — asserted as a
    cross-algorithm test, not assumed.

    NULL-text and empty docs pass through unchanged with n_removed = 0.
    Returns (id_col, text_cleaned, n_tokens, n_removed).  ``per_pos`` /
    ``memo_key`` share the suffix-array table with
    ``longest_match_report_sa`` (one construction per corpus)."""
    from pyspark.sql import Window

    if per_pos is None:
        per_pos = sa_position_lengths(docs, text_col, id_col, partitions,
                                      memo_key=memo_key)
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    reach = F.max(F.when(F.col("L") >= min_len,
                         F.col("pos") + F.col("L"))).over(w)
    flagged = per_pos.withColumn(
        "covered", F.coalesce(reach > F.col("pos"), F.lit(False)))
    per_doc = flagged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "covered"))).alias("fl"))
    toks = docs.select(
        id_col, F.col(text_col),
        F.when(F.col(text_col).isNotNull(),
               tokens_col(F.col(text_col))).alias("ws"))
    return (
        toks.join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.when(F.col("fl").isNull(), F.col(text_col))
             .otherwise(F.array_join(
                 F.filter(
                     F.zip_with("ws", F.col("fl"),
                                lambda t, f: F.when(~f["covered"], t)),
                     lambda x: x.isNotNull()), " ")).alias("text_cleaned"),
            F.when(F.col("ws").isNull(), F.lit(0))
             .otherwise(F.size("ws")).cast("bigint").alias("n_tokens"),
            F.when(F.col("fl").isNull(), F.lit(0))
             .otherwise(F.size(F.filter("fl", lambda f: f["covered"])))
             .cast("bigint").alias("n_removed"),
        )
    )


# --- Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003) --------------

_WIN_POS_BITS = 20  # docs are capped at 2^20 gram positions (~1M tokens)


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    token k-gram, slide a w-window over the hash sequence and select the
    minimum of each window (rightmost on ties — the paper's rule), then
    keep the DISTINCT selected (position, hash) pairs.  Guarantees: any
    shared run of ≥ w+k−1 tokens between two documents yields at least
    one shared fingerprint, and the density of selections is ~2/(w+1).

    Gram hashes are the corpus-wide polynomial character hash
    (``text.py::fingerprint_col`` — h·31+code mod 1e9+7), a pure integer
    fold both engines reproduce bitwise; the rightmost-tie window min is
    one BIGINT ``min()`` over the packed key ``h·2^20 + (2^20−1−pos)``.

    Scale shape: per-document window functions only (partitioned by doc,
    ordered by position) — no exchange beyond the doc partitioning, no
    state beyond the w-row frame.  Documents shorter than k+w−1 tokens
    have no full window and emit no fingerprints (documented contract).

    Position budget: the packed tie-break key reserves ``_WIN_POS_BITS``
    bits, so documents beyond 2^20 gram positions (~1M tokens) FAIL
    LOUDLY (``raise_error``) rather than silently mis-tie-breaking —
    boundary asserted in tests/test_paragraph_dedup.py.  The production
    answer for longer inputs is to CHUNK them first (split on a stable
    boundary, fingerprint per chunk): winnowing's guarantee is local to
    any w+k−1-token run, so chunking with a k+w−2-token overlap preserves
    every match guarantee while keeping positions inside the budget.

    Returns (id_col, pos, h): selected gram start positions + hashes."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.text import fingerprint_col

    cap = 1 << _WIN_POS_BITS
    toks = (spread(docs)
            .where(F.col(text_col).isNotNull())
            .select(F.col(id_col), tokens_col(F.col(text_col)).alias("tk"))
            .withColumn("P", F.size("tk").cast("bigint"))
            .where(F.col("P") >= k)
            # the packed rightmost-tie key reserves _WIN_POS_BITS for the
            # position; fail loudly (not silently mis-tie-break) beyond it
            .withColumn("P", F.when(F.col("P") < cap, F.col("P"))
                        .otherwise(F.raise_error(F.concat(
                            F.lit(f"winnow: doc exceeds 2^{_WIN_POS_BITS}"
                                  " tokens: "),
                            F.col(id_col).cast("string"))))))
    grams = (toks.select(
        id_col, "P",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), (F.col("P") - (k - 1)).cast("int")),
            lambda i: F.concat_ws(" ", *[
                F.element_at("tk", (i + j).cast("int")) for j in range(k)])))
        .alias("p0", "g"))
        .select(id_col, "P", (F.col("p0") + 1).cast("bigint").alias("pos"),
                fingerprint_col(F.col("g")).alias("h")))
    key = (F.col("h") * cap + (cap - 1 - F.col("pos")))
    win = (Window.partitionBy(id_col).orderBy("pos")
           .rowsBetween(Window.currentRow, w - 1))
    sel = (grams
           .withColumn("_sel", F.min(key).over(win))
           # only full windows select: start positions 1..(P-k+1)-w+1
           .where(F.col("pos") <= F.col("P") - (k - 1) - (w - 1))
           .select(id_col,
                   (F.lit(cap - 1) - (F.col("_sel") % cap)).alias("pos"),
                   (F.col("_sel") / cap).cast("bigint").alias("h"))
           .distinct())
    return sel


def winnow_pairs(docs: DataFrame, k: int = 3, w: int = 4,
                 min_shared: int = 2, max_doc_freq: int = 50,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Document near-dup pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing ≥ ``min_shared`` DISTINCT
    fingerprint hashes.  The pair join is an inverted-index equi-join on
    the hash; ubiquitous hashes (> ``max_doc_freq`` docs — boilerplate)
    are dropped first, the same fan-out guard as ``ngram_jaccard_pairs``,
    so per-hash fan-out is bounded and there is no all-pairs term."""
    fp = (winnow_fingerprints(docs, k, w, text_col, id_col)
          .select(id_col, "h").distinct())
    keep = (fp.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("h"))
    fp = fp.join(keep, on="h")
    a = fp.select(F.col(id_col).alias("doc_a"), "h")
    b = fp.select(F.col(id_col).alias("doc_b"), "h")
    return (a.join(b, on="h")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))
