"""N-gram language-model perplexity scoring — the CCNet-style quality
signal (score each document by an LM trained on the corpus; outlier
perplexity ⇒ boilerplate, gibberish, or wrong-language text).

A full KenLM is out of scope for a container without the library; the
distributed shape is the same for any fixed n, so this implements the
add-one order-n model end-to-end, with the bigram functions as its
order-2 calls:

- **Train** = two aggregations over the exploded window stream:
  ``c(ctx,w)`` and the context total ``c(ctx) = Σ_w c(ctx,w)``, plus the
  corpus vocabulary size ``V`` (one distinct-count).  All map-side
  combined; the model lives as DataFrames, never on the driver.
- **Score** = add-one smoothed conditional
  ``P(w|ctx) = (c(ctx,w)+1)/(c(ctx)+V)``; a document's score is the mean
  ``ln P`` over its windows, and ``ppl = exp(−mean)``.
- The per-document sum folds the windows in POSITION order
  (sort-then-left-fold), so the SQL oracle adds the same floats in the
  same order; ln/exp are transcendental and sit inside the public 6-dp
  rounding.

Scale shape: the score join is a shuffled equi-join of the corpus window
stream against the count table on (ctx, w) — the natural key, with AQE
handling the Zipfian skew of frequent n-grams; the context-count join
rides the same shuffle key prefix.  V and any global stats are scalar
broadcasts.  Self-training (score the corpus that trained the model) is
the CCNet bootstrap; ``train`` and ``score`` are separable so a clean
reference corpus can supply the model instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.pipeline.text import tokens_col
from ophidia_io_server_spark.sources.tables import spread


def bigram_stream(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, pos, w1, w2) — one row per adjacent token pair, pos 1-based:
    the order-2 ``ngram_stream``, whose context is the single preceding
    token."""
    return ngram_stream(docs, 2, text_col, id_col).select(
        id_col, "pos", F.col("ctx").alias("w1"), F.col("w").alias("w2"))


def train_bigram_model(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id"):
    """The add-one bigram model: ``train_ngram_model`` at order 2."""
    return train_ngram_model(docs, 2, text_col, id_col)


def perplexity_scores(docs: DataFrame, model=None, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, n_bigrams, avg_logprob, ppl) per document with ≥1 bigram: the
    order-2 ``ngram_perplexity_scores``.

    ``model`` is a ``train_bigram_model`` triple; None self-trains on
    ``docs`` (CCNet bootstrap)."""
    return ngram_perplexity_scores(docs, 2, model, text_col, id_col) \
        .withColumnRenamed("n_ngrams", "n_bigrams")


# --- order-n model ------------------------------------------------------------
# The context key is the previous n−1 tokens joined with an unprintable
# separator, so the count tables keep the (context, word) equi-join shape
# whatever the order.

_CTX_SEP = "\x1f"


def ngram_stream(docs: DataFrame, order: int, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, pos, ctx, w): one row per order-n window; ctx = the n−1
    preceding tokens joined with an unprintable separator."""
    if order < 2:
        raise ValueError(f"order must be ≥ 2, got {order}")
    toks = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("tk"))
        .withColumn("n", F.size("tk").cast("bigint"))
        .where(F.col("n") >= order)
    )
    k = order - 1
    win = F.transform(
        F.sequence(F.lit(1), (F.col("n") - k).cast("int")),
        lambda i: F.struct(
            i.cast("bigint").alias("pos"),
            F.array_join(F.slice("tk", i.cast("int"), k), _CTX_SEP).alias("ctx"),
            F.element_at("tk", (i + k).cast("int")).alias("w"),
        ),
    )
    return toks.select(id_col, F.explode(win).alias("g")).select(
        id_col, "g.pos", "g.ctx", "g.w")


def train_ngram_model(docs: DataFrame, order: int = 3,
                      text_col: str = "text", id_col: str = "doc_id"):
    """Returns (ngram_counts, context_counts, vocab_size_df): the add-one
    order-n model as DataFrames — (ctx, w, cnw), (ctx, cn), and a
    single-row (vsz) frame for broadcast."""
    g = ngram_stream(spread(docs), order, text_col, id_col)
    nc = g.groupBy("ctx", "w").agg(F.count(F.lit(1)).cast("bigint").alias("cnw"))
    cc = g.groupBy("ctx").agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    vocab = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(F.col(text_col))).alias("t"))
        .agg(F.countDistinct("t").cast("bigint").alias("vsz"))
    )
    return nc, cc, vocab


def _ngram_logprobs(docs: DataFrame, order: int, model, text_col: str,
                    id_col: str) -> DataFrame:
    """The corpus window stream with ``lp`` = the add-one smoothed
    ``ln P(w|ctx) = ln((c(ctx,w)+1)/(c(ctx)+V))`` of each window.  ``model``
    is a ``train_ngram_model`` triple; None self-trains on ``docs``."""
    nc, cc, vocab = model if model is not None else train_ngram_model(
        docs, order, text_col, id_col)
    g = ngram_stream(spread(docs), order, text_col, id_col)
    # left joins + coalesce-to-0: when scoring against an EXTERNAL model an
    # unseen window/context backs off to the smoothed floor (0+1)/(0+V)
    # instead of silently dropping the window; for the self-trained
    # bootstrap every pair is present and this is an exact inner join
    return (
        g.join(nc, on=["ctx", "w"], how="left")
        .join(cc, on="ctx", how="left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("lp", F.log(
            (F.coalesce(F.col("cnw"), F.lit(0)) + 1)
            / (F.coalesce(F.col("cn"), F.lit(0)) + F.col("vsz"))))
    )


def ngram_perplexity_scores(docs: DataFrame, order: int = 3, model=None,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """(id, n_ngrams, avg_logprob, ppl) per document with ≥1 full window:
    the mean of the windows' ``lp`` folded in position order, and
    ``ppl = exp(−mean)``."""
    lp = _ngram_logprobs(docs, order, model, text_col, id_col)
    return (
        lp.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.array_sort(F.collect_list(F.struct("pos", "lp"))).alias("ls"),
        )
        .select(
            id_col, "n_ngrams",
            F.aggregate(F.col("ls"), F.lit(0.0), lambda s, x: s + x["lp"]).alias("slp"),
        )
        .select(
            id_col, "n_ngrams",
            F.round(F.col("slp") / F.col("n_ngrams"), 6).alias("avg_logprob"),
            F.round(F.exp(-(F.col("slp") / F.col("n_ngrams"))), 6).alias("ppl"),
        )
    )


def trigram_parts_stream(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, pos, w1, w2, w3) — trigram windows with the words separate, so
    backoff scorers can join each order on its own key."""
    toks = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("tk"))
        .withColumn("n", F.size("tk").cast("bigint"))
        .where(F.col("n") >= 3)
    )
    win = F.transform(
        F.sequence(F.lit(1), (F.col("n") - 2).cast("int")),
        lambda i: F.struct(
            i.cast("bigint").alias("pos"),
            F.element_at("tk", i.cast("int")).alias("w1"),
            F.element_at("tk", (i + 1).cast("int")).alias("w2"),
            F.element_at("tk", (i + 2).cast("int")).alias("w3"),
        ),
    )
    return toks.select(id_col, F.explode(win).alias("g")).select(
        id_col, "g.pos", "g.w1", "g.w2", "g.w3")


def stupid_backoff_scores(train: DataFrame, score: DataFrame,
                          alpha: float = 0.4, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007) — THE
    distributed-by-design LM scheme: no normalization pass, every order is
    a plain count table, scoring is a cascade of left equi-joins.

        S(w3|w1 w2) = c3/c2(w1,w2)              if the trigram was seen
                      α·c2(w2,w3)/c1(w2)        else if the bigram was
                      α²·(c1(w3)+1)/(N+V)       else (add-one unigram
                                                 floor — keeps ln finite
                                                 for OOV words)

    Returns per scored doc: (id, n_trigrams, n_backoff2, n_backoff1,
    avg_logscore) with the ln-sum folded in position order (oracle
    parity).  Scale shape: three count tables (map-side combined), three
    left joins on their natural keys, scalar (N, V) broadcast."""
    tg = trigram_parts_stream(spread(train), text_col, id_col)
    c3 = tg.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("bigint").alias("c3"))
    bi = (
        bigram_stream(train, text_col, id_col)
        .groupBy(F.col("w1").alias("a"), F.col("w2").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    uni = (
        train.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(F.col(text_col))).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    nv = uni.agg(F.sum("c1").cast("bigint").alias("N"),
                 F.count(F.lit(1)).cast("bigint").alias("V"))

    sg = trigram_parts_stream(spread(score), text_col, id_col)
    j = (
        sg.join(c3, on=["w1", "w2", "w3"], how="left")
        .join(bi.select(F.col("a").alias("w1"), F.col("b").alias("w2"),
                        F.col("c2").alias("c2_prefix")),
              on=["w1", "w2"], how="left")
        .join(bi.select(F.col("a").alias("w2"), F.col("b").alias("w3"),
                        F.col("c2").alias("c2_pair")),
              on=["w2", "w3"], how="left")
        .join(uni.select(F.col("t").alias("w2"), F.col("c1").alias("c1_ctx")),
              on="w2", how="left")
        .join(uni.select(F.col("t").alias("w3"), F.col("c1").alias("c1_w")),
              on="w3", how="left")
        .crossJoin(F.broadcast(nv))
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2_prefix"))
        .when(F.col("c2_pair").isNotNull(),
              F.lit(alpha) * F.col("c2_pair") / F.col("c1_ctx"))
        .otherwise(F.lit(alpha) * F.lit(alpha)
                   * (F.coalesce(F.col("c1_w"), F.lit(0)) + 1)
                   / (F.col("N") + F.col("V")))
    )
    lvl = (F.when(F.col("c3").isNotNull(), 3)
           .when(F.col("c2_pair").isNotNull(), 2).otherwise(1))
    scored = j.select(id_col, "pos", F.log(s).alias("ls"), lvl.alias("lvl"))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.sum((F.col("lvl") == 2).cast("int")).cast("bigint")
             .alias("n_backoff2"),
            F.sum((F.col("lvl") == 1).cast("int")).cast("bigint")
             .alias("n_backoff1"),
            F.array_sort(F.collect_list(F.struct("pos", "ls"))).alias("xs"),
        )
        .select(
            id_col, "n_trigrams", "n_backoff2", "n_backoff1",
            F.round(
                F.aggregate("xs", F.lit(0.0), lambda a, x: a + x["ls"])
                / F.col("n_trigrams"), 6).alias("avg_logscore"),
        )
    )


def kneser_ney_scores(train: DataFrame, score: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Interpolated modified Kneser-Ney bigram scoring (Chen & Goodman
    1998; the KenLM default) on the same count-table architecture as
    ``stupid_backoff_scores`` — every model component is a DataFrame
    aggregation, scoring is a left-join cascade, nothing model-sized ever
    reaches the driver.

        P(w2|w1) = (c(w1,w2) − D(c))/c(w1) + γ(w1)·P_cont(w2)      seen ctx
                 = P_cont(w2)                                       unseen ctx
        D(c)     = D1/D2/D3+ for c = 1/2/≥3 — count-of-count estimated:
                   Y = n1/(n1+2n2), Dk = k − (k+1)·Y·n_{k+1}/n_k,
                   clamped to [0, k] (each undefined ratio falls back to
                   the classic 0.75 absolute discount)
        γ(w1)    = (D1·N1(w1·) + D2·N2(w1·) + D3·N3+(w1·)) / c(w1)
                   (exactly the mass the discounts removed — the
                   interpolation weight that keeps Σ_w2 P = 1)
        P_cont   = (N1+(·w2) + 1)/(T + V) — the continuation unigram
                   ("in how many contexts was w2 seen"), add-one smoothed
                   over the vocabulary so OOV scoring words keep a finite
                   log-prob (KenLM interpolates with uniform the same way).

    Model tables: bigram counts (w1,w2,c12); per-context totals + type
    counts N1/N2/N3+ (one groupBy over the count table); continuation
    counts (one more); count-of-counts n1..n4 + T + V as a single
    broadcast row.  All map-side combined; the scoring joins ride the
    (w1,w2)/(w1)/(w2) natural keys with AQE absorbing Zipfian skew.

    Returns (id, n_bigrams, n_unseen_pair, n_unseen_ctx, avg_logprob,
    ppl) per scored doc with ≥1 bigram; the ln-sum folds in position
    order for oracle parity.  Differential vs a Python reference in
    tests/test_lm.py."""
    big_tr = bigram_stream(spread(train), text_col, id_col)
    # Materialize the bigram TYPE table once: four aggregations (context
    # totals, continuation counts, count-of-counts) and the scoring join
    # all derive from it, and without the checkpoint each one would replay
    # the corpus explode+count (measured 6 corpus scans / 20 exchanges →
    # 3 / 12 at sf0.1, PERF.md r6).  The type table is vocabulary-sized,
    # not corpus-sized — executor-local storage holds it at any SF.
    bc = big_tr.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")).localCheckpoint()
    cc = bc.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.sum((F.col("c12") == 1).cast("int")).cast("bigint").alias("tn1"),
        F.sum((F.col("c12") == 2).cast("int")).cast("bigint").alias("tn2"),
        F.sum((F.col("c12") >= 3).cast("int")).cast("bigint").alias("tn3p"),
    )
    # bc holds one row per TYPE, so a plain count per w2 is the distinct-
    # context (continuation) count N1+(·w2)
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("nprec"))
    voc = (
        train.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(F.col(text_col))).alias("t"))
        .agg(F.countDistinct("t").cast("bigint").alias("V"))
    )
    coc = bc.agg(
        F.sum((F.col("c12") == 1).cast("int")).cast("bigint").alias("n1"),
        F.sum((F.col("c12") == 2).cast("int")).cast("bigint").alias("n2"),
        F.sum((F.col("c12") == 3).cast("int")).cast("bigint").alias("n3"),
        F.sum((F.col("c12") == 4).cast("int")).cast("bigint").alias("n4"),
        F.count(F.lit(1)).cast("bigint").alias("T"),
    )
    # discounts — computed in one scalar row; expression ORDER mirrors the
    # SQL oracle token-for-token (left-assoc chains) so doubles are bitwise
    y = F.col("n1") / F.nullif(F.col("n1") + F.lit(2.0) * F.col("n2"), F.lit(0.0))

    def _disc(k: int, nk: str, nk1: str):
        raw = (F.lit(float(k)) - F.lit(float(k + 1)) * F.col("_y") * F.col(nk1)
               / F.nullif(F.col(nk).cast("double"), F.lit(0.0)))
        return F.least(F.greatest(F.coalesce(raw, F.lit(0.75)), F.lit(0.0)),
                       F.lit(float(k)))

    scal = (
        coc.crossJoin(voc).withColumn("_y", y)
        .withColumn("d1", _disc(1, "n1", "n2"))
        .withColumn("d2", _disc(2, "n2", "n3"))
        .withColumn("d3", _disc(3, "n3", "n4"))
        .select("T", "V", "d1", "d2", "d3")
    )
    sg = bigram_stream(spread(score), text_col, id_col)
    j = (
        sg.join(bc, on=["w1", "w2"], how="left")
        .join(cc, on="w1", how="left")
        .join(cont, on="w2", how="left")
        .crossJoin(F.broadcast(scal))
    )
    pcont = (F.coalesce(F.col("nprec"), F.lit(0)) + 1) / (F.col("T") + F.col("V"))
    num = (
        F.when(F.col("c12").isNull(), F.lit(0.0))
        .when(F.col("c12") == 1, F.col("c12") - F.col("d1"))
        .when(F.col("c12") == 2, F.col("c12") - F.col("d2"))
        .otherwise(F.col("c12") - F.col("d3"))
    )
    gamma = (F.col("d1") * F.col("tn1") + F.col("d2") * F.col("tn2")
             + F.col("d3") * F.col("tn3p")) / F.col("c1")
    p = (F.when(F.col("c1").isNotNull(), num / F.col("c1") + gamma * pcont)
         .otherwise(pcont))
    lvl = (F.when(F.col("c12").isNotNull(), 2)
           .when(F.col("c1").isNotNull(), 1).otherwise(0))
    scored = j.select(id_col, "pos", F.log(p).alias("ls"), lvl.alias("lvl"))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum((F.col("lvl") == 1).cast("int")).cast("bigint")
             .alias("n_unseen_pair"),
            F.sum((F.col("lvl") == 0).cast("int")).cast("bigint")
             .alias("n_unseen_ctx"),
            F.array_sort(F.collect_list(F.struct("pos", "ls"))).alias("xs"),
        )
        .select(
            id_col, "n_bigrams", "n_unseen_pair", "n_unseen_ctx",
            F.aggregate("xs", F.lit(0.0), lambda a, x: a + x["ls"]).alias("slp"),
        )
        .select(
            id_col, "n_bigrams", "n_unseen_pair", "n_unseen_ctx",
            F.round(F.col("slp") / F.col("n_bigrams"), 6).alias("avg_logprob"),
            F.round(F.exp(-(F.col("slp") / F.col("n_bigrams"))), 6).alias("ppl"),
        )
    )


def ccnet_chunk_buckets(docs: DataFrame, chunk_tokens: int = 16,
                        model=None, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """CCNet-style segment filtering (Wenzek et al. 2020): split each
    document into fixed ``chunk_tokens`` segments (the paper's
    paragraphs — the synthetic corpus has no newline structure, so the
    segmenter is positional), score every segment's mean bigram
    log-probability under the corpus LM, rank ALL segments corpus-wide
    and bucket them into head/middle/tail terciles (head = best-scoring
    = kept unconditionally in CCNet; tail = dropped).

    Returns one row per document:
    (id, n_chunks, n_head, n_middle, n_tail).

    Cross-engine exactness: segment scores are position-ordered float
    folds (identical in both engines) but ln differs by ≤1 ulp between
    libm and the JVM — so the corpus-wide ordering key is the INTEGER
    ``-floor(mean·10⁶)`` (a 1-ulp discrepancy flips floor only on an
    exact 10⁻⁶ grid point, measure-zero for ln sums), with (id, chunk)
    tie-breaks.  The global rank is ``global_dense_rank`` — unique keys
    make it a row_number — so there is no single-partition window
    anywhere; tercile membership is integer arithmetic on (rank, total).

    Scale shape: train + score are the ``perplexity_scores`` joins; the
    extra work is one groupBy to segment granularity and one
    ``global_dense_rank`` over corpus/chunk_tokens rows."""
    from ophidia_io_server_spark.operators.ranking import global_dense_rank

    lp = (
        _ngram_logprobs(docs, 2, model, text_col, id_col)
        # a bigram is internal to its segment iff it does not straddle a
        # chunk boundary: tokens pos, pos+1 share (pos-1)//W
        .where(F.col("pos") % chunk_tokens != 0)
        # DIV, not `/`: Spark `/` is double division and the truncating
        # cast can cross an integer boundary once the numerator nears
        # 2^52 — DIV keeps the arithmetic on exact integers, matching the
        # DuckDB oracle's `//` (r7 ADVICE)
        .withColumn("chunk", F.expr(
            f"CAST((pos - 1) DIV {int(chunk_tokens)} AS BIGINT)"))
    )
    seg = (
        lp.groupBy(id_col, "chunk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"),
             F.array_sort(F.collect_list(F.struct("pos", "lp"))).alias("xs"))
        .select(
            id_col, "chunk",
            (-F.floor(F.aggregate("xs", F.lit(0.0),
                                  lambda a, x: a + x["lp"])
                      / F.col("nb") * 1e6)).cast("bigint").alias("nunits"))
    )
    ranked, total = global_dense_rank(seg, ["nunits", id_col, "chunk"],
                                      rank_col="rn", return_max=True)
    b = ranked.withColumn(
        "bucket", F.expr(f"CAST(((rn - 1) * 3) DIV {int(total)} AS BIGINT)"))
    return (
        b.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
             F.sum((F.col("bucket") == 0).cast("int")).cast("bigint")
             .alias("n_head"),
             F.sum((F.col("bucket") == 1).cast("int")).cast("bigint")
             .alias("n_middle"),
             F.sum((F.col("bucket") == 2).cast("int")).cast("bigint")
             .alias("n_tail"))
    )
