"""Temporal joins (as-of, interval), retrieval + language models, BPE, graphs (PageRank/LPA/triangles), heavy hitters, rollup/cube, pivots, and the round-5/6 events analytics.

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import (
    exact_cents_sum,
    lineitem_fragment_cached,
    load_table,
    local_frame,
)

from ophidia_io_server_spark.workloads.docs import _redact_oracle_exprs
from ophidia_io_server_spark.workloads.base import (
    WORKLOADS,
    _FRAG_QTY_CTE,
    staged_dir,
    staged_docs_twice,
    workload,
)


# ---------------------------------------------------------------------------
# Temporal joins (as-of, interval) — operators Spark lacks as built-ins
# ---------------------------------------------------------------------------


@workload(
    "events_asof_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts,
                 value AS click_value
          FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.event_id, c.click_id, c.click_ts, c.click_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
      FROM p JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts),
    m AS (SELECT event_id, click_id, click_ts, click_value
          FROM cand WHERE rn = 1)
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           m.click_id, m.click_ts, m.click_value,
           COALESCE(m.click_ts IS NOT NULL
                    AND p.ts - m.click_ts <= INTERVAL 2 HOUR, FALSE) AS attributed
    FROM p LEFT JOIN m ON p.event_id = m.event_id
    """,
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase as-of-joined to the latest
    prior click by the same user, plus an attributed flag (click within
    2 h).  The ENGINE is the union-merge as-of join (one shuffle on
    user_id, |p|+|c| rows — ``operators/temporal.py``); the ORACLE is the
    textbook inequality-join + ROW_NUMBER formulation whose intermediate
    is O(|p|·|c|) per user — exactly the blowup the merge form avoids.
    Tie-break (equal click_ts → max click_id) is pinned on both sides."""
    from ophidia_io_server_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"), F.col("value").alias("click_value"))
    j = asof_join(p, c, on="user_id", ts_col="ts", right_ts_col="click_ts",
                  seq_col="click_id", prefix="c_")
    lt = F.unix_micros(F.col("ts").cast("timestamp"))
    ct = F.unix_micros(F.col("c_click_ts").cast("timestamp"))
    return j.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.col("c_click_id").alias("click_id"),
        F.col("c_click_ts").alias("click_ts"),
        F.col("c_click_value").alias("click_value"),
        F.coalesce(F.col("c_click_ts").isNotNull()
                   & ((lt - ct) <= 7200 * 1_000_000), F.lit(False))
         .alias("attributed"),
    )


@workload(
    "events_interval_join",
    oracle="""
    WITH err AS (SELECT user_id, ts, ts + INTERVAL 30 MINUTE AS e
                 FROM events WHERE event_type = 'error'),
    seq AS (
      SELECT user_id, ts, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY ts, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR ts > MAX(e) OVER (PARTITION BY user_id ORDER BY ts, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_w
      FROM err),
    w AS (SELECT user_id, ts, e,
                 SUM(new_w) OVER (PARTITION BY user_id ORDER BY ts, e
                                  ROWS UNBOUNDED PRECEDING) AS wid
          FROM seq),
    iv AS (SELECT user_id, MIN(ts) AS outage_start, MAX(e) AS outage_end
           FROM w GROUP BY user_id, wid),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts, iv.outage_start, iv.outage_end,
           (iv.outage_start IS NOT NULL) AS in_outage
    FROM p LEFT JOIN iv ON p.user_id = iv.user_id
       AND p.ts >= iv.outage_start AND p.ts < iv.outage_end
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join without a BNLJ: per-user error events grow
    30-min outage windows, overlapping windows merge (gaps-and-islands),
    purchases land in [start, end) via the BINNED equi-join
    (``operators/temporal.py``: intervals replicate per covered 30-min
    bucket, points hash to exactly one, residual predicate finishes the
    exact match).  The ORACLE is the plain inequality join DuckDB can
    afford at this scale.  Merged windows are disjoint per user, so each
    purchase matches ≤1 window and the left join preserves row count."""
    from ophidia_io_server_spark.operators.temporal import interval_join, merge_intervals

    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"))
    outages = merge_intervals(err, on="user_id")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    j = interval_join(p, outages, on="user_id", ts_col="ts",
                      bin_seconds=1800, how="left", point_id_col="event_id")
    return j.select(
        "event_id", "user_id", "ts",
        F.col("start_ts").alias("outage_start"),
        F.col("end_ts").alias("outage_end"),
        F.col("start_ts").isNotNull().alias("in_outage"),
    )


@workload(
    "bm25_doc_retrieval",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM toks),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dls),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
           FROM (SELECT doc_id, dl, unnest(tk) AS term FROM dls) u
           WHERE term IN ('hash', 'merge', 'scan') GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    con AS (SELECT tf.doc_id, tf.term,
                   ln(1 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / g.avgdl)) AS c
            FROM tf JOIN dfq USING (term) CROSS JOIN g),
    sc AS (SELECT doc_id,
                  ROUND(list_aggregate(list(c ORDER BY term), 'sum'), 6) AS score
           FROM con GROUP BY doc_id)
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM sc ORDER BY score DESC, doc_id LIMIT 25
    """,
)
def bm25_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 for the query {hash, merge, scan} over documents —
    lexical retrieval for corpus curation (``pipeline/retrieval.py``).
    Postings materialize only for the query terms (filter before the one
    shuffle); df table and corpus stats ride broadcasts; top-k is
    TakeOrderedAndProject.  Scores are term-sorted left-fold sums so both
    engines add in the same order; idf's ln is inside the 6-dp rounding."""
    from ophidia_io_server_spark.pipeline.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "merge", "scan"], k=25)


@workload(
    "orders_rollup_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
                 / COUNT(*), 4) AS avg_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (status → priority → grand total)
    with grouping-id disambiguation — the OLAP subtotal surface on top of
    the engine's flat GROUP BY.  Money sums go through round-to-cents
    BIGINT so the cross-row sum is order-free (double sums are not);
    averages derive from the exact cents total.  Spark executes rollup as
    one Expand + single hash aggregate (no per-level re-scan)."""
    ords = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        ords.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("total_cents"),
            F.round(F.sum(cents) / 100.0 / F.count(F.lit(1)), 4).alias("avg_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders",
                "total_cents", "avg_price")
    )


@workload(
    "doc_chunk_sliding",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    sz AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) > 0),
    st AS (SELECT doc_id, tk, n,
                  CASE WHEN n <= 32 THEN 0
                       ELSE ((n - 32 + 24 - 1) // 24) * 24 END AS last
           FROM sz),
    ex AS (SELECT doc_id, tk, unnest(range(0, last + 1, 24)) AS chunk_start
           FROM st)
    SELECT doc_id,
           CAST(chunk_start // 24 AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(tk[chunk_start + 1 : chunk_start + 32]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(tk[chunk_start + 1 : chunk_start + 32], ' ')
             AS chunk_text
    FROM ex
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document split into overlapping
    32-token windows at stride 24 (``pipeline/chunking.py`` — tokenizer-
    overflow window rule, integer boundary arithmetic, shuffle-free
    explode).  The oracle replays the same rule with DuckDB list slicing."""
    from ophidia_io_server_spark.pipeline.chunking import chunk_sliding

    docs = load_table(spark, sf_dir, "documents")
    return chunk_sliding(docs, window=32, stride=24)


@workload(
    "doc_perplexity_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    big AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM big GROUP BY w1, w2),
    cc AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vsz
          FROM (SELECT unnest(tk) AS t FROM toks)),
    lp AS (SELECT big.doc_id, big.pos,
                  ln((bc.c12 + 1) / (cc.c1 + v.vsz)) AS lp
           FROM big JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v),
    s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 list_aggregate(list(lp ORDER BY pos), 'sum') AS slp
          FROM lp GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           ROUND(slp / n_bigrams, 6) AS avg_logprob,
           ROUND(exp(-(slp / n_bigrams)), 6) AS ppl
    FROM s
    """,
)
def doc_perplexity_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: self-trained add-one bigram model,
    per-document mean log-probability and perplexity
    (``pipeline/lm.py``).  Train = two map-side-combined count
    aggregations; score = shuffled equi-join on (w1, w2) with the context
    join riding the same key prefix; V is a scalar broadcast.  Per-doc
    sums fold bigrams in position order so both engines add the same
    floats in the same sequence; ln/exp sit inside the 6-dp rounding."""
    from ophidia_io_server_spark.pipeline.lm import perplexity_scores

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_scores(docs)


@workload(
    "doc_ccnet_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    big AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM big GROUP BY w1, w2),
    cc AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vsz
          FROM (SELECT unnest(tk) AS t FROM toks)),
    lp AS (SELECT big.doc_id, big.pos,
                  ln((bc.c12 + 1) / (cc.c1 + v.vsz)) AS lp
           FROM big JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
           WHERE big.pos % 16 <> 0),
    cs AS (SELECT doc_id, CAST((pos - 1) // 16 AS BIGINT) AS chunk,
                  CAST(COUNT(*) AS BIGINT) AS nb,
                  list_aggregate(list(lp ORDER BY pos), 'sum') AS slp
           FROM lp GROUP BY doc_id, chunk),
    rk AS (SELECT doc_id, chunk,
                  row_number() OVER (
                    ORDER BY CAST(-FLOOR(slp / nb * 1e6) AS BIGINT),
                             doc_id, chunk) AS rn,
                  COUNT(*) OVER () AS n
           FROM cs)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN (rn - 1) * 3 // n = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_head,
           CAST(SUM(CASE WHEN (rn - 1) * 3 // n = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_middle,
           CAST(SUM(CASE WHEN (rn - 1) * 3 // n = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tail
    FROM rk GROUP BY doc_id
    """,
)
def doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet segment filtering (Wenzek et al. 2020,
    ``pipeline/lm.py::ccnet_chunk_buckets``): 16-token segments scored
    by mean bigram log-probability under the self-trained corpus LM,
    ranked corpus-wide via ``global_dense_rank`` (no single-partition
    window), bucketed into head/middle/tail terciles by integer
    arithmetic on (rank, total).  The ordering key is the integer
    ``-floor(mean·10⁶)`` so the ≤1-ulp ln() discrepancy between libm
    and the JVM cannot flip the corpus-wide order (a flip needs an
    exact 10⁻⁶ grid hit, measure-zero for ln sums); ties break on
    (doc_id, chunk) in both engines."""
    from ophidia_io_server_spark.pipeline.lm import ccnet_chunk_buckets

    docs = load_table(spark, sf_dir, "documents")
    return ccnet_chunk_buckets(docs, chunk_tokens=16)


@workload(
    "bpe_train_invariants",
    oracle="""
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS word
            FROM documents WHERE text IS NOT NULL)
      GROUP BY word)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(freq * length(word)) AS BIGINT) AS total_chars,
           TRUE AS learned_in_range,
           TRUE AS all_reconstruct,
           TRUE AS compression_ok
    FROM w
    """,
)
def bpe_train_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training in the gate (iterative argmax — not one-query SQL, so
    the oracled surface is exact corpus stats + invariant booleans, the
    sketch-row pattern): 12 merges over the documents word-type table
    (``pipeline/bpe.py``).  ``all_reconstruct`` proves every word type's
    symbol sequence concatenates back to the word after all merges;
    ``compression_ok`` proves each merge round removed ≥min_pair_freq
    symbol occurrences (total mass ≤ chars − 2·k).  The merge SEQUENCE
    itself is pinned against a pure-Python Sennrich reference in
    ``tests/test_bpe.py``."""
    from ophidia_io_server_spark.pipeline.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, wf = train_bpe(docs, 12)
    k = len(merges)
    return wf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
        F.sum(F.col("freq") * F.length("word")).cast("bigint").alias("total_chars"),
        F.sum(F.col("freq") * F.size("symbols")).cast("bigint").alias("_syms"),
        F.bool_and(F.concat_ws("", F.col("symbols")) == F.col("word"))
         .alias("all_reconstruct"),
    ).select(
        "n_word_types", "total_chars",
        F.lit(1 <= k <= 12).alias("learned_in_range"),
        "all_reconstruct",
        ((F.col("_syms") + 2 * k) <= F.col("total_chars")).alias("compression_ok"),
    )


@workload(
    "lang_temperature_mix",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT list_aggregate(list(pow(n_docs, 0.7) ORDER BY lang), 'sum')
                   AS denom,
                 CAST(SUM(n_docs) AS BIGINT) AS n_total
          FROM c)
    SELECT c.lang, c.n_docs,
           ROUND(pow(c.n_docs, 0.7) / t.denom, 6) AS weight,
           ROUND(LEAST(1.0, pow(c.n_docs, 0.7) / t.denom * t.n_total * 0.5
                            / c.n_docs), 6) AS target_rate,
           TRUE AS rate_ok
    FROM c CROSS JOIN t
    """,
)
def lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-temperature source mixing over the (skewed) language strata:
    the per-language sampling plan (``pipeline/mixing.py`` — n^α weights
    normalized by a language-ordered fold, capped Bernoulli rates) plus a
    ``rate_ok`` boolean proving the deterministic hash selection lands
    inside the 4σ binomial envelope of its target rate.  Plan algebra is
    exact SQL; the xxhash64 selection is the invariant-boolean surface
    (same pattern as the sampling/split rows)."""
    from ophidia_io_server_spark.pipeline.mixing import (
        source_mixing_plan,
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = source_mixing_plan(docs, 0.7, 0.5, source_col="lang")
    got = (
        temperature_sample(docs, 0.7, 0.5, source_col="lang",
                           key_col="doc_id", seed=11)
        .groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_sel"))
    )
    sd = F.sqrt(F.col("target_rate") * (1 - F.col("target_rate")) * F.col("n_docs"))
    return (
        plan.join(got, on="lang", how="left")
        .select(
            "lang", "n_docs", "weight", "target_rate",
            (F.abs(F.coalesce(F.col("n_sel"), F.lit(0))
                   - F.col("target_rate") * F.col("n_docs"))
             <= 4 * sd + 1).alias("rate_ok"),
        )
    )


@workload(
    "events_pivot_hourly",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hour,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click_n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error_n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase_n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup_n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view_n,
           CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                         FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
             AS purchase_cents
    FROM events GROUP BY hour(ts)
    """,
)
def events_pivot_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide conditional aggregation): per hour-of-day, one column
    per event type — Spark's ``groupBy().pivot(values).agg()`` with the
    value list pinned (no extra distinct-scan job), executed as a single
    hash aggregate; the oracle is the equivalent FILTER aggregation.
    Money goes through round-to-cents BIGINT (order-free sums)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    cents = F.round(F.col("value") * 100).cast("bigint")
    wide = (
        ev.withColumn("hour", F.hour(F.col("ts").cast("timestamp")).cast("bigint"))
        .groupBy("hour")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("event_type") == "purchase", cents)).alias("cents"))
    )
    return wide.select(
        "hour",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("bigint").alias(f"{t}_n")
          for t in types],
        F.coalesce(F.col("purchase_cents"), F.lit(0)).cast("bigint")
         .alias("purchase_cents"),
    )


_CQR_AS_CTE = (
    WORKLOADS["curation_quality_rules"].oracle
    .replace("FROM documents", "FROM dd")
    .replace("FROM g ORDER BY doc_id", "FROM g")
)


@workload(
    "stream_curation_recipe",
    oracle=f"""
    WITH dd AS (SELECT MIN(doc_id) AS doc_id, text
                FROM documents WHERE text IS NOT NULL GROUP BY text),
    cqr AS ({_CQR_AS_CTE}),
    pii AS (SELECT doc_id,
           {_redact_oracle_exprs()},
           (n_url + n_email + n_ipv4 + n_phone) > 0 AS has_pii
           FROM dd)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gopher_keep,
           CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_pii,
           CAST(SUM(CASE WHEN gopher_keep THEN n_words ELSE 0 END) AS BIGINT)
             AS kept_words
    FROM cqr JOIN pii USING (doc_id)
    """,
)
def stream_curation_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming RECIPE prefix end-to-end (``pipeline/recipe.py::
    curate_stream``): the doubled document corpus re-ingested as a file
    stream, content-hash dedup in the state store, Gopher rules + PII
    redaction applied incrementally — aggregates over the curated stream
    must equal the batch rule/redaction oracles over distinct texts.  The
    oracle REUSES the `curation_quality_rules` SQL mirror verbatim over
    the deduplicated CTE (one source of truth for the rule algebra)."""
    import os

    from ophidia_io_server_spark.pipeline.recipe import curate_stream
    from ophidia_io_server_spark.streaming.ingest import run_available_now

    path = staged_docs_twice(spark, sf_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    curated = curate_stream(stream).drop("text_redacted")
    per_doc = run_available_now(curated, f"recipe_{os.path.basename(path)}",
                                output_mode="append")
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("gopher_keep").cast("int")).cast("bigint")
         .alias("n_gopher_keep"),
        F.sum(F.col("has_pii").cast("int")).cast("bigint").alias("n_with_pii"),
        F.sum(F.when(F.col("gopher_keep"), F.col("n_words")).otherwise(0))
         .cast("bigint").alias("kept_words"),
    )


def _pagerank_oracle(iters: int, d: float = 0.85) -> str:
    """Unrolled power-iteration oracle (recursive CTEs cannot aggregate in
    the recursive term, so the fixed iteration count is generated as a CTE
    chain).  Every float expression mirrors `operators/graph.py::pagerank`
    with exact_fold: incoming contributions fold in src order, dangling
    mass folds in node order, identical literals and association."""
    sql = """
    WITH s AS (SELECT event_type AS src,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS dst
               FROM events),
    e AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
          FROM s WHERE dst IS NOT NULL GROUP BY src, dst),
    outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
    ep AS MATERIALIZED (SELECT e.src, e.dst, e.w / outw.ow AS p
           FROM e JOIN outw USING (src)),
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank
          FROM nodes CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    dang{i} AS (SELECT COALESCE(list_aggregate(list(r.rank ORDER BY r.node),
                                               'sum'), 0.0) AS dm
                FROM r{i - 1} r LEFT JOIN outw ON r.node = outw.src
                WHERE outw.src IS NULL),
    r{i} AS MATERIALIZED (
      SELECT nodes.node,
             (1 - {d}) / nn.n
               + {d} * (COALESCE(inc.m, 0.0) + dang{i}.dm / nn.n) AS rank
      FROM nodes CROSS JOIN nn CROSS JOIN dang{i}
      LEFT JOIN (SELECT ep.dst AS node,
                        list_aggregate(list(r.rank * ep.p ORDER BY ep.src),
                                       'sum') AS m
                 FROM ep JOIN r{i - 1} r ON ep.src = r.node
                 GROUP BY ep.dst) inc USING (node))"""
    sql += f"""
    SELECT node, ROUND(rank, 6) AS rank FROM r{iters} ORDER BY node"""
    return sql


@workload("events_pagerank_transitions", oracle=_pagerank_oracle(12))
def events_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the event-type transition graph (edges =
    consecutive event types per user, weighted by transition count) —
    the generic distributed power iteration of ``operators/graph.py``
    (per round: one edges⋈ranks join + one groupBy(dst); dangling mass a
    broadcast scalar; lineage checkpointed).  ``exact_fold`` orders every
    float addition so the unrolled-CTE oracle reproduces each iteration
    bitwise; the numpy differential in ``tests/test_graph.py`` covers the
    general algorithm on random digraphs with dangling nodes."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    wdw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(F.col("event_type").alias("src"),
                  F.lead("event_type").over(wdw).alias("dst"))
    edges = (s.where(F.col("dst").isNotNull())
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    ranks = pagerank(edges, iters=12, weight_col="w", exact_fold=True)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@workload(
    "events_rolling_zscore",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, value,
             -- empty trailing frame: Spark collect_list gives [], DuckDB
             -- list() gives NULL — coalesce to align
             COALESCE(list(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                               ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING),
                      []) AS vs
      FROM events),
    st AS (
      SELECT event_id, user_id, value,
             CAST(len(vs) AS BIGINT) AS n_win,
             list_aggregate(vs, 'sum') AS s,
             list_aggregate(list_transform(vs, x -> x * x), 'sum') AS ss
      FROM base),
    z AS (
      SELECT event_id, user_id, value, n_win,
             CASE WHEN n_win >= 5
                  AND (ss - s * s / n_win) / (n_win - 1) > 0
                  THEN ROUND((value - s / n_win)
                             / sqrt((ss - s * s / n_win) / (n_win - 1)), 4)
             END AS zscore
      FROM st)
    SELECT event_id, user_id, n_win, zscore,
           COALESCE(abs(zscore) > 3.0, FALSE) AS is_anomaly
    FROM z
    """,
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each event's value z-scored against the
    TRAILING 19-event window of the same user (current row excluded — no
    self-contamination).  The window stats fold the frame's value list in
    frame order (``collect_list`` over the ROWS frame ↔ DuckDB ``list()
    OVER``), so both engines add the same floats in the same order —
    incremental sliding-window aggregates would drift.  Windows under 5
    samples or with zero variance yield NULL z (flagged false)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, -1))
    vals = F.collect_list("value").over(w)
    base = ev.select("event_id", "user_id", "value", vals.alias("vs"))
    n = F.size("vs").cast("bigint")
    s = F.aggregate("vs", F.lit(0.0), lambda a, x: a + x)
    ss = F.aggregate(F.transform("vs", lambda x: x * x),
                     F.lit(0.0), lambda a, x: a + x)
    st = base.select("event_id", "user_id", "value",
                     n.alias("n_win"), s.alias("s"), ss.alias("ss"))
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n_win")) \
        / (F.col("n_win") - 1)
    zscore = F.when(
        (F.col("n_win") >= 5) & (var > 0),
        F.round((F.col("value") - F.col("s") / F.col("n_win")) / F.sqrt(var), 4),
    )
    return (
        st.withColumn("zscore", zscore)
        .select("event_id", "user_id", "n_win", "zscore",
                F.coalesce(F.abs(F.col("zscore")) > 3.0, F.lit(False))
                 .alias("is_anomaly"))
    )


@workload(
    "fragment_merge_upsert",
    oracle=f"""
    {_FRAG_QTY_CTE},
    base AS (SELECT id_dim, measure FROM frag_qty WHERE id_dim <= 1000),
    upd AS (SELECT id_dim, list_transform(measure, x -> x * 2.0) AS measure
            FROM frag_qty WHERE id_dim > 500 AND id_dim <= 1500),
    m AS (SELECT COALESCE(u.id_dim, b.id_dim) AS id_dim,
                 COALESCE(u.measure, b.measure) AS measure
          FROM base b FULL JOIN upd u ON b.id_dim = u.id_dim)
    SELECT id_dim, CAST(len(measure) AS BIGINT) AS n_vals,
           ROUND(list_aggregate(measure, 'sum'), 6) AS total
    FROM m
    """,
)
def fragment_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO for the fragment store (``catalog.merge_upsert``):
    update rows replace same-key rows (ids 500-1000 get 2× measures),
    unmatched updates insert (ids 1000-1500), unmatched base rows
    survive (ids ≤ 500) — one full-outer equi-join with row-level
    update-wins coalesce, the Delta/Iceberg MERGE core on the in-memory
    store.  Oracle = the FULL JOIN reconstruction."""
    from ophidia_io_server_spark.catalog import merge_upsert

    frag = lineitem_fragment_cached(spark, sf_dir, "l_quantity")
    base = frag.where(F.col("id_dim") <= 1000)
    upd = frag.where((F.col("id_dim") > 500) & (F.col("id_dim") <= 1500)) \
        .select("id_dim", F.transform("measure", lambda x: x * 2.0).alias("measure"))
    merged = merge_upsert(base, upd, key="id_dim")
    return merged.select(
        "id_dim",
        F.size("measure").cast("bigint").alias("n_vals"),
        F.round(F.aggregate("measure", F.lit(0.0), lambda a, x: a + x), 6)
         .alias("total"),
    )


@workload(
    "token_heavy_hitters",
    oracle="""
    WITH t AS (
      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS item
      FROM documents WHERE text IS NOT NULL)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS BIGINT)
             AS rank
    FROM t GROUP BY item
    ORDER BY cnt DESC, item LIMIT 10
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 corpus tokens via Misra-Gries candidates + exact verify
    (``pipeline/heavy.py``): per-partition MG(64) summaries bound the
    shuffle at k·partitions rows instead of the vocabulary, then exact
    counts for candidates only.  The oracle is the full exact top-10 —
    valid because every item above n/65 support provably survives MG, and
    this corpus's 10th token sits far above that threshold (the pytest
    property test covers adversarial layouts)."""
    from ophidia_io_server_spark.pipeline.heavy import heavy_hitters
    from ophidia_io_server_spark.pipeline.text import tokens_col
    from ophidia_io_server_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.where(F.col("text").isNotNull()).select(
        F.explode(tokens_col(F.col("text"))).alias("tok"))
    top = heavy_hitters(toks, "tok", k=64, top_n=10)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    return top.select(F.col("item"), "cnt",
                      F.row_number().over(w).cast("bigint").alias("rank"))


@workload(
    "stream_heavy_hitters",
    oracle="""
    WITH t AS (
      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS item
      FROM documents WHERE text IS NOT NULL)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS BIGINT)
             AS rank,
           TRUE AS margin_ok
    FROM t GROUP BY item
    ORDER BY cnt DESC, item LIMIT 10
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy hitters with bounded state
    (``streaming/ingest.py::heavy_hitters_stream``): the token stream is
    ingested one file per trigger; per-bucket Misra-Gries counters live in
    the state store (O(k·buckets) forever — never vocabulary-sized), each
    batch emits its buckets' survivor snapshots, the max-round snapshot
    per bucket is the final candidate set, and a batch verify join
    computes exact counts for candidates only.  The oracle is the exact
    corpus top-10 — identical to the batch ``token_heavy_hitters`` row,
    proving the incremental MG survivors cover the true heavy hitters of
    the WHOLE stream, not per batch.

    ``margin_ok`` is the distribution-independence certificate (r6
    ADVICE): MG only guarantees survival for items with frequency >
    W_bucket/(k+1), so equality with the exact top-10 is conditional.
    If the 10th candidate count strictly exceeds max_b(W_b)/(k+1), then
    EVERY corpus item with count ≥ that 10th count is provably a
    survivor of its own bucket (its bucket's bound is ≤ the max), so
    the candidate top-10 — including any tie at the rank-10 cut — equals
    the true corpus top-10.  A regenerated corpus with a flatter tail
    flips this boolean (one named row) instead of nondeterministically
    scrambling the top-10 hash."""
    import os

    from ophidia_io_server_spark.streaming.ingest import (
        final_candidates,
        heavy_hitters_stream,
        run_available_now,
    )

    from ophidia_io_server_spark.pipeline.text import tokens_col

    path = staged_dir(
        sf_dir, "documents", "toks",
        lambda p: (load_table(spark, sf_dir, "documents")
                   .where(F.col("text").isNotNull())
                   .select(F.explode(tokens_col(F.col("text"))).alias("item"))
                   .repartition(6).write.parquet(p)))
    stream = (spark.readStream.schema("item string")
              .option("maxFilesPerTrigger", 1).parquet(path))
    emitted = run_available_now(
        heavy_hitters_stream(stream, "item", k=64, buckets=16),
        f"hh_{os.path.basename(path)}", output_mode="update")
    cand = final_candidates(emitted)
    corpus = spark.read.parquet(path)
    exact = (
        corpus.join(F.broadcast(cand), on="item", how="left_semi")
        .groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    # Certificate: max per-bucket token window over (k+1) — if the 10th
    # candidate count clears it, the candidate top-10 IS the corpus top-10.
    max_w = (corpus.groupBy(
                F.pmod(F.xxhash64("item"), F.lit(16)).alias("bkt"))
             .agg(F.count(F.lit(1)).alias("wb"))
             .agg(F.max("wb").alias("mx")))
    bound = (max_w.select((F.col("mx") / F.lit(64 + 1)).alias("bound")))
    top10 = (exact.orderBy(F.col("cnt").desc(), F.col("item").asc()).limit(10)
             .select("item", "cnt",
                     F.row_number().over(w).cast("bigint").alias("rank")))
    return top10.crossJoin(F.broadcast(bound)).select(
        "item", "cnt", "rank",
        (F.min("cnt").over(Window.partitionBy()) > F.col("bound"))
        .alias("margin_ok"))


@workload(
    "doc_stupid_backoff_lm",
    oracle="""
    WITH tr AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                           x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
    sc AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
    t3 AS MATERIALIZED (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
             CAST(COUNT(*) AS BIGINT) AS c3
      FROM (SELECT tk, unnest(range(1, len(tk) - 1)) AS i
            FROM tr WHERE len(tk) >= 3) GROUP BY 1, 2, 3),
    t2 AS MATERIALIZED (
      SELECT tk[i] AS a, tk[i + 1] AS b, CAST(COUNT(*) AS BIGINT) AS c2
      FROM (SELECT tk, unnest(range(1, len(tk))) AS i
            FROM tr WHERE len(tk) >= 2) GROUP BY 1, 2),
    t1 AS MATERIALIZED (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(tk) AS t FROM tr) GROUP BY t),
    nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS N,
                  CAST(COUNT(*) AS BIGINT) AS V FROM t1),
    sg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
                 FROM sc WHERE len(tk) >= 3)),
    j AS (SELECT sg.doc_id, sg.pos,
            CASE WHEN t3.c3 IS NOT NULL THEN ln(t3.c3 / p2.c2)
                 WHEN b2.c2 IS NOT NULL THEN ln(0.4 * b2.c2 / cx.c1)
                 ELSE ln(0.4 * 0.4 * (COALESCE(cw.c1, 0) + 1)
                         / (nv.N + nv.V)) END AS ls,
            CASE WHEN t3.c3 IS NOT NULL THEN 3
                 WHEN b2.c2 IS NOT NULL THEN 2 ELSE 1 END AS lvl
          FROM sg
          LEFT JOIN t3 ON sg.w1 = t3.w1 AND sg.w2 = t3.w2 AND sg.w3 = t3.w3
          LEFT JOIN t2 p2 ON sg.w1 = p2.a AND sg.w2 = p2.b
          LEFT JOIN t2 b2 ON sg.w2 = b2.a AND sg.w3 = b2.b
          LEFT JOIN t1 cx ON sg.w2 = cx.t
          LEFT JOIN t1 cw ON sg.w3 = cw.t
          CROSS JOIN nv)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backoff2,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backoff1,
           ROUND(list_aggregate(list(ls ORDER BY pos), 'sum') / COUNT(*), 6)
             AS avg_logscore
    FROM j GROUP BY doc_id
    """,
)
def doc_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff trigram LM (Brants et al. 2007 — the
    distributed-by-construction scheme: unnormalized count tables + a
    left-join cascade) scored on a true held-out split: even doc_ids
    train, odd doc_ids score, so the order-2/order-1 backoff paths fire
    on genuinely unseen n-grams (the backoff counters in the output prove
    it).  ``pipeline/lm.py::stupid_backoff_scores``; differential vs a
    Python reference in tests/test_lm.py."""
    from ophidia_io_server_spark.pipeline.lm import stupid_backoff_scores

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    score = docs.where(F.col("doc_id") % 2 == 1)
    return stupid_backoff_scores(train, score)


@workload(
    "token_pmi_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    c12 AS (SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pr GROUP BY wa, wb),
    uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c1
            FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
    tot AS (SELECT (SELECT CAST(SUM(c12) AS BIGINT) FROM c12) AS P,
                   (SELECT CAST(SUM(c1) AS BIGINT) FROM uni) AS N)
    SELECT c12.wa, c12.wb, c12.c12,
           ROUND(ln(c12.c12 / tot.P / (ca.c1 / tot.N) / (cb.c1 / tot.N)), 6)
             AS pmi
    FROM c12
    JOIN uni ca ON c12.wa = ca.t
    JOIN uni cb ON c12.wb = cb.t
    CROSS JOIN tot
    WHERE c12.c12 >= 5
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI over the corpus (±2 positions,
    ``pipeline/text.py::cooccurrence_pmi``): pairs stream off each token
    array with no self-join, one count shuffle, unigram/total joins.
    The PMI division chain is mirrored token-for-token in the oracle."""
    from ophidia_io_server_spark.pipeline.text import cooccurrence_pmi

    docs = load_table(spark, sf_dir, "documents")
    return cooccurrence_pmi(docs, window=2, min_count=5)


@workload(
    "token_triangle_counts",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS (SELECT wa AS u, wb AS v FROM pr
          WHERE wa <> wb GROUP BY wa, wb HAVING COUNT(*) >= 5),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    tn AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM (
             SELECT a AS t FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY t),
    nodes AS (SELECT u AS t FROM e UNION SELECT v FROM e)
    SELECT nodes.t AS node, COALESCE(tn.n, 0) AS n_triangles
    FROM nodes LEFT JOIN tn USING (t)
    """,
)
def token_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the token co-occurrence graph (the
    same ±2-window, count ≥ 5 edge list as LPA/PMI, self-loops dropped)
    via degree-ordered orientation (``operators/graph.triangle_counts``)
    — wedge volume bounded O(m^1.5) instead of Σdeg², each triangle
    generated once at its lowest-ordered vertex.  The oracle is the
    literal lexicographic triple self-join."""
    from ophidia_io_server_spark.operators.graph import triangle_counts
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    edges = (cooccurrence_counts(docs, window=2)
             .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb")))
             .select(F.col("wa").alias("src"), F.col("wb").alias("dst")))
    return (triangle_counts(edges)
            .select(F.col("node"), F.col("n_triangles")))


def _lpa_oracle(iters: int) -> str:
    """Unrolled synchronous-LPA oracle over the token co-occurrence graph
    (same CTE chain trick as ``_pagerank_oracle``; per-round top-1 is a
    ROW_NUMBER over the grouped vote sums with the identical
    (score DESC, label ASC) tie-break as ``operators/graph.py``)."""
    sql = """
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS MATERIALIZED (
      SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS w
      FROM pr GROUP BY wa, wb HAVING COUNT(*) >= 5),
    und AS MATERIALIZED (
      SELECT wa AS u, wb AS v, w FROM e
      UNION ALL SELECT wb AS u, wa AS v, w FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM und)"""
    for i in range(1, iters + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT und.v AS node, l.label, SUM(und.w) AS score,
               ROW_NUMBER() OVER (PARTITION BY und.v
                                  ORDER BY SUM(und.w) DESC, l.label ASC)
                 AS rn
        FROM und JOIN l{i - 1} l ON und.u = l.node
        GROUP BY und.v, l.label)
      WHERE rn = 1)"""
    sql += f"""
    SELECT node, label FROM l{iters}"""
    return sql


@workload("token_lpa_communities", oracle=_lpa_oracle(8))
def token_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (``operators/graph.py::label_propagation``) over the token
    co-occurrence graph (±2-window pairs with count ≥ 5 — the same edge
    list as ``token_pmi_pairs``, weights = co-occurrence counts).  The
    oracle replays the identical 8 fixed rounds as an unrolled
    materialized-CTE chain with the same deterministic tie-break, so the
    full (node, label) mapping hashes exactly."""
    from ophidia_io_server_spark.operators.graph import label_propagation
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    edges = (cooccurrence_counts(docs, window=2)
             .where(F.col("c12") >= 5)
             .select(F.col("wa").alias("src"), F.col("wb").alias("dst"),
                     F.col("c12").alias("w")))
    return label_propagation(edges, iters=8, weight_col="w")


@workload(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_e4 DESC, o.o_orderdate, l.l_orderkey LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the driver schema
    (o_orderpriority in place of the absent o_shippriority): segment
    filter pushed to the customer scan, broadcast customer→orders join at
    bench scale / SMJ at warehouse scale via AQE, top-10 as
    TakeOrderedAndProject.  Revenue is summed in exact 1e-4 units
    (price·(1−disc) has 4 decimals) so the aggregate is order-free."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000) \
        .cast("bigint")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue_e4").desc(), F.col("o_orderdate"),
                 F.col("l_orderkey"))
        .limit(10)
    )


@workload(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4,
           ROUND(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue_e4 DESC, c.c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter + returnflag filters
    pushed to the scans, nation broadcast, one aggregation, top-20 via
    TakeOrderedAndProject; revenue in exact 1e-4 units."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R")
    nat = load_table(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000) \
        .cast("bigint")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .select("c_custkey", "c_name", "n_name", "revenue_e4",
                F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey"))
        .limit(20)
    )


@workload(
    "doc_quality_deciles",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id, lang, n_tokens,
           CAST(NTILE(10) OVER (PARTITION BY lang
                                ORDER BY n_tokens, doc_id) AS BIGINT) AS decile,
           CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
           CAST(ROUND(PERCENT_RANK() OVER (PARTITION BY lang
                                           ORDER BY n_tokens, doc_id)
                      * (COUNT(*) OVER (PARTITION BY lang) - 1))
                AS BIGINT) AS pr_num,
           CAST(ROUND(CUME_DIST() OVER (PARTITION BY lang
                                        ORDER BY n_tokens, doc_id)
                      * COUNT(*) OVER (PARTITION BY lang))
                AS BIGINT) AS cd_num
    FROM m
    """,
)
def doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-ranking windows for quality bucketing: per-language
    NTILE deciles + percent_rank/cume_dist over token counts — the
    select-the-top-X%-per-stratum primitive of curation recipes.  Total
    order pinned by (n_tokens, doc_id) so rank functions are deterministic
    and engine-identical.  percent_rank/cume_dist are emitted as their
    EXACT integer numerators (× (n−1) / × n, recovered by round — the
    product of k/n with n is k up to one ulp): at the 10× corpus the raw
    ratios land exactly on the 6dp rounding half-grid (5000-divisor
    fractions like 0.0640625) where the engines' half-rounding rules
    disagree (PERF.md r6, third boundary)."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.text import token_count_col

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    m = docs.select("doc_id", "lang",
                    token_count_col(F.col("text")).alias("n_tokens"))
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wl = Window.partitionBy("lang")
    n_lang = F.count(F.lit(1)).over(wl)
    return m.select(
        "doc_id", "lang", "n_tokens",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        n_lang.cast("bigint").alias("n_lang"),
        F.round(F.percent_rank().over(w) * (n_lang - 1)).cast("bigint")
         .alias("pr_num"),
        F.round(F.cume_dist().over(w) * n_lang).cast("bigint").alias("cd_num"),
    )


@workload(
    "tpch_q14_promo_share",
    oracle="""
    SELECT date_trunc('month', l.l_shipdate) AS month,
           CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
                    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                    * 10000) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS promo_e4,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS total_e4,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'ECONOMY'
                    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                    * 10000) AS BIGINT) ELSE 0 END)
                 / SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)), 4) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY date_trunc('month', l.l_shipdate)
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion-revenue share) over the driver's part types:
    lineitem ⋈ broadcast(part) — the dimension fits every executor — one
    aggregation per ship month; revenue in exact 1e-4 units so sums and
    the share ratio are order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000) \
        .cast("bigint")
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("month"))
        .agg(F.sum(promo).cast("bigint").alias("promo_e4"),
             F.sum(rev).cast("bigint").alias("total_e4"))
        .select("month", "promo_e4", "total_e4",
                F.round(100.0 * F.col("promo_e4") / F.col("total_e4"), 4)
                 .alias("promo_share"))
    )


@workload(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                               * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue under a disjunction of
    brand/size/quantity clauses), adapted to the trimmed schema: the
    reference query's shipmode/container/shipinstruct conjuncts have no
    source columns, so each OR-branch keeps its brand + size + quantity
    ranges.  The shape this row pins: an OR-of-ANDs predicate spanning
    BOTH join sides still broadcasts the dimension and pushes the
    single-side conjunct residues (brand/size) into the part scan;
    revenue rides exact 1e-4 units."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                  * 10000).cast("bigint")
    branch = [
        (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11),
        (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20),
        (F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30),
    ]
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .where(branch[0] | branch[1] | branch[2])
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"),
             F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )


def _profile_oracle_block(col: str, numeric: bool) -> str:
    base = (f"SELECT '{col}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_null, CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, ")
    if numeric:
        base += (f"CAST(MIN({col}) AS DOUBLE) AS min_num, "
                 f"CAST(MAX({col}) AS DOUBLE) AS max_num, "
                 f"ROUND(SUM(CAST(ROUND({col} * 100) AS BIGINT)) / 100 "
                 f"/ COUNT({col}), 6) AS mean_num ")
    else:
        base += ("CAST(NULL AS DOUBLE) AS min_num, "
                 "CAST(NULL AS DOUBLE) AS max_num, "
                 "CAST(NULL AS DOUBLE) AS mean_num ")
    return base + "FROM orders"


@workload(
    "orders_profile",
    oracle=" UNION ALL ".join(
        _profile_oracle_block(c, n) for c, n in (
            ("o_orderkey", True), ("o_custkey", True), ("o_orderstatus", False),
            ("o_totalprice", True), ("o_orderdate", False),
            ("o_orderpriority", False),
        )),
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report over orders (``operators/profile.py``): every
    column's cardinality/null stats plus numeric min/max/mean in ONE wide
    aggregation (single scan — plan-shape pinned in tests), unpivoted to
    one row per column with no driver round-trip.  Means use exact
    2-decimal integer-scaled sums so the hash gate sees order-free
    values; the oracle is the per-column UNION ALL formulation."""
    from ophidia_io_server_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"), mean_decimals=2)


@workload(
    "events_value_median",
    oracle="""
    WITH g AS (SELECT event_type, list_sort(list(value)) AS vs,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND(CASE WHEN n % 2 = 1 THEN vs[(n + 1) // 2]
                 ELSE (vs[n // 2] + vs[n // 2 + 1]) / 2 END, 6) AS median,
           ROUND(vs[(n + 3) // 4], 6) AS q1_lower
    FROM g
    """,
)
def events_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median via sorted aggregation (the deterministic
    counterpart of the `sketch_approx_stats` approximate quantiles): one
    shuffle, per-group sorted value list, explicit element selection so
    both engines implement the identical midpoint rule (no engine-specific
    percentile interpolation).  Per-group collect is bounded by group
    cardinality — the documented trade vs the sketch path at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.array_sort(F.collect_list("value")).alias("vs"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    n = F.col("n")
    vs = F.col("vs")
    median = F.when(
        n % 2 == 1, F.element_at(vs, F.expr("CAST((n + 1) div 2 AS INT)"))
    ).otherwise(
        (F.element_at(vs, F.expr("CAST(n div 2 AS INT)"))
         + F.element_at(vs, F.expr("CAST(n div 2 + 1 AS INT)"))) / 2)
    return g.select(
        "event_type", "n",
        F.round(median, 6).alias("median"),
        F.round(F.element_at(vs, F.expr("CAST((n + 3) div 4 AS INT)")), 6)
         .alias("q1_lower"),
    )


@workload(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking) adapted to the driver schema
    (returnflag='R' as the lateness predicate): the EXISTS subquery runs
    as a LEFT SEMI hash join — lineitem never multiplies order rows, the
    filter pushes to both scans."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@workload(
    "events_session_outage_overlap",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq),
    sints AS (SELECT user_id, MIN(ts) AS s_start,
                     MAX(ts) + INTERVAL 30 MINUTE AS s_end
              FROM sess GROUP BY user_id, sid),
    err AS (SELECT user_id, ts, ts + INTERVAL 30 MINUTE AS e
            FROM events WHERE event_type = 'error'),
    eseq AS (
      SELECT user_id, ts, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY ts, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR ts > MAX(e) OVER (PARTITION BY user_id ORDER BY ts, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_w
      FROM err),
    ew AS (SELECT user_id, ts, e,
                  SUM(new_w) OVER (PARTITION BY user_id ORDER BY ts, e
                                   ROWS UNBOUNDED PRECEDING) AS wid
           FROM eseq),
    outages AS (SELECT user_id, MIN(ts) AS outage_start,
                       MAX(e) AS outage_end
                FROM ew GROUP BY user_id, wid)
    SELECT s.user_id, s.s_start, s.s_end, o.outage_start, o.outage_end
    FROM sints s JOIN outages o
      ON s.user_id = o.user_id
     AND s.s_start < o.outage_end AND o.outage_start < s.s_end
    """,
)
def events_session_outage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (``operators/temporal.py::
    interval_overlap_join``): per-user activity sessions (30-min gap rule,
    extended 30 min past the last event) overlapped with merged error-
    outage windows.  Each overlapping pair is emitted at exactly ONE
    shared time bucket (max of the two first-buckets) — no distinct pass —
    with the residual predicate making the match exact.  Oracle = the
    plain inequality join."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.operators.temporal import (
        interval_overlap_join,
        merge_intervals,
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsl = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = (tsl - F.lag(tsl).over(w)) > 1800 * 1_000_000
    sess = (
        ev.withColumn("new_s", F.when(gap, 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"),
             (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"))
        .drop("sid")
    )
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"))
    outages = merge_intervals(err, on="user_id").select(
        "user_id", F.col("start_ts").alias("outage_start"),
        F.col("end_ts").alias("outage_end"))
    return interval_overlap_join(
        sess, outages, on="user_id",
        left_start="s_start", left_end="s_end",
        right_start="outage_start", right_end="outage_end",
        bin_seconds=1800,
    ).select("user_id", "s_start", "s_end", "outage_start", "outage_end")


@workload(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (SELECT l_orderkey FROM lineitem
                 GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN big ON o.o_orderkey = big.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY total_cents DESC, o.o_orderkey LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the HAVING subquery runs as an
    aggregate + semi-style join on orderkey — lineitem is aggregated
    FIRST, so the big-order filter prunes orders before the wide join;
    l_quantity is integral-valued so its double sums are order-free, and
    price goes through exact cents.  Top-100 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
           .where(F.col("q") > 180).select("l_orderkey"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(big.withColumnRenamed("l_orderkey", "big_ok"),
              F.col("o_orderkey") == F.col("big_ok"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("total_cents"), "sum_qty")
        .orderBy(F.col("total_cents").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@workload(
    "stream_temperature_mix",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT list_aggregate(list(pow(n_docs, 0.7) ORDER BY lang), 'sum')
                   AS denom,
                 CAST(SUM(n_docs) AS BIGINT) AS n_total
          FROM c)
    SELECT c.lang, c.n_docs,
           ROUND(pow(c.n_docs, 0.7) / t.denom, 6) AS weight,
           ROUND(LEAST(1.0, pow(c.n_docs, 0.7) / t.denom * t.n_total * 0.5
                            / c.n_docs), 6) AS target_rate,
           TRUE AS stream_equals_batch,
           TRUE AS rate_ok
    FROM c CROSS JOIN t
    """,
)
def stream_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-temperature mixing as an INCREMENTAL stage
    (``pipeline/mixing.py::temperature_mix_stream``): the corpus
    re-ingested as a one-file-per-trigger parquet stream, the batch-built
    rate plan applied as a broadcast stream-static join + deterministic
    hash-Bernoulli keep in each micro-batch.  The gate booleans prove (a)
    ``stream_equals_batch``: per-source selected counts over the drained
    stream are EXACTLY the batch ``temperature_sample`` counts — the fixed
    deterministic plan makes incremental application row-identical, the
    property that lets an epoch's mix be applied on the fly; (b)
    ``rate_ok``: selection lands inside the 4σ binomial envelope of the
    SQL-mirrored plan rates."""
    import os

    from ophidia_io_server_spark.pipeline.mixing import (
        source_mixing_plan,
        temperature_mix_stream,
        temperature_sample,
    )
    from ophidia_io_server_spark.streaming.ingest import run_available_now

    docs = load_table(spark, sf_dir, "documents")
    path = staged_dir(
        sf_dir, "documents", "mix",
        lambda p: docs.select("doc_id", "lang").repartition(8).write.parquet(p))
    plan = source_mixing_plan(docs, 0.7, 0.5, source_col="lang")
    stream = (
        spark.readStream.schema("doc_id long, lang string")
        .option("maxFilesPerTrigger", 1).parquet(path)
    )
    mixed = temperature_mix_stream(stream, plan, source_col="lang",
                                   key_col="doc_id", seed=11)
    landed = run_available_now(mixed, f"mix_{os.path.basename(path)}",
                               output_mode="append")
    n_stream = landed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stream"))
    n_batch = (
        temperature_sample(docs, 0.7, 0.5, source_col="lang",
                           key_col="doc_id", seed=11)
        .groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    )
    sd = F.sqrt(F.col("target_rate") * (1 - F.col("target_rate")) * F.col("n_docs"))
    return (
        plan.join(n_stream, on="lang", how="left")
        .join(n_batch, on="lang", how="left")
        .select(
            "lang", "n_docs", "weight", "target_rate",
            (F.coalesce(F.col("n_stream"), F.lit(0))
             == F.coalesce(F.col("n_batch"), F.lit(0)))
             .alias("stream_equals_batch"),
            (F.abs(F.coalesce(F.col("n_stream"), F.lit(0))
                   - F.col("target_rate") * F.col("n_docs"))
             <= 4 * sd + 1).alias("rate_ok"),
        )
    )


@workload(
    "doc_kneser_ney_lm",
    oracle="""
    WITH tr AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                           x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
    sc AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
    bg AS MATERIALIZED (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM (SELECT tk, unnest(range(1, len(tk))) AS i
            FROM tr WHERE len(tk) >= 2) GROUP BY 1, 2),
    cc AS MATERIALIZED (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn1,
             CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tn2,
             CAST(SUM(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS tn3p
      FROM bg GROUP BY w1),
    cont AS MATERIALIZED (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nprec FROM bg GROUP BY w2),
    voc AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS V
            FROM (SELECT unnest(tk) AS t FROM tr)),
    coc AS (SELECT
      CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      CAST(SUM(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      CAST(SUM(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
      CAST(COUNT(*) AS BIGINT) AS T FROM bg),
    ys AS (SELECT coc.*, voc.V,
                  n1 / NULLIF(n1 + 2.0 * n2, 0.0) AS y
           FROM coc CROSS JOIN voc),
    ds AS (SELECT T, V,
      least(greatest(COALESCE(
        1.0 - 2.0 * y * n2 / NULLIF(CAST(n1 AS DOUBLE), 0.0), 0.75),
        0.0), 1.0) AS d1,
      least(greatest(COALESCE(
        2.0 - 3.0 * y * n3 / NULLIF(CAST(n2 AS DOUBLE), 0.0), 0.75),
        0.0), 2.0) AS d2,
      least(greatest(COALESCE(
        3.0 - 4.0 * y * n4 / NULLIF(CAST(n3 AS DOUBLE), 0.0), 0.75),
        0.0), 3.0) AS d3
      FROM ys),
    sg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
                 FROM sc WHERE len(tk) >= 2)),
    j AS (SELECT sg.doc_id, sg.pos,
            ln(CASE WHEN cc.c1 IS NOT NULL THEN
                 (CASE WHEN bg.c12 IS NULL THEN 0.0
                       WHEN bg.c12 = 1 THEN bg.c12 - ds.d1
                       WHEN bg.c12 = 2 THEN bg.c12 - ds.d2
                       ELSE bg.c12 - ds.d3 END) / cc.c1
                 + (ds.d1 * cc.tn1 + ds.d2 * cc.tn2 + ds.d3 * cc.tn3p)
                   / cc.c1
                   * ((COALESCE(cont.nprec, 0) + 1) / (ds.T + ds.V))
               ELSE (COALESCE(cont.nprec, 0) + 1) / (ds.T + ds.V) END) AS ls,
            CASE WHEN bg.c12 IS NOT NULL THEN 2
                 WHEN cc.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
          FROM sg
          LEFT JOIN bg ON sg.w1 = bg.w1 AND sg.w2 = bg.w2
          LEFT JOIN cc ON sg.w1 = cc.w1
          LEFT JOIN cont ON sg.w2 = cont.w2
          CROSS JOIN ds)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen_pair,
           CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen_ctx,
           ROUND(list_aggregate(list(ls ORDER BY pos), 'sum') / COUNT(*), 6)
             AS avg_logprob,
           ROUND(exp(-(list_aggregate(list(ls ORDER BY pos), 'sum')
                       / COUNT(*))), 6) AS ppl
    FROM j GROUP BY doc_id
    """,
)
def doc_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated modified Kneser-Ney bigram LM (Chen & Goodman 1998 /
    the KenLM default smoother) on the count-table architecture, scored on
    a held-out split (even doc_ids train, odd score) so the unseen-pair
    and unseen-context interpolation paths fire and their counters land in
    the hash.  ``pipeline/lm.py::kneser_ney_scores``; differential vs a
    Python reference + a Σ_w P(w|ctx) = 1 normalization proof in
    tests/test_lm.py."""
    from ophidia_io_server_spark.pipeline.lm import kneser_ney_scores

    docs = load_table(spark, sf_dir, "documents")
    return kneser_ney_scores(docs.where(F.col("doc_id") % 2 == 0),
                             docs.where(F.col("doc_id") % 2 == 1))


@workload(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) AS BIGINT) AS total_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, rev.total_e4
    FROM supplier s
    JOIN rev ON s.s_suppkey = rev.supplier_no
    WHERE rev.total_e4 = (SELECT MAX(total_e4) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the revenue-view + MAX-of-aggregate
    subquery shape — the quarter's per-supplier revenue is aggregated
    ONCE, checkpointed (both the max probe and the final join read it),
    the scalar max broadcasts through a one-row cross join, and revenue is
    exact 1e-4 integer units so the MAX comparison cannot drift."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01"))
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * 10000).cast("bigint")).cast("bigint")
             .alias("total_e4"))
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_e4").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(rev, s["s_suppkey"] == rev["supplier_no"])
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_e4") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_e4")
    )


@workload(
    "events_hopping_window",
    oracle="""
    SELECT win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
             event_type, value
      FROM events
    )
    GROUP BY win_start, event_type
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) window aggregate — 2 h windows every 1 h, so each
    event lands in exactly TWO overlapping windows (the tumbling
    ``events_hourly_window``'s overlapping sibling; Spark's
    ``F.window(slideDuration)`` compiles to a windows-per-row explode +
    the same partial-aggregatable groupBy, so the 100 TB shape is one
    scan + one exchange at 2x row fanout).  The oracle materializes the
    same two window starts per event with unnest."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"),
                   "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             exact_cents_sum("value").alias("total_cents"))
        .select(F.col("w.start").alias("win_start"), "event_type",
                "n_events", "total_cents")
    )


@workload(
    "events_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sxx
      FROM events
      WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY event_type
    ),
    ab AS (
      SELECT
        (SELECT n FROM s WHERE event_type = 'purchase') AS na,
        (SELECT sx FROM s WHERE event_type = 'purchase') AS sxa,
        (SELECT sxx FROM s WHERE event_type = 'purchase') AS sxxa,
        (SELECT n FROM s WHERE event_type = 'click') AS nb,
        (SELECT sx FROM s WHERE event_type = 'click') AS sxb,
        (SELECT sxx FROM s WHERE event_type = 'click') AS sxxb
    )
    SELECT na, nb,
           ROUND(CAST(sxa AS DOUBLE) / na / 100, 6) AS mean_a,
           ROUND(CAST(sxb AS DOUBLE) / nb / 100, 6) AS mean_b,
           ROUND((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
                 / sqrt((CAST(sxxa AS DOUBLE) / na
                         - (CAST(sxa AS DOUBLE) / na)
                           * (CAST(sxa AS DOUBLE) / na)) / (na - 1)
                        + (CAST(sxxb AS DOUBLE) / nb
                           - (CAST(sxb AS DOUBLE) / nb)
                             * (CAST(sxb AS DOUBLE) / nb)) / (nb - 1)),
                 6) AS t_stat
    FROM ab
    """,
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-statistic (unequal variances) between the
    purchase and click value distributions — the A/B-test primitive, as
    ONE scan-only aggregate: per-group (n, Σx, Σx²) on the exact integer
    cents grid, then the t formula evaluated ONCE from those six exact
    integers (identical IEEE expression both engines, rounded 6).  At
    100 TB this is a single partial-aggregatable pass — no per-row
    Python, no shuffle beyond the 2-group aggregate."""
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("event_type").isin("purchase", "click")
                 & F.col("value").isNotNull() & ~F.isnan("value")))
    cents = F.round(F.col("value") * 100).cast("bigint")
    s = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum(cents).cast("bigint").alias("sx"),
              F.sum(cents * cents).cast("bigint").alias("sxx")))
    a = (s.where(F.col("event_type") == "purchase")
         .select(F.col("n").alias("na"), F.col("sx").alias("sxa"),
                 F.col("sxx").alias("sxxa")))
    b = (s.where(F.col("event_type") == "click")
         .select(F.col("n").alias("nb"), F.col("sx").alias("sxb"),
                 F.col("sxx").alias("sxxb")))
    ma = F.col("sxa").cast("double") / F.col("na")
    mb = F.col("sxb").cast("double") / F.col("nb")
    va = (F.col("sxxa").cast("double") / F.col("na") - ma * ma) \
        / (F.col("na") - 1)
    vb = (F.col("sxxb").cast("double") / F.col("nb") - mb * mb) \
        / (F.col("nb") - 1)
    return (a.crossJoin(F.broadcast(b))  # two single-row invariant frames
            .select("na", "nb",
                    F.round(ma / 100, 6).alias("mean_a"),
                    F.round(mb / 100, 6).alias("mean_b"),
                    F.round((ma - mb) / F.sqrt(va + vb), 6).alias("t_stat")))


@workload(
    "events_spatial_neighbors",
    oracle="""
    WITH p AS (
      SELECT event_id,
             (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000) / 1000000.0 AS x,
             (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 17, 15))
                   AS BIGINT) % 1000000) / 1000000.0 AS y
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           ROUND(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM p a JOIN p b ON a.event_id < b.event_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 0.01 * 0.01
    """,
)
def events_spatial_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius spatial self-join (``operators/spatial.py``): all
    purchase pairs within Euclidean distance 0.01 on the unit square,
    with coordinates derived DETERMINISTICALLY from md5(event_id) (the
    testdata carries no geo columns; the derivation is the repo's 60-bit
    md5-priority convention, mirrored bit-for-bit in the oracle).  The
    operator grid-buckets into radius-sized cells + 3×3 neighbor
    equi-join — candidates linear in points for bounded density; the
    oracle is the literal O(n²) distance join, so the hash proves both
    soundness AND completeness of the grid pruning."""
    from ophidia_io_server_spark.operators.spatial import radius_self_join

    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    pts = (ev.where(F.col("event_type") == "purchase")
           .select("event_id",
                   (F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
                    % 1000000 / 1000000.0).alias("x"),
                   (F.conv(F.substring(h, 17, 15), 16, 10).cast("bigint")
                    % 1000000 / 1000000.0).alias("y")))
    return radius_self_join(pts, radius=0.01, id_col="event_id")


@workload(
    "events_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, value,
             ts, event_id
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    w AS (
      SELECT hour_start, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT hour_start, event_type,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY hour_start, event_type
    """,
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series downsampling (the financial-bar resample): per
    (hour, event_type) the first value (open), max (high), min (low),
    last value (close) and count — via ``min_by``/``max_by`` over the
    total (ts, event_id) order, so ties at equal timestamps break
    deterministically on the unique event id.  Pure hash-aggregate
    (min_by/max_by are partial-aggregatable): ONE exchange at any scale,
    no window sort — the oracle takes the window-function route and must
    agree.  Values pass through untouched (comparisons only) — no
    accumulation-order drift."""
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & ~F.isnan("value")))
    o = F.struct("ts", "event_id")
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"),
                       "event_type")
            .agg(F.min_by("value", o).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", o).alias("close"),
                 F.count(F.lit(1)).cast("bigint").alias("n")))


@workload(
    "events_mannwhitney_utest",
    oracle="""
    WITH g AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in_a
      FROM events
      WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL AND NOT isnan(value)
    ),
    c AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(in_a) AS BIGINT) AS cnt_a
      FROM g GROUP BY v
    ),
    cum AS (SELECT v, cnt, cnt_a, SUM(cnt) OVER (ORDER BY v) AS cum FROM c),
    agg AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(MAX(cum) AS BIGINT) AS n,
             SUM(CAST(cnt_a AS DECIMAL(19,0))
                 * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0))) AS r2,
             SUM(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
                 * CAST(cnt AS DECIMAL(19,0))
                 - CAST(cnt AS DECIMAL(19,0))) AS ties
      FROM cum
    )
    SELECT na, CAST(n - na AS BIGINT) AS nb,
           ROUND(CAST(r2 - CAST(na AS DECIMAL(19,0)) * (na + 1)
                      AS DOUBLE) / 2, 4) AS u_stat,
           ROUND((CAST(r2 - CAST(na AS DECIMAL(19,0)) * (na + 1)
                       AS DOUBLE) / 2
                  - CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE) / 2)
                 / sqrt(CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE) / 12
                        * (CAST(n AS DOUBLE) + 1
                           - CAST(ties AS DOUBLE)
                             / (CAST(n AS DOUBLE)
                                * (CAST(n AS DOUBLE) - 1)))), 6) AS z
    FROM agg
    """,
)
def events_mannwhitney_utest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test — the NON-parametric
    sibling of ``events_welch_ttest`` on the same two groups: are
    'purchase' values stochastically larger than 'click' values?  Exact
    tie handling: tied observations share their AVERAGE rank, and the
    normal approximation's variance carries the standard tie correction
    ``na·nb/12·(n+1 − Σ(t³−t)/(n(n−1)))``.

    Scale design: ranks never materialize per row — the engine groups by
    DISTINCT value (cents grid), runs the two-phase distributed prefix
    sum (``operators/ranking.py::global_prefix_sum``) over the value
    order, and derives each tie group's average rank from its inclusive
    cumulative count: ``avg_rank = cum − (cnt−1)/2``.  The doubled rank
    sum ``Σ cnt_a·(2·cum − cnt + 1)`` and the tie term accumulate as
    exact DECIMAL(19/38,0) integers (digit budget: 2·na·n ≤ 10^38 and
    Σt³ ≤ n³ → n ≤ 4.6·10^12 rows), and U and z are single IEEE
    expressions over casts of those exact integers — bitwise identical
    across engines, the integer-money-grid discipline."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    dec = "decimal(19,0)"
    ev = load_table(spark, sf_dir, "events")
    g = (ev.where(F.col("event_type").isin("purchase", "click")
                  & F.col("value").isNotNull() & ~F.isnan("value"))
         .select(F.round(F.col("value") * 100).cast("bigint").alias("v"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("in_a")))
    c = g.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("in_a").cast("bigint").alias("cnt_a"))
    cum = global_prefix_sum(c, ["v"], "cnt")
    cnt, cnt_a = F.col("cnt").cast(dec), F.col("cnt_a").cast(dec)
    agg = cum.agg(
        F.sum("cnt_a").cast("bigint").alias("na"),
        F.max("cum").cast("bigint").alias("n"),
        F.sum(cnt_a * (2 * F.col("cum").cast(dec) - cnt + 1)).alias("r2"),
        F.sum(cnt * cnt * cnt - cnt).alias("ties"))
    na, n = F.col("na"), F.col("n")
    nad, nbd = na.cast("double"), (n - na).cast("double")
    nd = n.cast("double")
    u = (F.col("r2") - na.cast(dec) * (na + 1)).cast("double") / 2
    var = (nad * nbd / 12
           * (nd + 1 - F.col("ties").cast("double") / (nd * (nd - 1))))
    return agg.select(
        na.alias("na"), (n - na).cast("bigint").alias("nb"),
        F.round(u, 4).alias("u_stat"),
        F.round((u - nad * nbd / 2) / F.sqrt(var), 6).alias("z"))


@workload(
    "events_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, hr, y,
             CASE WHEN COUNT(*) OVER w = 25
                  THEN SUM(y) OVER w END AS sum25
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    seas AS (
      SELECT event_type, EXTRACT(hour FROM hr) AS hod,
             CAST(SUM(25 * y - sum25) AS BIGINT) AS s_num,
             CAST(25 * COUNT(*) AS BIGINT) AS s_den
      FROM tr WHERE sum25 IS NOT NULL GROUP BY 1, 2
    )
    SELECT t.event_type, t.hr, t.y,
           CAST(t.sum25 AS DOUBLE) / 25 AS trend,
           CAST(s.s_num AS DOUBLE) / CAST(s.s_den AS DOUBLE) AS seasonal,
           CAST(t.y AS DOUBLE) - CAST(t.sum25 AS DOUBLE) / 25
                 - CAST(s.s_num AS DOUBLE) / CAST(s.s_den AS DOUBLE)
             AS resid
    FROM tr t
    JOIN seas s ON s.event_type = t.event_type
                AND s.hod = EXTRACT(hour FROM t.hr)
    WHERE t.sum25 IS NOT NULL
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event-count
    series per type (trend = centered 25-point moving average, daily
    seasonal = mean of the detrended values per hour-of-day, residual =
    y − trend − seasonal; Kendall/Stuart classical decomposition — the
    moving-average step of STL without loess).  Edge hours without a
    full ±12 window carry no trend and are excluded, as classical
    decomposition prescribes.  The seasonal component is NOT mean-
    centered (documented divergence from R's ``decompose``, which
    subtracts the seasonal's own mean — omitting it keeps every quantity
    an exact rational of integer counts).

    Scale design: the raw corpus collapses FIRST via a partial-
    aggregatable groupBy to the (type, hour) count table — bounded by
    the TIME SPAN × type count, not the data (a year is 8.8k rows/type)
    — and every window/join below runs on that bounded series, so the
    per-type window partition is span-sized, never data-sized.  All
    arithmetic is exact-integer (sum25, 25·y − sum25) until one final
    IEEE expression per column — UN-rounded (r14): single correctly-
    rounded divisions and fixed-order subtractions are IEEE-determined
    and therefore cross-engine bitwise, whereas a trailing
    ROUND(double, 6) readout is engine/version-dependent on ties and
    near-ties (the r13 driver-gate red on this row's suite; see
    ``events_ewma_halflife`` for the decode)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-12, 12))
    tr = hourly.withColumn(
        "sum25",
        F.when(F.count(F.lit(1)).over(w) == 25, F.sum("y").over(w)))
    tr = tr.where(F.col("sum25").isNotNull())
    seas = (tr.groupBy("event_type",
                       F.hour("hr").alias("hod"))
            .agg(F.sum(25 * F.col("y") - F.col("sum25")).cast("bigint")
                 .alias("s_num"),
                 (25 * F.count(F.lit(1))).cast("bigint").alias("s_den")))
    trend = F.col("sum25").cast("double") / 25
    seasonal = F.col("s_num").cast("double") / F.col("s_den").cast("double")
    return (tr.withColumn("hod", F.hour("hr"))
            .join(seas, ["event_type", "hod"])
            .select("event_type", "hr", "y",
                    trend.alias("trend"),
                    seasonal.alias("seasonal"),
                    (F.col("y").cast("double") - trend - seasonal)
                    .alias("resid")))


@workload(
    "events_acf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    led AS (
      SELECT event_type, y,
             unnest([1, 2, 3, 4, 5, 6]) AS lag,
             unnest([lead(y, 1) OVER w, lead(y, 2) OVER w,
                     lead(y, 3) OVER w, lead(y, 4) OVER w,
                     lead(y, 5) OVER w, lead(y, 6) OVER w]) AS yl
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS t,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS q
      FROM hourly GROUP BY 1
    ),
    cr AS (
      SELECT event_type, lag,
             CAST(COUNT(yl) AS BIGINT) AS np,
             SUM(CASE WHEN yl IS NOT NULL
                      THEN CAST(y AS DECIMAL(19,0)) END) AS a,
             SUM(CAST(yl AS DECIMAL(19,0))) AS b,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(yl AS DECIMAL(19,0)))
               AS cross_s
      FROM led GROUP BY 1, 2
    )
    SELECT c.event_type, CAST(c.lag AS BIGINT) AS lag, c.np AS n_pairs,
           ROUND(CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n AS DECIMAL(19,0))
                        * c.cross_s
                      - CAST(t.n AS DECIMAL(19,0)) * CAST(t.t AS DECIMAL(19,0))
                        * (c.a + c.b)
                      + CAST(c.np AS DECIMAL(19,0))
                        * CAST(t.t AS DECIMAL(19,0))
                        * CAST(t.t AS DECIMAL(19,0)) AS DOUBLE)
                 / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n AS DECIMAL(19,0))
                          * t.q
                        - CAST(t.n AS DECIMAL(19,0))
                          * CAST(t.t AS DECIMAL(19,0))
                          * CAST(t.t AS DECIMAL(19,0)) AS DOUBLE), 6) AS acf
    FROM cr c JOIN tot t USING (event_type)
    """,
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of the hourly event-count series,
    lags 1-6 per event type — the standard Box-Jenkins estimator
    ``r_ℓ = Σ_{t≤n−ℓ}(y_t−ȳ)(y_{t+ℓ}−ȳ) / Σ_{t≤n}(y_t−ȳ)²`` (full-series
    mean and denominator, as ACF prescribes).  Clearing ȳ = T/n through
    both sums turns the ratio into exact integers:
    ``(n²·Σcross − n·T·(A+B) + n_pairs·T²) / (n²·Σy² − n·T²)`` with A/B
    the aligned partial sums — one IEEE division at the end, rounded 6.

    Scale design: like ``events_seasonal_decompose``, everything runs on
    the partial-aggregated (type, hour) series — span-sized, not
    data-sized; the 6 leads compute in ONE window pass and unpivot via
    explode.  DECIMAL(19/38,0) accumulation budget: n²·Σcross ≤ n³·y²
    → a decade of hours (10^5) at 10^9 events/hour fits with 10^5 digits
    to spare."""
    from pyspark.sql import Window

    dec = "decimal(19,0)"
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = Window.partitionBy("event_type").orderBy("hr")
    LAGS = [1, 2, 3, 4, 5, 6]
    with_leads = hourly.select(
        "event_type", "y",
        *[F.lead("y", k).over(w).alias(f"_l{k}") for k in LAGS])
    led = (with_leads.select(
        "event_type", "y",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"_l{k}").alias("yl"))
            for k in LAGS])).alias("p"))
        .select("event_type", "y", "p.lag", "p.yl"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("t"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("q"))
    cr = led.groupBy("event_type", "lag").agg(
        F.count("yl").cast("bigint").alias("np"),
        F.sum(F.when(F.col("yl").isNotNull(), F.col("y").cast(dec)))
        .alias("a"),
        F.sum(F.col("yl").cast(dec)).alias("b"),
        F.sum(F.col("y").cast(dec) * F.col("yl").cast(dec))
        .alias("cross_s"))
    n, t = F.col("n").cast(dec), F.col("t").cast(dec)
    num = (n * n * F.col("cross_s") - n * t * (F.col("a") + F.col("b"))
           + F.col("np").cast(dec) * t * t)
    den = n * n * F.col("q") - n * t * t
    return (cr.join(tot, "event_type")
            .select("event_type", F.col("lag").cast("bigint").alias("lag"),
                    F.col("np").alias("n_pairs"),
                    F.round(num.cast("double") / den.cast("double"), 6)
                    .alias("acf")))


@workload(
    "events_ks_test",
    oracle="""
    WITH g AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in_a
      FROM events
      WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL AND NOT isnan(value)
    ),
    c AS (
      SELECT v, CAST(SUM(in_a) AS BIGINT) AS cnt_a,
             CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b
      FROM g GROUP BY v
    ),
    cum AS (
      SELECT v, SUM(cnt_a) OVER (ORDER BY v) AS cum_a,
             SUM(cnt_b) OVER (ORDER BY v) AS cum_b
      FROM c
    ),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt_b) AS BIGINT) AS nb
      FROM c
    ),
    d AS (
      SELECT na, nb,
             MAX(ABS(CAST(nb AS DECIMAL(19,0)) * CAST(cum_a AS DECIMAL(19,0))
                     - CAST(na AS DECIMAL(19,0))
                       * CAST(cum_b AS DECIMAL(19,0)))) AS dmax
      FROM cum CROSS JOIN tot GROUP BY na, nb
    )
    SELECT na, nb,
           ROUND(CAST(dmax AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d_stat,
           ROUND(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                 * CAST(dmax AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat
    FROM d
    """,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — the DISTRIBUTIONAL
    member of the test family (Welch compares means, Mann-Whitney
    compares stochastic order, KS compares whole CDFs): ``D = max_x
    |F_a(x) − F_b(x)|`` between 'purchase' and 'click' values, plus the
    scaled statistic ``√(na·nb/(na+nb))·D``.

    Scale design: the supremum is INTEGER-decided — both empirical CDFs
    come from ONE shared two-phase distributed prefix-sum pass over the
    distinct-value table (the multi-column ``global_prefix_sum``: one
    range exchange carries both groups' running counts), and
    ``max |nb·cum_a − na·cum_b|`` is an exact DECIMAL max (budget:
    na·nb ≤ 10^38 — 10^19 rows per group), so both engines pick the
    same maximizing value; only the final normalizations are IEEE."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    dec = "decimal(19,0)"
    ev = load_table(spark, sf_dir, "events")
    g = (ev.where(F.col("event_type").isin("purchase", "click")
                  & F.col("value").isNotNull() & ~F.isnan("value"))
         .select(F.round(F.col("value") * 100).cast("bigint").alias("v"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("in_a")))
    c = g.groupBy("v").agg(
        F.sum("in_a").cast("bigint").alias("cnt_a"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cnt_b"))
    # na/nb come off the shared prefix sum's own offset collect
    # (return_total) as LITERALS — the old 1-row "tot" re-aggregate over
    # the cum blocks and its broadcast are gone from the plan
    cum, (na, nb) = global_prefix_sum(c, ["v"], ["cnt_a", "cnt_b"],
                                      cum_col=["cum_a", "cum_b"],
                                      return_total=True)
    na, nb = int(na), int(nb)
    dmax = cum.agg(
        F.max(F.abs(F.lit(nb).cast(dec) * F.col("cum_a").cast(dec)
                    - F.lit(na).cast(dec) * F.col("cum_b").cast(dec)))
        .alias("dmax"))
    nad, nbd = float(na), float(nb)
    d = F.col("dmax").cast("double") / F.lit(nad * nbd)
    return dmax.select(
        F.lit(na).cast("bigint").alias("na"),
        F.lit(nb).cast("bigint").alias("nb"),
        F.round(d, 6).alias("d_stat"),
        F.round(F.lit(math.sqrt(nad * nbd / (nad + nbd))) * d, 6)
        .alias("ks_stat"))


@workload(
    "events_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(SUM(n_ij) AS BIGINT) AS r_i
          FROM cells GROUP BY 1),
    cc AS (SELECT hod, CAST(SUM(n_ij) AS BIGINT) AS c_j
           FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_ij) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT hod) AS BIGINT) AS nc
      FROM cells
    ),
    q AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, MAX(n) AS n,
             MAX(nr) AS nr, MAX(nc) AS nc,
             SUM((CAST(n AS HUGEINT) * n_ij * n_ij * 1000000000)
                 // (CAST(r_i AS HUGEINT) * c_j)) AS s
      FROM cells JOIN r USING (event_type) JOIN cc USING (hod)
           CROSS JOIN tot
    )
    SELECT n, n_cells,
           ROUND(CAST(s AS DOUBLE) / 1e9 - CAST(n AS DOUBLE), 6) AS chi2,
           ROUND(sqrt((CAST(s AS DOUBLE) / 1e9 - CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE)
                         * (CAST(LEAST(nr, nc) AS DOUBLE) - 1))), 6)
             AS cramers_v
    FROM q
    """,
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test + Cramér's V for the
    event_type × hour-of-day contingency table — is traffic mix
    time-of-day dependent?  Uses the algebraic form ``χ² = n·Σ n_ij² /
    (r_i·c_j) − n`` so no per-cell expected-count subtraction is needed.

    Determinism at scale: a double SUM over the cells is order-dependent
    (Spark's partial aggregation order varies run to run, let alone
    engine to engine), so each cell's term is FLOOR-SCALED to the exact
    integer ``(n·n_ij²·10⁹) div (r_i·c_j)`` and summed exactly; the
    accumulated truncation is < n_cells·10⁻⁹ — three orders below the
    round-6 output grid.  Digit budget: n·n_ij²·10⁹ ≤ 10^38 → n_ij ≤
    ~3·10⁸ per cell at 10^12 rows (raise the scale factor's trade-off
    consciously past that).  The contingency table itself is
    config-bounded (types × 24), so every join here is enum-sized."""
    dec = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events")
    cells = (ev.groupBy("event_type", F.hour("ts").alias("hod"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_ij")))
    from ophidia_io_server_spark.pin import pinned
    cells = pinned(cells, "chi2 contingency cells: margins + total + terms")
    r = cells.groupBy("event_type").agg(
        F.sum("n_ij").cast("bigint").alias("r_i"))
    cc = cells.groupBy("hod").agg(F.sum("n_ij").cast("bigint").alias("c_j"))
    tot = cells.agg(F.sum("n_ij").cast("bigint").alias("n"),
                    F.count_distinct("event_type").cast("bigint").alias("nr"),
                    F.count_distinct("hod").cast("bigint").alias("nc"))
    q = (cells.join(r, "event_type").join(cc, "hod")
         .crossJoin(F.broadcast(tot))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"),
              F.max("n").alias("n"), F.max("nr").alias("nr"),
              F.max("nc").alias("nc"),
              F.sum(F.expr(
                  "CAST((CAST(n AS DECIMAL(38,0))"
                  " * CAST(n_ij AS DECIMAL(38,0))"
                  " * CAST(n_ij AS DECIMAL(38,0))"
                  " * CAST(1000000000 AS DECIMAL(38,0)))"
                  " div (CAST(r_i AS DECIMAL(38,0))"
                  " * CAST(c_j AS DECIMAL(38,0))) AS DECIMAL(38,0))"))
              .alias("s")))
    chi2 = F.col("s").cast("double") / F.lit(1e9) - F.col("n").cast("double")
    v = F.sqrt(chi2 / (F.col("n").cast("double")
                       * (F.least("nr", "nc").cast("double") - 1)))
    return q.select("n", "n_cells",
                    F.round(chi2, 6).alias("chi2"),
                    F.round(v, 6).alias("cramers_v"))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous k-core peel over the token co-occurrence
    graph (same CTE chain trick as ``_lpa_oracle``; same ±2-window,
    count ≥ 5 edge list, self-loops dropped)."""
    sql = """
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS MATERIALIZED (
      SELECT wa, wb FROM pr WHERE wa <> wb
      GROUP BY wa, wb HAVING COUNT(*) >= 5),
    und AS MATERIALIZED (
      SELECT wa AS u, wb AS v FROM e
      UNION ALL SELECT wb AS u, wa AS v FROM e),
    v0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)"""
    for i in range(1, rounds + 1):
        sql += f""",
    v{i} AS MATERIALIZED (
      SELECT u AS node FROM und
      JOIN v{i - 1} a ON und.u = a.node
      JOIN v{i - 1} b ON und.v = b.node
      GROUP BY u HAVING COUNT(*) >= {k})"""
    sql += f""",
    d AS (
      SELECT und.u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
      FROM und
      JOIN v{rounds} a ON und.u = a.node
      JOIN v{rounds} b ON und.v = b.node
      GROUP BY und.u),
    conv AS (
      SELECT (SELECT COUNT(*) FROM v{rounds})
             = (SELECT COUNT(*) FROM v{rounds - 1}) AS converged)
    SELECT node, core_degree, converged FROM d CROSS JOIN conv"""
    return sql


@workload("token_kcore_membership", oracle=_kcore_oracle(4, 12))
def token_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the token co-occurrence graph by synchronous peeling
    (``operators/graph.py::kcore``, exactly 12 rounds) — the dense-
    subgraph extractor (Seidman 1983): the maximal subgraph where every
    token co-occurs strongly with ≥ 4 other core tokens, the standard
    'topic nucleus' / junk-token separator.  Like the fixed-iteration
    PageRank/LPA rows, the hashed contract is the survivor set after
    exactly 12 rounds plus a ``converged`` boolean certifying it IS the
    4-core; the oracle unrolls the identical peel as a materialized CTE
    chain."""
    from ophidia_io_server_spark.operators.graph import kcore
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    edges = (cooccurrence_counts(docs, window=2)
             .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb")))
             .select(F.col("wa").alias("src"), F.col("wb").alias("dst")))
    return kcore(edges, k=4, rounds=12)


@workload(
    "events_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS cb
      FROM u
    )
    SELECT na, nb, ca AS conv_a, cb AS conv_b,
           ROUND((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / sqrt((CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                        * (1 - CAST(ca + cb AS DOUBLE)
                               / CAST(na + nb AS DOUBLE))
                        * (1.0 / CAST(na AS DOUBLE)
                           + 1.0 / CAST(nb AS DOUBLE))), 6) AS z
    FROM s
    """,
)
def events_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on per-user conversion — the A/B
    readout (cohort = user_id parity, the deterministic stand-in for a
    treatment assignment; conversion = user fired ≥ 14 'purchase'
    events, a mid-range threshold on this corpus — an any-purchase flag
    degenerates to p=1 here and the z is undefined).  Completes the
    test family: Welch (means), Mann-Whitney (stochastic order), KS
    (full CDFs), chi-squared (independence), and now the binomial rate
    comparison every experiment dashboard runs.

    Scale: one groupBy(user_id) partial-agg collapse, one 4-integer
    aggregate, one IEEE expression over the exact integers — no window,
    no join, no Python; bitwise across engines."""
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.when(F.sum(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)) >= 14, 1).otherwise(0)
              .alias("converted"))
         .withColumn("grp", F.col("user_id") % 2))
    s = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint")
        .alias("nb"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("bigint").alias("ca"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("bigint").alias("cb"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    p = (ca + cb) / (na + nb)
    z = (ca / na - cb / nb) / F.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
    return s.select("na", "nb", F.col("ca").alias("conv_a"),
                    F.col("cb").alias("conv_b"),
                    F.round(z, 6).alias("z"))


@workload(
    "doc_rrf_retrieval",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM toks),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dls),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
           FROM (SELECT doc_id, dl, unnest(tk) AS term FROM dls) u
           WHERE term IN ('hash', 'merge', 'scan') GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    con AS (SELECT tf.doc_id, tf.term,
                   ln(1 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / g.avgdl)) AS c
            FROM tf JOIN dfq USING (term) CROSS JOIN g),
    sc AS (SELECT doc_id,
                  ROUND(list_aggregate(list(c ORDER BY term), 'sum'), 6)
                    AS score
           FROM con GROUP BY doc_id),
    bm AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank_bm
      FROM sc ORDER BY score DESC, doc_id LIMIT 50),
    tft AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tft FROM tf
            GROUP BY doc_id),
    tr AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY tft DESC, doc_id) AS BIGINT)
               AS rank_tf
      FROM tft ORDER BY tft DESC, doc_id LIMIT 50),
    fused AS (
      SELECT COALESCE(bm.doc_id, tr.doc_id) AS doc_id,
             bm.rank_bm, tr.rank_tf,
             COALESCE(1.0 / (60 + bm.rank_bm), 0)
             + COALESCE(1.0 / (60 + tr.rank_tf), 0) AS rrf
      FROM bm FULL OUTER JOIN tr ON bm.doc_id = tr.doc_id)
    SELECT doc_id, rank_bm, rank_tf, ROUND(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def doc_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) of two
    retrieval rankings for the query {hash, merge, scan}: BM25 top-50
    fused with the raw term-frequency top-50 via ``Σ 1/(60 + rank)`` —
    the standard zero-tuning hybrid-retrieval combiner (the same shape
    used to fuse lexical + vector rankings; here both arms are exact so
    the whole row hashes).

    Determinism: each arm's rank is a total order over (6-dp-rounded
    score, doc_id) / (integer tf, doc_id); the fused score is a 2-term
    rational of integer ranks — one fixed IEEE expression, no float
    accumulation.  Scale: each arm is candidate-only (postings for 3
    terms) + TakeOrdered top-50; the fusion joins two 50-row frames."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pin import pinned
    from ophidia_io_server_spark.pipeline.retrieval import (
        bm25_topk,
        query_tf_table,
    )

    TERMS = ["hash", "merge", "scan"]
    docs = load_table(spark, sf_dir, "documents")
    # r13 opt: ONE corpus tokenize pass builds the query-term postings
    # for BOTH arms (BM25 scoring + raw-tf ranking) — before, each arm
    # re-tokenized the corpus.  Candidate-sized, two consumers → pin
    # (eager: the BM25 df/stats broadcasts chain off it).
    tf = pinned(query_tf_table(docs, TERMS),
                "RRF query postings: BM25 arm + raw-tf arm")
    bm = (bm25_topk(docs, TERMS, k=50, tf=tf)
          .select("doc_id", F.col("rank").alias("rank_bm")))
    tft = (tf.groupBy("doc_id")
           .agg(F.sum("tf").cast("bigint").alias("tft")))
    top_tf = tft.orderBy(F.col("tft").desc(), F.col("doc_id").asc()).limit(50)
    w = Window.orderBy(F.col("tft").desc(), F.col("doc_id").asc())
    tr = top_tf.withColumn("rank_tf",
                           F.row_number().over(w).cast("bigint")) \
        .select("doc_id", "rank_tf")
    fused = bm.join(tr, "doc_id", "full")
    rrf = (F.coalesce(1.0 / (60 + F.col("rank_bm")), F.lit(0.0))
           + F.coalesce(1.0 / (60 + F.col("rank_tf")), F.lit(0.0)))
    return (fused.withColumn("rrf_raw", rrf)
            .orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
            .limit(20)
            .select("doc_id", "rank_bm", "rank_tf",
                    F.round(F.col("rrf_raw"), 6).alias("rrf")))


@workload(
    "events_ewma_halflife",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, hr, y,
             list(CAST(y AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ys
      FROM hourly
    )
    SELECT event_type, hr, y,
           list_reduce(ys, (acc, x) -> acc / 2 + x / 2) AS ewma
    FROM pre
    """,
)
def events_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event-count
    series, α = 1/2 (one-hour half-life): ``s₁ = y₁; sₜ = sₜ₋₁/2 +
    yₜ/2`` — the streaming-dashboard smoother.  α = 1/2 is chosen so
    every quantity is a DYADIC rational: halving an IEEE double is
    exact, so the recursion is a sequence of exact operations and both
    engines produce bit-identical values — no ``pow(1−α, k)``
    accumulation drift (the general-α version would need the
    integer-scaled trick; documented trade).

    The readout hashes the RAW dyadic double, deliberately UN-rounded:
    dyadic values systematically land on exact 6-decimal ties
    (k odd/2⁷ → x·10⁶ is an exact half-integer — 5 such rows at
    sf0.01), and ROUND(double, n) tie-breaking is engine- and
    version-dependent (Spark rounds HALF_UP on the exact BigDecimal;
    DuckDB's float-multiply path differs across releases), which is
    exactly the r13 driver-gate red on this row — invisible to the
    transcendental canary, which probes ln/exp/pow but never ROUND.
    Every op left in the chain (exact halvings, one correctly-rounded
    IEEE add per step, fixed fold order) is IEEE-754-determined, so the
    un-rounded double is the cross-engine-stable projection.

    Scale shape: the corpus collapses to the span-bounded (type, hour)
    series first; each row folds its own prefix (one window collect +
    one in-row ``F.aggregate`` left fold — O(T²) on a series bounded by
    the TIME SPAN, not the data; a year of hours is 8.8k·8.8k/2 ≈ 39M
    fused multiply-adds per type, one task's work)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = hourly.withColumn(
        "ys", F.collect_list(F.col("y").cast("double")).over(w))
    # left fold, acc seeded with the FIRST element (list_reduce semantics)
    ewma = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        F.element_at(F.col("ys"), 1),
        lambda acc, x: acc / 2 + x / 2)
    return pre.select("event_type", "hr", "y", ewma.alias("ewma"))


@workload(
    "events_quantile_normalize",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    c AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY 1, 2
    ),
    tc AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS r,
             SUM(cnt) OVER (PARTITION BY event_type) AS n_t
      FROM c
    ),
    pooled AS (
      SELECT v AS pv, SUM(cnt) AS pcnt FROM c GROUP BY v
    ),
    pcum AS (
      SELECT pv, SUM(pcnt) OVER (ORDER BY pv) AS cum,
             SUM(pcnt) OVER (ORDER BY pv) - pcnt + 1 AS lo
      FROM pooled
    ),
    nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
    q AS (
      SELECT event_type, v, cnt,
             (r * n + n_t - 1) // n_t AS p
      FROM tc CROSS JOIN nn
    )
    SELECT q.event_type, q.v, q.cnt,
           CAST(pcum.pv AS BIGINT) AS v_norm
    FROM q JOIN pcum ON q.p BETWEEN pcum.lo AND pcum.cum
    """,
)
def events_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of each event type's value distribution
    onto the POOLED distribution (nearest-rank variant: a value at
    within-type inclusive rank r maps to the pooled value at position
    ⌈r·N/n_t⌉) — the cross-source feature-alignment transform (align
    every source's score distribution before mixing, the microarray /
    reward-model-calibration classic).

    Scale design: both CDFs are distributed prefix sums over
    distinct-value tables (the within-type one derives from the pooled
    ORDER with per-type offsets — lang-offset trick, one exchange); the
    position lookup is the INTERVAL-BUCKET join, not an as-of window:
    pooled value ranges [cum−cnt+1, cum] partition [1..N], ranges
    explode into fixed-width position buckets (fanout Σspan/W + #values
    ≈ 2·N/W rows), queries land in ONE bucket, and a residual BETWEEN
    finishes the exact match — the repo's interval-join shape, zero
    single-task stages.  Every decision is an integer comparison."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    W = 4096  # positions per bucket; fanout ≈ 2N/W rows
    ev = load_table(spark, sf_dir, "events")
    g = (ev.where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("bigint").alias("v")))
    c = g.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    from ophidia_io_server_spark.pin import pinned
    # lazy (r13): the within-type prefix sum's sampling job is the pin's
    # first action and scans it directly — one eager full-pass job fewer
    c = pinned(c, "quantile-normalize distinct (type, value) counts: "
               "within-type CDF + pooled CDF", eager=False)
    # r13 wave 5: the within-type CDF (type-major order) and the pooled
    # CDF (value order) fuse into ONE prefix sum over the axis-tagged
    # union — one range-partitioner sampling pass + one offset collect
    # instead of two sequential chains.  Axis 0 (all (type, value) rows)
    # sorts entirely before axis 1 (pooled rows, constant type key), and
    # both axes sum to the same N, so the axis-1 running sum is the
    # global cum minus N and N itself is total//2 off the fused chain's
    # offset collect — exact integers, bitwise both CDFs.
    pooled = (c.groupBy(F.col("v").alias("pv"))
              .agg(F.sum("cnt").cast("bigint").alias("pcnt")))
    u = (c.select(F.lit(0).alias("axis"), "event_type", "v", "cnt")
         .unionAll(pooled.select(F.lit(1).alias("axis"),
                                 F.lit("").alias("event_type"),
                                 F.col("pv").alias("v"),
                                 F.col("pcnt").alias("cnt"))))
    fused, total = global_prefix_sum(u, ["axis", "event_type", "v"],
                                     "cnt", return_total=True)
    n_all = int(total) // 2
    cum = fused.where(F.col("axis") == 0).drop("axis")
    per_t = cum.groupBy("event_type").agg(
        (F.min(F.col("cum") - F.col("cnt"))).alias("pre"),
        F.sum("cnt").cast("bigint").alias("n_t"))
    tc = (cum.join(F.broadcast(per_t), "event_type")
          .withColumn("r", F.col("cum") - F.col("pre")))
    # pooled CDF (cum renamed hi: the query side carries its own cum)
    pcum = (fused.where(F.col("axis") == 1)
            .select(F.col("v").alias("pv"), F.col("cnt").alias("pcnt"),
                    (F.col("cum") - F.lit(n_all)).alias("hi"))
            .withColumn("lo", F.col("hi") - F.col("pcnt") + 1))
    q = (tc.withColumn("p", F.expr(f"(r * {n_all} + n_t - 1) div n_t"))
         .withColumn("bkt", F.expr(f"(p - 1) div {W}"))
         .select("event_type", "v", "cnt", "p", "bkt"))
    anchors = (pcum.withColumn(
        "bkt", F.explode(F.sequence(
            F.expr(f"(lo - 1) div {W}"), F.expr(f"(hi - 1) div {W}")))))
    return (q.join(anchors, "bkt")
            .where(F.col("p").between(F.col("lo"), F.col("hi")))
            .select("event_type", "v", "cnt",
                    F.col("pv").cast("bigint").alias("v_norm")))


@workload(
    "events_cusum_drift",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS t
      FROM hourly GROUP BY 1
    ),
    pre AS (
      SELECT h.event_type, hr, y, t.n, t.t,
             list(t.n * y - t.t) OVER (
               PARTITION BY h.event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ds
      FROM hourly h JOIN tot t USING (event_type)
    )
    SELECT event_type, hr, y,
           list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
                       (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))
             AS cusum,
           list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
                       (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))
             > 3 * t AS alarm
    FROM pre
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector (Page 1954) on the hourly event-
    count series per type: ``C_t = max(0, C_{t−1} + (y_t − μ))`` with
    everything SCALED BY n so it stays on the integer grid — the
    recursion runs on ``n·y_t − T`` (= n·(y_t − μ) with μ = T/n), and
    the alarm fires when the accumulated excess passes three mean-hours
    (``C > 3·T`` in the scaled units).  The rate-drift tripwire every
    ingestion pipeline wants; exact integers end to end, so both engines
    agree bitwise including the clamp points.

    Scale shape: corpus → span-bounded hourly series first; each row
    folds its prefix of integer deviations (collect + in-row clamped
    fold, the EWMA pattern).  Digit budget: |C| ≤ n·T → at 10^5 hours
    of 10^9 events/hour the fold stays under 10^19 — inside BIGINT."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("t"))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = (hourly.join(F.broadcast(tot), "event_type")
           .withColumn("ds", F.collect_list(
               F.col("n") * F.col("y") - F.col("t")).over(w)))
    cusum = F.aggregate(
        F.col("ds"), F.lit(0).cast("long"),
        lambda acc, x: F.greatest(F.lit(0).cast("long"), acc + x))
    return pre.select("event_type", "hr", "y",
                      cusum.alias("cusum"),
                      (cusum > 3 * F.col("t")).alias("alarm"))


def _dbscan_oracle(eps: float, min_nb: int, rounds: int) -> str:
    """Unrolled DBSCAN oracle: literal O(n²) radius pairs (the md5-
    coordinate recipe of events_spatial_neighbors), core = ≥ ``min_nb``
    neighbours, clusters by ``rounds`` synchronous min-label rounds over
    the core-core graph (same CTE chain trick as LPA/k-core), border =
    non-core points adopting their minimum core neighbour's label."""
    sql = f"""
    WITH p AS (
      SELECT event_id,
             (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000) / 1000000.0 AS x,
             (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 17, 15))
                   AS BIGINT) % 1000000) / 1000000.0 AS y
      FROM events WHERE event_type = 'purchase'
    ),
    e2 AS MATERIALIZED (
      SELECT a.event_id AS u, b.event_id AS v
      FROM p a JOIN p b ON a.event_id < b.event_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {eps} * {eps}
    ),
    und AS MATERIALIZED (
      SELECT u, v FROM e2 UNION ALL SELECT v AS u, u AS v FROM e2
    ),
    nb AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n FROM und GROUP BY u),
    core AS MATERIALIZED (SELECT u FROM nb WHERE n >= {min_nb}),
    ce AS MATERIALIZED (
      SELECT und.u, und.v FROM und
      JOIN core a ON und.u = a.u JOIN core b ON und.v = b.u
    ),
    l0 AS MATERIALIZED (SELECT u AS node, u AS label FROM core)"""
    for i in range(1, rounds + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
      SELECT l.node, LEAST(l.label, COALESCE(MIN(nl.label), l.label))
               AS label
      FROM l{i - 1} l
      LEFT JOIN ce ON ce.v = l.node
      LEFT JOIN l{i - 1} nl ON nl.node = ce.u
      GROUP BY l.node, l.label)"""
    sql += f""",
    conv AS (
      SELECT NOT EXISTS (SELECT 1 FROM l{rounds} a
                         JOIN l{rounds - 1} b USING (node)
                         WHERE a.label <> b.label) AS converged),
    border AS (
      SELECT und.u AS node, MIN(l.label) AS label
      FROM und JOIN core c ON und.v = c.u
      JOIN l{rounds} l ON l.node = und.v
      WHERE und.u NOT IN (SELECT u FROM core)
      GROUP BY und.u)
    SELECT node AS event_id, 'core' AS role, label AS cluster, converged
    FROM l{rounds} CROSS JOIN conv
    UNION ALL
    SELECT node, 'border', label, converged FROM border CROSS JOIN conv"""
    return sql


@workload("events_dbscan_clusters", oracle=_dbscan_oracle(0.02, 3, 15))
def events_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (Ester et al. KDD'96) composed ENTIRELY from the repo's
    scale primitives: neighbourhoods from the grid-bucketed fixed-radius
    join (``operators/spatial.py`` — no cartesian stage), core points =
    ≥ 3 neighbours within ε = 0.02, clusters = exactly 15 synchronous
    min-label rounds over the core-core graph (the fixed-iteration
    LPA/k-core contract, with a ``converged`` certificate), border
    points adopt their minimum core neighbour's cluster, noise is
    excluded (documented).  Labels are min event-ids — integers, so the
    whole clustering hashes.

    Scale shape: candidate pairs are grid-linear, the per-round update
    is one edge-join + groupBy (labels pinned per round), border
    assignment one more edge-join; the oracle replays the identical
    peel over the literal O(n²) pair set, so the hash certifies the
    grid pruning AND the label fixpoint together."""
    from ophidia_io_server_spark.operators.spatial import radius_self_join
    from ophidia_io_server_spark.pin import pinned

    EPS, MIN_NB, ROUNDS = 0.02, 3, 15
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    pts = (ev.where(F.col("event_type") == "purchase")
           .select("event_id",
                   (F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
                    % 1000000 / 1000000.0).alias("x"),
                   (F.conv(F.substring(h, 17, 15), 16, 10).cast("bigint")
                    % 1000000 / 1000000.0).alias("y")))
    pairs = radius_self_join(pts, radius=EPS, id_col="event_id")
    und = pinned(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v"))),
        "dbscan undirected neighbour edges: degrees + CC + border")
    nb = und.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    core = pinned(nb.where(F.col("n") >= MIN_NB).select("u"),
                  "dbscan core set: CC edges + border test")
    ce = (und.join(core.withColumnRenamed("u", "_cu"),
                   und.u == F.col("_cu"), "leftsemi")
          .join(core.withColumnRenamed("u", "_cv"),
                und.v == F.col("_cv"), "leftsemi"))
    # Self-loop trick (r13 opt): fold the "keep own label" term into the
    # edge join — min(label(v), min over nbrs u of label(u)) is exactly
    # min over (N(v) ∪ {v}) of label(u), so augmenting the (symmetric)
    # core-core edges with one self-loop per core node turns each round
    # into ONE equi-join + ONE min-aggregate instead of join + agg +
    # second (left) join: a third of the per-round exchanges gone, same
    # labels bitwise, at any scale.
    cel = pinned(
        ce.unionByName(core.select(F.col("u"), F.col("u").alias("v"))),
        "dbscan core-core edges + self-loops: 15 label rounds")
    labels = core.select(F.col("u").alias("node"),
                         F.col("u").alias("label"))
    prev = None
    for i in range(ROUNDS):
        prev = labels
        labels = (
            cel.join(labels.select(F.col("node").alias("u"),
                                   F.col("label").alias("nl")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("nl").alias("label")))
        # stride-3 pin (r13 opt): under AQE every checkpoint boundary
        # eagerly materializes its shuffle stages as separate jobs, so a
        # per-round pin costs ~3 job launches per round of fixed latency.
        # Rounds between pins have exactly ONE consumer (the next round),
        # so letting 3 rounds fuse into one bounded-depth plan segment
        # keeps the r9 CC-loop discipline (lineage never deeper than 3
        # rounds) while cutting the per-round job overhead to a third —
        # measured 6.8 s → 3.7 s for the 15 rounds at sf0.1, labels
        # bitwise identical.  Rounds R−1 and R are always pinned: the
        # convergence diff consumes round R−1 TWICE (as prev and inside
        # round R), which without a pin would recompute it.
        # (r13 wave 6: stride 5 and no-mid-pin variants were A/B'd — all
        # three land in the same 4.1–4.9 s warm band at sf0.1; the
        # per-round shuffle-stage latency, not the pin cadence, is the
        # floor.  Stride 3 stays for its bounded-lineage posture.)
        if (i + 1) % 3 == 0 or i >= ROUNDS - 2:
            labels = pinned(labels, f"dbscan labels round {i + 1}",
                            eager=False)
    diff = (labels.select("node", "label")
            .join(prev.select("node", F.col("label").alias("_pl")), "node")
            .where(F.col("label") != F.col("_pl"))
            .agg(F.count(F.lit(1)).alias("nd")))
    conv = diff.select((F.col("nd") == 0).alias("converged"))
    border = (und.join(core.withColumnRenamed("u", "_cv"),
                       und.v == F.col("_cv"), "leftsemi")
              .join(core.withColumnRenamed("u", "_cu"),
                    und.u == F.col("_cu"), "leftanti")
              .join(labels.select(F.col("node").alias("v"),
                                  F.col("label")), "v")
              .groupBy(F.col("u").alias("event_id"))
              .agg(F.min("label").alias("cluster")))
    out_core = labels.select(F.col("node").alias("event_id"),
                             F.lit("core").alias("role"),
                             F.col("label").alias("cluster"))
    out_border = border.select("event_id", F.lit("border").alias("role"),
                               "cluster")
    return (out_core.unionByName(out_border)
            .crossJoin(F.broadcast(conv)))


@workload(
    "events_hourly_peaks",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, hr, y,
             lag(y) OVER w AS yp, lead(y) OVER w AS yn
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
    SELECT event_type, hr, y,
           CAST(y - GREATEST(yp, yn) AS BIGINT) AS prominence
    FROM n
    WHERE yp IS NOT NULL AND yn IS NOT NULL AND y > yp AND y > yn
    """,
)
def events_hourly_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local-maximum detection on the hourly event-count series
    per type (the alerting primitive under every 'traffic spike'
    dashboard): interior hours whose count strictly exceeds both
    neighbours, with prominence = y − max(neighbours) — all integer
    comparisons, no thresholds to tune.  Endpoints are excluded (no
    two-sided neighbourhood).

    Scale: the corpus collapses to the span-bounded hourly series
    first; one lag/lead window pass over that bounded series."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = Window.partitionBy("event_type").orderBy("hr")
    n = hourly.select(
        "event_type", "hr", "y",
        F.lag("y").over(w).alias("yp"), F.lead("y").over(w).alias("yn"))
    return (n.where(F.col("yp").isNotNull() & F.col("yn").isNotNull()
                    & (F.col("y") > F.col("yp"))
                    & (F.col("y") > F.col("yn")))
            .select("event_type", "hr", "y",
                    (F.col("y") - F.greatest("yp", "yn")).cast("bigint")
                    .alias("prominence")))

@workload(
    "events_kendall_tau",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    s AS (SELECT hr, x, y FROM hourly WHERE x > 0 AND y > 0),
    p AS (
      SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                             OR (a.x > b.x AND a.y > b.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                             OR (a.x > b.x AND a.y < b.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_x,
             CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_y
      FROM s a JOIN s b ON a.hr < b.hr
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
    SELECT n, nc, nd, ties_x, ties_y,
           ROUND(CAST(nc - nd AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) / 2 - ties_x AS DOUBLE)
                        * CAST(n * (n - 1) / 2 - ties_y AS DOUBLE)),
                 6) AS tau_b
    FROM p CROSS JOIN nn
    """,
)
def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between the hourly click and view
    count series (completing the Pearson / Spearman / Kendall family):
    EXACT concordant / discordant / tie pair counts over the span-bounded
    hourly series, then one IEEE expression over those five integers —
    tau_b = (C-D)/sqrt((n0-t_x)(n0-t_y)) — rounded to 6.

    Scale shape: the corpus collapses to the (hour, x, y) series FIRST
    (one partial-aggregatable exchange); the O(H^2) pair join runs over a
    series bounded by the TIME SPAN, not the data (a year of hours is
    8.8k rows, 38M pairs — one task's work; Spark picks a broadcast
    nested-loop join on the sub-megabyte side).  No per-row Python, no
    window sort over the corpus."""
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("event_type").isin("click", "view")))
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                         .otherwise(0)).cast("bigint").alias("x"),
                   F.sum(F.when(F.col("event_type") == "view", 1)
                         .otherwise(0)).cast("bigint").alias("y")))
    s = hourly.where((F.col("x") > 0) & (F.col("y") > 0))
    a, b = s.alias("a"), s.alias("b")
    ax, ay = F.col("a.x"), F.col("a.y")
    bx, by = F.col("b.x"), F.col("b.y")
    p = (a.join(b, F.col("a.hr") < F.col("b.hr"))
         .agg(F.sum(F.when(((ax < bx) & (ay < by))
                           | ((ax > bx) & (ay > by)), 1).otherwise(0))
              .cast("bigint").alias("nc"),
              F.sum(F.when(((ax < bx) & (ay > by))
                           | ((ax > bx) & (ay < by)), 1).otherwise(0))
              .cast("bigint").alias("nd"),
              F.sum(F.when(ax == bx, 1).otherwise(0)).cast("bigint")
              .alias("ties_x"),
              F.sum(F.when(ay == by, 1).otherwise(0)).cast("bigint")
              .alias("ties_y")))
    nn = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n = F.col("n")
    n0x = (n * (n - 1) / 2 - F.col("ties_x")).cast("double")
    n0y = (n * (n - 1) / 2 - F.col("ties_y")).cast("double")
    return (p.crossJoin(F.broadcast(nn))  # single-row invariant frame
            .select("n", "nc", "nd", "ties_x", "ties_y",
                    F.round((F.col("nc") - F.col("nd")).cast("double")
                            / F.sqrt(n0x * n0y), 6).alias("tau_b")))


def _first_purchase_risk_table(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The right-censored time-to-first-purchase risk table shared by the
    Kaplan-Meier and Nelson-Aalen rows: the observation window is the
    corpus's first 96 hours; a user converting inside it is an event at
    duration (first purchase - first event) in whole hours, a user never
    purchasing inside it is censored at their last observed event.  One
    row per distinct duration: (dur_h, d events, c censored, n_risk =
    subjects with duration >= dur_h — censored-at-t still at risk)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wend = ev.agg((F.min("ts") + F.expr("INTERVAL 96 HOURS")).alias("wend"))
    e = (ev.crossJoin(F.broadcast(wend))  # scalar observation-window bound
         .where(F.col("ts") < F.col("wend")))
    pu = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("tl"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("tp"))
    u = pu.select(
        # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is a
        # value-preserving re-tag
        F.expr("(unix_micros(cast(coalesce(tp, tl) as timestamp))"
               " - unix_micros(cast(t0 as timestamp))) div 3600000000")
        .alias("dur_h"),
        F.when(F.col("tp").isNull(), 1).otherwise(0).alias("cens"))
    g = (u.groupBy("dur_h")
         .agg(F.sum(1 - F.col("cens")).cast("bigint").alias("d"),
              F.sum("cens").cast("bigint").alias("c")))
    w_all = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    w_prev = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1)
    return g.withColumn(
        "n_risk",
        (F.sum(F.col("d") + F.col("c")).over(w_all)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev),
                      F.lit(0))).cast("bigint"))


@workload(
    "events_kaplan_meier",
    oracle="""
    WITH w AS (SELECT min(ts) + INTERVAL 96 HOUR AS wend FROM events),
    e AS (SELECT * FROM events WHERE ts < (SELECT wend FROM w)),
    pu AS (
      SELECT user_id, min(ts) AS t0,  max(ts) AS tl,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM e GROUP BY 1
    ),
    u AS (
      SELECT (epoch_us(coalesce(tp, tl)) - epoch_us(t0)) // 3600000000
               AS dur_h,
             CASE WHEN tp IS NULL THEN 1 ELSE 0 END AS cens
      FROM pu
    ),
    g AS (
      SELECT dur_h, CAST(SUM(1 - cens) AS BIGINT) AS d,
             CAST(SUM(cens) AS BIGINT) AS c
      FROM u GROUP BY 1
    ),
    r AS (
      SELECT dur_h, d, c,
             SUM(d + c) OVER ()
               - COALESCE(SUM(d + c) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g
    ),
    evt AS (
      SELECT dur_h, CAST(n_risk AS BIGINT) AS n_risk, d, c,
             list(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) OVER (
               ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
      FROM r WHERE d > 0
    )
    SELECT dur_h, n_risk, d, c,
           ROUND(list_reduce(list_prepend(1.0, fs), (a, x) -> a * x), 6)
             AS survival
    FROM evt
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator for time-to-first-purchase with
    RIGHT CENSORING (the churn / conversion-lifetime primitive) over the
    ``_first_purchase_risk_table``: per distinct event time n_risk, d
    events, c censored, and S(t) = prod(1 - d_j/n_j) over event times
    j <= t.  Each factor is ONE IEEE divide of two exact integers and the
    product is a seeded LEFT FOLD (``F.aggregate`` <-> ``list_reduce``)
    over the identical factor sequence — bitwise cross-engine, rounded 6.

    Scale shape: one partial-aggregatable per-user collapse (min/max/
    conditional-min), then every later op runs on the duration-grouped
    series bounded by the OBSERVATION WINDOW in hours (<= 97 rows here;
    a 10-year window is 87k rows), not the corpus — the unpartitioned
    windows are over that structurally bounded series."""
    from pyspark.sql import Window

    r = _first_purchase_risk_table(spark, sf_dir)
    w_cur = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    evt = (r.where(F.col("d") > 0)
           .withColumn("fs", F.collect_list(
               F.lit(1.0) - F.col("d").cast("double")
               / F.col("n_risk").cast("double")).over(w_cur)))
    surv = F.aggregate(F.col("fs"), F.lit(1.0), lambda acc, x: acc * x)
    return evt.select("dur_h", "n_risk", "d", "c",
                      F.round(surv, 6).alias("survival"))

@workload(
    "token_link_prediction",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS (SELECT wa, wb FROM pr
          WHERE wa <> wb GROUP BY wa, wb HAVING COUNT(*) >= 5),
    und AS (SELECT wa AS u, wb AS v FROM e
            UNION ALL SELECT wb AS u, wa AS v FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM und GROUP BY u),
    wedge AS (
      SELECT l.u AS z, l.v AS a, r.v AS b
      FROM und l JOIN und r ON l.u = r.u AND l.v < r.v
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.wa = l.v AND e.wb = r.v)
    ),
    sc AS (
      SELECT a AS node_a, b AS node_b,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(1000000000000 // dz.dg) AS BIGINT) AS ra_scaled
      FROM wedge JOIN deg dz ON dz.u = wedge.z
      GROUP BY a, b
    )
    SELECT node_a, node_b, cn, ra_scaled, da.dg AS deg_a, db.dg AS deg_b,
           ROUND(CAST(cn AS DOUBLE)
                 / CAST(da.dg + db.dg - cn AS DOUBLE), 6) AS jaccard
    FROM sc
    JOIN deg da ON da.u = sc.node_a
    JOIN deg db ON db.u = sc.node_b
    """,
)
def token_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the token co-occurrence graph (same ±2-window
    count ≥ 5 edge list as LPA/PMI/triangles): for every NON-adjacent
    pair with at least one common neighbor, the three classic scores —
    common-neighbor count, resource-allocation index Σ_z 1/deg(z)
    (Zhou/Lü/Zhang 2009), and neighborhood Jaccard.  RA stays EXACT and
    aggregation-order-free as Σ(10¹² DIV deg_z) — integer division of
    exact integers, no float sum (Adamic-Adar's Σ1/ln(deg) would need a
    transcendental per wedge — same signal, cross-engine-unsafe).
    Jaccard is one IEEE division per output row, rounded 6.

    Scale: wedge enumeration through each center z is deg(z)² — the
    triangle-count cost class, bounded by the same edge-count threshold;
    the anti-join against the edge list removes existing edges before
    the aggregate.  RA digit budget: 10¹² · |common| needs |common| ≤
    9·10⁶ per pair — raise the divisor scale past that."""
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    # r13 wave 6 note: pinning this edge list was A/B'd and REJECTED
    # (1.28 → 1.31/1.33 s) — AQE exchange reuse already dedups the 22
    # corpus-subtree copies at runtime, and this row's execution time is
    # the deg² wedge join, so the pin job only added plan-side cost
    # (unlike token_graph_assortativity, where the same pin won 0.3 s).
    e = (cooccurrence_counts(docs, window=2)
         .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb")))
         .select("wa", "wb"))
    und = (e.select(F.col("wa").alias("u"), F.col("wb").alias("v"))
           .unionByName(e.select(F.col("wb").alias("u"),
                                 F.col("wa").alias("v"))))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    l = und.select(F.col("u").alias("z"), F.col("v").alias("a"))
    r = und.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedge = (l.join(r, "z").where(F.col("a") < F.col("b"))
             .join(e.select(F.col("wa").alias("a"), F.col("wb").alias("b")),
                   ["a", "b"], "left_anti"))
    sc = (wedge.join(deg.select(F.col("u").alias("z"),
                                F.col("dg").alias("dz")), "z")
          .groupBy(F.col("a").alias("node_a"), F.col("b").alias("node_b"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("cn"),
               F.sum(F.expr("1000000000000 div dz")).cast("bigint")
               .alias("ra_scaled")))
    da = deg.select(F.col("u").alias("node_a"), F.col("dg").alias("deg_a"))
    db = deg.select(F.col("u").alias("node_b"), F.col("dg").alias("deg_b"))
    return (sc.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "cn", "ra_scaled", "deg_a", "deg_b",
                    F.round(F.col("cn").cast("double")
                            / (F.col("deg_a") + F.col("deg_b")
                               - F.col("cn")).cast("double"), 6)
                    .alias("jaccard")))

@workload(
    "events_pettitt_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT a.event_type, a.hr,
             CAST(SUM(CASE WHEN a.y > b.y THEN 1
                           WHEN a.y < b.y THEN -1 ELSE 0 END) AS BIGINT)
               AS vt
      FROM hourly a JOIN hourly b ON a.event_type = b.event_type
      GROUP BY a.event_type, a.hr
    ),
    u AS (
      SELECT event_type, hr,
             CAST(SUM(vt) OVER (PARTITION BY event_type ORDER BY hr)
                  AS BIGINT) AS ut,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS i
      FROM v
    ),
    best AS (
      SELECT event_type, hr AS cp_hr, abs(ut) AS u_abs, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(ut) DESC, hr ASC) AS rk
      FROM u WHERE i < n
    )
    SELECT event_type, cp_hr, CAST(u_abs AS BIGINT) AS u_abs, n,
           CAST(6 * u_abs * u_abs AS BIGINT) AS stat_num,
           CAST(n * n * n + n * n AS BIGINT) AS stat_den
    FROM best WHERE rk = 1
    """,
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test (Pettitt 1979) on the
    hourly event-count series per type: the split t maximizing
    |U_t| = |Σ_{i≤t} Σ_{j>t} sign(xᵢ−xⱼ)| — the rank-based Mann-Whitney
    shift locator, no distributional assumption (the retrospective
    complement to the CUSUM tripwire, which needs a known baseline
    mean).  U_t stays EXACT: by antisymmetry U_t = Σ_{i≤t} V_i with
    V_i = Σ_j sign(xᵢ−xⱼ), so one pair aggregate + one cumulative sum —
    all integers.  r13 (environment-proofing): the significance
    approximation p ≈ 2·exp(−6U²/(n³+n²)) leaves the HASHED projection —
    the row instead carries its exact rational exponent as
    (stat_num, stat_den) = (6U², n³+n²) BIGINTs (U ≤ H²/2 ≈ 3.9e7 on a
    year of hours → 6U² ≤ 9e15, BIGINT-safe), so the gate row is pure
    integer and a red can never be libm drift; the exp() readout is
    asserted in tests/test_wave7_ops.py from these exact columns.

    Scale: the corpus collapses to the span-bounded hourly series first;
    the O(H²) pair join and the windows run over that bounded series
    (a year is 8.8k rows/type), never the corpus."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    a = hourly.select("event_type", "hr", F.col("y").alias("ya"))
    b = hourly.select("event_type", F.col("y").alias("yb"))
    v = (a.join(b, "event_type")
         .groupBy("event_type", "hr")
         .agg(F.sum(F.when(F.col("ya") > F.col("yb"), 1)
                    .when(F.col("ya") < F.col("yb"), -1)
                    .otherwise(0)).cast("bigint").alias("vt")))
    w = Window.partitionBy("event_type").orderBy("hr")
    wa = Window.partitionBy("event_type")
    u = v.select(
        "event_type", "hr",
        F.sum("vt").over(w).cast("bigint").alias("ut"),
        F.count(F.lit(1)).over(wa).cast("bigint").alias("n"),
        F.row_number().over(w).alias("i"))
    best = (u.where(F.col("i") < F.col("n"))
            .select("event_type", F.col("hr").alias("cp_hr"),
                    F.abs(F.col("ut")).alias("u_abs"), "n",
                    F.row_number().over(
                        Window.partitionBy("event_type")
                        .orderBy(F.abs(F.col("ut")).desc(),
                                 F.col("hr").asc())).alias("rk")))
    return (best.where(F.col("rk") == 1)
            .select("event_type", "cp_hr",
                    F.col("u_abs").cast("bigint").alias("u_abs"), "n",
                    (6 * F.col("u_abs") * F.col("u_abs")).cast("bigint")
                    .alias("stat_num"),
                    (F.col("n") * F.col("n") * F.col("n")
                     + F.col("n") * F.col("n")).cast("bigint")
                    .alias("stat_den")))

@workload(
    "events_burstiness_memory",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events
    ),
    gaps AS (
      SELECT a.user_id, CAST(b.t - a.t AS BIGINT) AS d, a.i
      FROM o a JOIN o b ON a.user_id = b.user_id AND b.i = a.i + 1
    ),
    lagd AS (
      SELECT user_id, d, i,
             lead(d) OVER (PARTITION BY user_id ORDER BY i) AS dn
      FROM gaps
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(d AS HUGEINT)) AS sd,
             SUM(CAST(d AS HUGEINT) * d) AS qd,
             SUM(CASE WHEN dn IS NOT NULL
                      THEN CAST(d AS HUGEINT) * dn END) AS p,
             SUM(CASE WHEN dn IS NOT NULL
                      THEN CAST(d AS HUGEINT) END) AS s1,
             SUM(CASE WHEN dn IS NOT NULL
                      THEN CAST(d AS HUGEINT) * d END) AS q1,
             SUM(CASE WHEN dn IS NOT NULL
                      THEN CAST(dn AS HUGEINT) END) AS s2,
             SUM(CASE WHEN dn IS NOT NULL
                      THEN CAST(dn AS HUGEINT) * dn END) AS q2
      FROM lagd GROUP BY user_id
    )
    SELECT user_id, n,
           ROUND((sqrt(CAST(qd AS DOUBLE) / n
                       - (CAST(sd AS DOUBLE) / n)
                         * (CAST(sd AS DOUBLE) / n))
                  - CAST(sd AS DOUBLE) / n)
                 / (sqrt(CAST(qd AS DOUBLE) / n
                         - (CAST(sd AS DOUBLE) / n)
                           * (CAST(sd AS DOUBLE) / n))
                    + CAST(sd AS DOUBLE) / n), 6) AS burstiness,
           ROUND((CAST(p AS DOUBLE) / (n - 1)
                  - (CAST(s1 AS DOUBLE) / (n - 1))
                    * (CAST(s2 AS DOUBLE) / (n - 1)))
                 / (sqrt(CAST(q1 AS DOUBLE) / (n - 1)
                         - (CAST(s1 AS DOUBLE) / (n - 1))
                           * (CAST(s1 AS DOUBLE) / (n - 1)))
                    * sqrt(CAST(q2 AS DOUBLE) / (n - 1)
                           - (CAST(s2 AS DOUBLE) / (n - 1))
                             * (CAST(s2 AS DOUBLE) / (n - 1)))), 6)
             AS memory_coef
    FROM s
    WHERE n >= 3
      AND (n - 1) * q1 - s1 * s1 > 0
      AND (n - 1) * q2 - s2 * s2 > 0
    """,
)
def events_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) and memory coefficient M
    (lag-1 autocorrelation of inter-arrival gaps) per user — the two
    coordinates of the classic human-dynamics phase diagram (Goh &
    Barabási, EPL 2008): B > 0 bursty, M > 0 streaky.  Inter-arrival
    gaps are EXACT integer microseconds; every moment (Σd, Σd², lag-1
    products, and the all-but-first / all-but-last marginals M needs) is
    a DECIMAL(38,0) integer from ONE pass over the gaps, then B and M
    are single IEEE expressions per user, rounded 6.  Degenerate users
    (zero gap variance in either margin) are excluded by an EXACT
    integer predicate — (n−1)·Q − S² > 0 — not a float epsilon.

    Scale: gaps via one per-user window lag (per-user partitions), then
    one partial-aggregatable per-user collapse.  Digit budget: Σd² at
    10-year gaps (3·10¹⁴ µs) holds to 10⁹ events/user."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events")
    # gap order is the unambiguous (t, event_id) total order — equal
    # timestamps exist and ordering by t alone would be nondeterministic
    # (unix_micros is order-isomorphic to ts at the data's precision)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    t = F.expr("unix_micros(cast(ts as timestamp))")
    gaps = (ev.select("user_id", t.alias("t"), "event_id")
            .withColumn("i", F.row_number().over(w))
            .withColumn("tn", F.lead("t").over(
                Window.partitionBy("user_id").orderBy("i")))
            .where(F.col("tn").isNotNull())
            .select("user_id", (F.col("tn") - F.col("t")).cast("bigint")
                    .alias("d"), "i"))
    lagd = gaps.withColumn("dn", F.lead("d").over(
        Window.partitionBy("user_id").orderBy("i")))
    dd, dn = F.col("d").cast(dec), F.col("dn").cast(dec)
    s = (lagd.groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum(dd).alias("sd"),
              F.sum(dd * F.col("d")).alias("qd"),
              F.sum(F.when(F.col("dn").isNotNull(), dd * F.col("dn")))
              .alias("p"),
              F.sum(F.when(F.col("dn").isNotNull(), dd)).alias("s1"),
              F.sum(F.when(F.col("dn").isNotNull(), dd * F.col("d")))
              .alias("q1"),
              F.sum(F.when(F.col("dn").isNotNull(), dn)).alias("s2"),
              F.sum(F.when(F.col("dn").isNotNull(), dn * F.col("dn")))
              .alias("q2")))
    n = F.col("n")
    mu = F.col("sd").cast("double") / n
    sig = F.sqrt(F.col("qd").cast("double") / n - mu * mu)
    m1 = F.col("s1").cast("double") / (n - 1)
    m2 = F.col("s2").cast("double") / (n - 1)
    s1d = F.sqrt(F.col("q1").cast("double") / (n - 1) - m1 * m1)
    s2d = F.sqrt(F.col("q2").cast("double") / (n - 1) - m2 * m2)
    mcoef = (F.col("p").cast("double") / (n - 1) - m1 * m2) / (s1d * s2d)
    return (s.where((n >= 3)
                    & ((n - 1) * F.col("q1") - F.col("s1") * F.col("s1")
                       > 0)
                    & ((n - 1) * F.col("q2") - F.col("s2") * F.col("s2")
                       > 0))
            .select("user_id", "n",
                    F.round((sig - mu) / (sig + mu), 6).alias("burstiness"),
                    F.round(mcoef, 6).alias("memory_coef")))

@workload(
    "events_runs_test",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, y AS m FROM (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY y, hr) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM hourly)
      WHERE r = (cnt + 1) // 2
    ),
    sgn AS (
      SELECT h.event_type, h.hr,
             CASE WHEN h.y > med.m THEN 1 ELSE -1 END AS s
      FROM hourly h JOIN med ON med.event_type = h.event_type
      WHERE h.y <> med.m
    ),
    runs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(1 + SUM(CASE WHEN sp IS NOT NULL AND s <> sp
                               THEN 1 ELSE 0 END) AS BIGINT) AS r_runs
      FROM (SELECT event_type, s,
                   lag(s) OVER (PARTITION BY event_type ORDER BY hr) AS sp
            FROM sgn)
      GROUP BY event_type
    )
    SELECT event_type, n1, n2, r_runs,
           ROUND((r_runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1))), 6) AS z
    FROM runs
    WHERE n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 > n1 + n2
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the hourly count series
    per type: dichotomize at the (lower) median — computed EXACTLY by
    rank over the span-bounded series, ties-at-median dropped (the
    standard treatment) — count sign runs, and z-score the run count
    against its exact null mean/variance.  Everything up to z is integer
    (n1, n2, runs); z is one IEEE expression, rounded 6.

    Scale: the corpus collapses to the bounded hourly series first; the
    median-by-rank, the lag, and the run count are windows over that
    bounded series (a year is 8.8k rows/type)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    wv = Window.partitionBy("event_type").orderBy("y", "hr")
    wc = Window.partitionBy("event_type")
    med = (hourly.select("event_type", "y",
                         F.row_number().over(wv).alias("r"),
                         F.count(F.lit(1)).over(wc).alias("cnt"))
           .where(F.col("r") == F.expr("(cnt + 1) div 2"))
           .select("event_type", F.col("y").alias("m")))
    sgn = (hourly.join(med, "event_type")
           .where(F.col("y") != F.col("m"))
           .select("event_type", "hr",
                   F.when(F.col("y") > F.col("m"), 1).otherwise(-1)
                   .alias("s")))
    wh = Window.partitionBy("event_type").orderBy("hr")
    runs = (sgn.withColumn("sp", F.lag("s").over(wh))
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n1"),
                 F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
                 .cast("bigint").alias("n2"),
                 (1 + F.sum(F.when(F.col("sp").isNotNull()
                                   & (F.col("s") != F.col("sp")), 1)
                            .otherwise(0))).cast("bigint")
                 .alias("r_runs")))
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r_runs")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
           / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1)))
    # degenerate dichotomies (a side empty, or null variance 2n1n2 ==
    # n1+n2) are excluded by EXACT integer predicates, not a float eps
    return (runs.where((n1 >= 1) & (n2 >= 1)
                       & (2 * n1 * n2 > n1 + n2))
            .select("event_type", "n1", "n2", "r_runs",
                    F.round((r - mu) / F.sqrt(var), 6).alias("z")))


@workload(
    "events_holt_linear",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, hr, y,
             list([CAST(y AS DOUBLE), 0.0]) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ys
      FROM hourly
    ),
    folded AS (
      SELECT event_type, hr, y,
             list_reduce(ys, (acc, x) ->
               [(x[1] + acc[1] + acc[2]) / 2,
                ((x[1] + acc[1] + acc[2]) / 2 - acc[1]) / 2
                + acc[2] / 2]) AS lb
      FROM pre
    )
    SELECT event_type, hr, y,
           lb[1] AS level,
           lb[2] AS trend,
           lb[1] + lb[2] AS forecast_next
    FROM folded
    """,
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing of the hourly
    count series, α = β = 1/2 (both DYADIC, the EWMA discipline): level
    lₜ = (yₜ + lₜ₋₁ + bₜ₋₁)/2, trend bₜ = (lₜ − lₜ₋₁)/2 + bₜ₋₁/2, with
    l₁ = y₁, b₁ = 0 — every step is sums and exact halvings of IEEE
    doubles, so the recursion is bit-identical cross-engine (general
    α/β would need pow(1−α,k) accumulation — documented trade).  The
    one-step-ahead forecast lₜ + bₜ is the planning readout.

    Readouts hash the RAW dyadic doubles, UN-rounded (r14): dyadic
    values hit exact 6-decimal ties (7 tie cells at sf0.01) and
    ROUND(double, n) tie-breaking is engine/version-dependent — the
    r13 driver-gate red on this row's suite; see
    ``events_ewma_halflife`` for the full decode.  The remaining ops
    (halvings, fixed-order adds, one final add) are IEEE-determined.

    The fold carries the (level, trend) PAIR as a 2-element double
    array so the ``F.aggregate`` ↔ ``list_reduce`` accumulator types
    match; per-row prefix folds over the span-bounded series (the EWMA
    cost shape: O(T²) fused ops on a series bounded by time, not data)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = hourly.withColumn(
        "ys", F.collect_list(F.array(F.col("y").cast("double"),
                                     F.lit(0.0))).over(w))
    def step(acc, x):
        lvl = (x[0] + acc[0] + acc[1]) / 2
        return F.array(lvl, (lvl - acc[0]) / 2 + acc[1] / 2)
    lb = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        F.element_at(F.col("ys"), 1), step)
    return pre.select(
        "event_type", "hr", "y",
        F.element_at(lb, 1).alias("level"),
        F.element_at(lb, 2).alias("trend"),
        (F.element_at(lb, 1) + F.element_at(lb, 2))
        .alias("forecast_next"))

def _bfs_oracle(seed: str, hops: int) -> str:
    """Unrolled synchronous-BFS oracle over the token co-occurrence graph
    (the same edge CTE as the triangle/LPA oracles; one materialized CTE
    per hop, min-distance kept on first discovery)."""
    sql = f"""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS MATERIALIZED (
      SELECT wa, wb FROM pr
      WHERE wa <> wb GROUP BY wa, wb HAVING COUNT(*) >= 5),
    und AS MATERIALIZED (
      SELECT wa AS u, wb AS v FROM e
      UNION ALL SELECT wb AS u, wa AS v FROM e),
    d0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
      FROM und WHERE u = '{seed}')"""
    for k in range(1, hops + 1):
        prev = ", ".join(f"d{j}" for j in range(k))
        sql += f""",
    d{k} AS MATERIALIZED (
      SELECT DISTINCT und.v AS node, CAST({k} AS BIGINT) AS dist
      FROM und JOIN d{k - 1} ON und.u = d{k - 1}.node
      WHERE NOT EXISTS (
        SELECT 1 FROM (SELECT node FROM d0 {" ".join(
            f"UNION ALL SELECT node FROM d{j}" for j in range(1, k))}) s
        WHERE s.node = und.v))"""
    arms = " UNION ALL ".join(f"SELECT * FROM d{j}"
                              for j in range(hops + 1))
    return sql + f"""
    SELECT node, dist FROM ({arms})"""


@workload("token_bfs_distances", oracle=_bfs_oracle("data", 3))
def token_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous breadth-first search over the token co-occurrence
    graph (same ±2-window count ≥ 5 edge list as LPA/triangles/k-core):
    exact hop distances ≤ 3 from the seed token — the missing classic of
    the iterative-graph family (PageRank/LPA/CC/k-core/DBSCAN all ride
    the same per-round join shape).  Each round is ONE frontier-edge
    equi-join + an anti-join against the visited set; unreachable nodes
    are excluded (a 100 TB graph's BFS output is frontier-sized, never
    node-count-sized).  The oracle unrolls the three rounds as
    materialized CTEs with the identical first-discovery rule."""
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    from ophidia_io_server_spark.pin import pinned

    docs = load_table(spark, sf_dir, "documents")
    e = (cooccurrence_counts(docs, window=2)
         .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb")))
         .select("wa", "wb"))
    # The edge list feeds every BFS round (frontier expansion) plus the
    # seed lookup; without a pin each consumer in the final unioned plan
    # re-derives the corpus-wide co-occurrence explode+aggregate (the
    # triangle-counts lesson — edges are vocab²-bounded, far smaller
    # than the corpus producing them).
    und = pinned(
        (e.select(F.col("wa").alias("u"), F.col("wb").alias("v"))
         .unionByName(e.select(F.col("wb").alias("u"),
                               F.col("wa").alias("v")))),
        "bfs edge list: seed lookup + 3 frontier rounds")
    frontier = (und.where(F.col("u") == "data")
                .select(F.col("u").alias("node")).distinct()
                .withColumn("dist", F.lit(0).cast("bigint")))
    visited = frontier
    out = [frontier]
    for k in range(1, 4):
        nxt = (und.join(frontier.select(F.col("node").alias("u")), "u")
               .select(F.col("v").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(k).cast("bigint")))
        out.append(nxt)
        visited = visited.select("node").unionByName(nxt.select("node"))
        frontier = nxt
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res

@workload(
    "events_theil_sen",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS i
      FROM hourly
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / (b.i - a.i) AS sl,
             a.i AS ia, b.i AS ib
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.i < b.i
    ),
    ranked AS (
      SELECT event_type, sl,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY sl, ia, ib) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM slopes
    ),
    med AS (
      SELECT event_type, sl AS slope, CAST(m AS BIGINT) AS n_pairs
      FROM ranked WHERE r = (m + 1) // 2
    ),
    resid AS (
      SELECT idx.event_type, idx.y - med.slope * idx.i AS b0,
             idx.i AS ia
      FROM idx JOIN med ON med.event_type = idx.event_type
    ),
    rr AS (
      SELECT event_type, b0,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY b0, ia) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM resid
    )
    SELECT med.event_type, med.n_pairs,
           ROUND(med.slope, 6) AS slope,
           ROUND(rr.b0, 6) AS intercept
    FROM med JOIN rr ON rr.event_type = med.event_type
    WHERE rr.r = (rr.m + 1) // 2
    """,
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event type: slope = the
    (lower) MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(j−i) over the hourly
    series, intercept = median of yᵢ − slope·i (the 29%-breakdown
    regression OLS can't give).  Every slope is ONE IEEE division of
    exact integers — identical cross-engine — so the slope MULTISET is
    identical and the rank-selected lower median (deterministic
    (sl, i, j) tie-break) is bitwise the same value before rounding.

    Scale: the corpus collapses to the span-bounded hourly series first;
    the O(H²) pair join and the rank windows run on that bounded series
    (a year is 8.8k rows → 38M pairs per type, one task's work — the
    Kendall/Pettitt cost class)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    from ophidia_io_server_spark.pin import pinned

    wi = Window.partitionBy("event_type").orderBy("hr")
    # r13 opt: the span-bounded hourly series feeds THREE consumers
    # (both pair-join sides and the residual pass) — unpinned, each
    # re-ran the events scan + hourly aggregate + index window (plan
    # showed 3 parquet scans).  H×|types| rows, far smaller than the
    # events producing it: the pin discipline's textbook case.
    idx = pinned(hourly.select("event_type", "y",
                               F.row_number().over(wi).alias("i")),
                 "hourly series: pair join (both sides) + residual pass")
    a = idx.select("event_type", F.col("y").alias("ya"),
                   F.col("i").alias("ia"))
    b = idx.select("event_type", F.col("y").alias("yb"),
                   F.col("i").alias("ib"))
    slopes = (a.join(b, "event_type")
              .where(F.col("ia") < F.col("ib"))
              .select("event_type",
                      ((F.col("yb") - F.col("ya")).cast("double")
                       / (F.col("ib") - F.col("ia"))).alias("sl"),
                      "ia", "ib"))
    # r13 wave 6 note: replacing this per-type rank window with the
    # distributed two-phase rank (the doc_stratified_split fused-axis
    # form — bitwise-identical selection) was A/B'd and REJECTED: 2.19 →
    # 2.85/4.22/5.38 s — the chain's checkpoint + boundary-sampling jobs
    # over the H²/2 pair table cost more than the ≤|types|-task sort
    # they remove at this span (720 h × 5 types).  At a span where one
    # stratum's pairs outgrow a task, the distributed form is the
    # documented escape hatch.
    wr = Window.partitionBy("event_type").orderBy("sl", "ia", "ib")
    wc = Window.partitionBy("event_type")
    med = (slopes.select("event_type", "sl",
                         F.row_number().over(wr).alias("r"),
                         F.count(F.lit(1)).over(wc).alias("m"))
           .where(F.col("r") == F.expr("(m + 1) div 2"))
           .select("event_type", F.col("sl").alias("slope"),
                   F.col("m").cast("bigint").alias("n_pairs")))
    resid = (idx.join(med, "event_type")
             .select("event_type", "n_pairs", "slope",
                     (F.col("y") - F.col("slope") * F.col("i"))
                     .alias("b0"), F.col("i").alias("ia")))
    wb = Window.partitionBy("event_type").orderBy("b0", "ia")
    return (resid.select("event_type", "n_pairs", "slope", "b0",
                         F.row_number().over(wb).alias("r"),
                         F.count(F.lit(1)).over(wc).alias("m"))
            .where(F.col("r") == F.expr("(m + 1) div 2"))
            .select("event_type", "n_pairs",
                    F.round("slope", 6).alias("slope"),
                    F.round("b0", 6).alias("intercept")))

@workload(
    "token_graph_assortativity",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT least(tk[i], tk[i + d]) AS wa,
                  greatest(tk[i], tk[i + d]) AS wb
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt),
                unnest(range(1, 3)) AS t(d)
           WHERE i + d <= n),
    e AS (SELECT wa, wb FROM pr
          WHERE wa <> wb GROUP BY wa, wb HAVING COUNT(*) >= 5),
    und AS (SELECT wa AS u, wb AS v FROM e
            UNION ALL SELECT wb AS u, wa AS v FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM und GROUP BY u),
    dirs AS (
      SELECT du.dg AS x, dv.dg AS y
      FROM und JOIN deg du ON du.u = und.u JOIN deg dv ON dv.u = und.v
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(x AS HUGEINT) * x) AS qx,
             SUM(CAST(x AS HUGEINT) * y) AS pxy
      FROM dirs
    )
    SELECT m,
           ROUND(CAST(m * pxy - sx * sx AS DOUBLE)
                 / CAST(m * qx - sx * sx AS DOUBLE), 6) AS assortativity
    FROM s
    """,
)
def token_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the token co-occurrence graph (Newman
    2002): the Pearson correlation of endpoint degrees over DIRECTED
    edge instances — do hubs attach to hubs?  Over the symmetric
    directed edge list, x and y are exchangeable (Σx = Σy, Σx² = Σy²),
    so r = (m·Σxy − (Σx)²)/(m·Σx² − (Σx)²) — ONE fused scan over the
    degree-joined edges collecting three exact DECIMAL(38,0) sums, one
    IEEE expression, rounded 6 (the Pearson-matrix discipline on a
    graph).

    Scale: two degree joins on the edge list + one single-row
    aggregate; no windows, no pairs beyond the edges themselves."""
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts

    from ophidia_io_server_spark.pin import pinned

    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    # r13 wave 6: pin the bounded edge list (count≥5 threshold) — the
    # corpus tokenize+pair chain appeared 12× in the final plan (und
    # duplicates e, deg/x/y each re-derive und); the graph rows'
    # pinned-edges discipline (kcore/bfs) applied here.
    e = pinned((cooccurrence_counts(docs, window=2)
                .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb")))
                .select("wa", "wb")),
               "assortativity edge list: 12 subtree copies before the pin")
    und = (e.select(F.col("wa").alias("u"), F.col("wb").alias("v"))
           .unionByName(e.select(F.col("wb").alias("u"),
                                 F.col("wa").alias("v"))))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    dirs = (und.join(deg.select(F.col("u"), F.col("dg").alias("x")), "u")
            .join(deg.select(F.col("u").alias("v"),
                             F.col("dg").alias("y")), "v"))
    s = dirs.agg(F.count(F.lit(1)).cast("bigint").alias("m"),
                 F.sum(F.col("x").cast(dec)).alias("sx"),
                 F.sum((F.col("x").cast(dec) * F.col("x"))).alias("qx"),
                 F.sum((F.col("x").cast(dec) * F.col("y"))).alias("pxy"))
    m = F.col("m").cast(dec)
    return s.select(
        "m",
        F.round((m * F.col("pxy") - F.col("sx") * F.col("sx"))
                .cast("double")
                / (m * F.col("qx") - F.col("sx") * F.col("sx"))
                .cast("double"), 6).alias("assortativity"))


@workload(
    "events_logrank_test",
    oracle="""
    WITH w AS (SELECT min(ts) + INTERVAL 96 HOUR AS wend FROM events),
    e AS (SELECT * FROM events WHERE ts < (SELECT wend FROM w)),
    pu AS (
      SELECT user_id, min(ts) AS t0, max(ts) AS tl,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM e GROUP BY 1
    ),
    u AS (
      SELECT user_id % 2 AS grp,
             (epoch_us(coalesce(tp, tl)) - epoch_us(t0)) // 3600000000
               AS dur_h,
             CASE WHEN tp IS NULL THEN 1 ELSE 0 END AS cens
      FROM pu
    ),
    g AS (
      SELECT dur_h,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 - cens ELSE 0 END)
                  AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN grp = 0 THEN cens ELSE 0 END)
                  AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 - cens ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 1 THEN cens ELSE 0 END)
                  AS BIGINT) AS c1
      FROM u GROUP BY 1
    ),
    r AS (
      SELECT dur_h, d0, d1,
             SUM(d0 + c0) OVER ()
               - COALESCE(SUM(d0 + c0) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nr0,
             SUM(d1 + c1) OVER ()
               - COALESCE(SUM(d1 + c1) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nr1
      FROM g
    ),
    evt AS (SELECT * FROM r WHERE d0 + d1 > 0),
    terms AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             list(CAST(d0 + d1 AS DOUBLE) * nr1 / (nr0 + nr1)
                  ORDER BY dur_h) AS e_t,
             list(CASE WHEN nr0 + nr1 > 1
                       THEN CAST(d0 + d1 AS DOUBLE)
                            * (CAST(nr1 AS DOUBLE) / (nr0 + nr1))
                            * (1 - CAST(nr1 AS DOUBLE) / (nr0 + nr1))
                            * (nr0 + nr1 - d0 - d1)
                            / (nr0 + nr1 - 1)
                       ELSE 0.0 END ORDER BY dur_h) AS v_t
      FROM evt
    ),
    ng AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_g0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_g1
      FROM u
    )
    SELECT n_g0, n_g1, o1,
           ROUND(list_reduce(list_prepend(0.0, e_t), (a, x) -> a + x), 6)
             AS e1,
           ROUND((o1 - list_reduce(list_prepend(0.0, e_t),
                                   (a, x) -> a + x))
                 / sqrt(list_reduce(list_prepend(0.0, v_t),
                                    (a, x) -> a + x)), 6) AS z_lr
    FROM terms, ng
    """,
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group LOG-RANK test on the Kaplan-Meier setting (same 96-hour
    observation window, same time-to-first-purchase durations and
    right-censoring as ``events_kaplan_meier``): groups are the
    deterministic user_id parity split, O₁ = Σ d₁ⱼ observed group-1
    events, E₁ = Σ dⱼ·n₁ⱼ/nⱼ expected under H₀ (identical hazards),
    V = Σ dⱼ·(n₁ⱼ/nⱼ)(1−n₁ⱼ/nⱼ)(nⱼ−dⱼ)/(nⱼ−1) the hypergeometric
    variance (the nⱼ=1 term is 0 by convention), z = (O₁−E₁)/√V — the
    standard survival-curve comparison (Mantel 1966).

    Exactness: every per-time term is ONE IEEE expression over exact
    integer (d, n_risk) pairs; the E and V sums ride ORDERED lists and
    seeded LEFT FOLDS (``F.aggregate`` ↔ ``list_reduce``) — bitwise
    cross-engine; O₁ is an exact BIGINT.

    Scale: one partial-aggregatable per-user collapse, then everything
    runs on the duration-grouped table bounded by the observation
    window in hours (≤97 rows; a 10-year window is 87k) — same shape
    as the Kaplan-Meier row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wend = ev.agg((F.min("ts") + F.expr("INTERVAL 96 HOURS")).alias("wend"))
    e = (ev.crossJoin(F.broadcast(wend))
         .where(F.col("ts") < F.col("wend")))
    pu = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("tl"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("tp"))
    u = pu.select(
        (F.col("user_id") % 2).alias("grp"),
        F.expr("(unix_micros(cast(coalesce(tp, tl) as timestamp))"
               " - unix_micros(cast(t0 as timestamp))) div 3600000000")
        .alias("dur_h"),
        F.when(F.col("tp").isNull(), 1).otherwise(0).alias("cens"))
    grp, cens = F.col("grp"), F.col("cens")
    g = u.groupBy("dur_h").agg(
        F.sum(F.when(grp == 0, 1 - cens).otherwise(0)).cast("bigint")
        .alias("d0"),
        F.sum(F.when(grp == 0, cens).otherwise(0)).cast("bigint")
        .alias("c0"),
        F.sum(F.when(grp == 1, 1 - cens).otherwise(0)).cast("bigint")
        .alias("d1"),
        F.sum(F.when(grp == 1, cens).otherwise(0)).cast("bigint")
        .alias("c1"))
    w_all = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    w_prev = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1)
    r = g.select(
        "dur_h", "d0", "d1",
        (F.sum(F.col("d0") + F.col("c0")).over(w_all)
         - F.coalesce(F.sum(F.col("d0") + F.col("c0")).over(w_prev),
                      F.lit(0))).cast("bigint").alias("nr0"),
        (F.sum(F.col("d1") + F.col("c1")).over(w_all)
         - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(w_prev),
                      F.lit(0))).cast("bigint").alias("nr1"))
    evt = r.where(F.col("d0") + F.col("d1") > 0)
    d = (F.col("d0") + F.col("d1")).cast("double")
    nt = (F.col("nr0") + F.col("nr1"))
    p1 = F.col("nr1").cast("double") / nt
    e_term = d * F.col("nr1") / nt
    v_term = F.when(
        nt > 1,
        d * p1 * (1 - p1) * (nt - F.col("d0") - F.col("d1"))
        / (nt - 1)).otherwise(F.lit(0.0))
    terms = evt.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.array_sort(F.collect_list(F.struct(
            F.col("dur_h"), e_term.alias("t")))).alias("e_s"),
        F.array_sort(F.collect_list(F.struct(
            F.col("dur_h"), v_term.alias("t")))).alias("v_s"))
    ng = u.agg(
        F.sum(F.when(grp == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_g0"),
        F.sum(F.when(grp == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_g1"))
    fold = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda s: s["t"]), F.lit(0.0), lambda a, x: a + x)
    e1 = fold(F.col("e_s"))
    v = fold(F.col("v_s"))
    return (ng.crossJoin(F.broadcast(terms))  # two single-row frames
            .select("n_g0", "n_g1", "o1",
                    F.round(e1, 6).alias("e1"),
                    F.round((F.col("o1") - e1) / F.sqrt(v), 6)
                    .alias("z_lr")))


@workload(
    "events_crosscorr_leadlag",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    pairs AS (
      SELECT l.lag, c.x, p.y
      FROM lags l JOIN c ON TRUE JOIN p ON p.h = c.h + l.lag
    ),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CASE WHEN n_pairs >= 2
                     AND n_pairs * sxx - sx * sx > 0
                     AND n_pairs * syy - sy * sy > 0
                THEN ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                                  * CAST(n_pairs * syy - sy * sy
                                         AS DOUBLE)), 6)
           END AS xcorr
    FROM s
    """,
)
def events_crosscorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly click and purchase
    count series at lags −3..+3 (lag k pairs clicks at hour h with
    purchases at h+k — positive k asks "do clicks LEAD purchases?"):
    the campaign-attribution / causality-screening primitive next to
    the single-series ``events_acf`` row.  Pearson r per lag over the
    hour-aligned pairs, from exact integer moments (n, Σx, Σy, Σx²,
    Σy², Σxy in DECIMAL(38,0)) — ONE IEEE expression per lag, rounded
    6; degenerate lags (constant series or <2 pairs) emit NULL by the
    same integer predicate in both engines.

    Alignment convention: observed hours only (missing hours are
    absent, not zero-filled), matching the ACF row's convention.

    Scale: two partial-aggregatable hourly collapses (span-sized
    output), a 7-row lag explode on the click side, one equi-join on
    shifted hour — span-sized work end-to-end after the first
    aggregate; no windows, no data-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    c = (ev.where(F.col("event_type") == "click")
         .groupBy(hour.alias("h"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    p = (ev.where(F.col("event_type") == "purchase")
         .groupBy(hour.alias("h"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    dec = "decimal(38,0)"
    lagged = (c.select(
        F.explode(F.array(*[F.lit(k) for k in range(-3, 4)])).alias("lag"),
        F.col("h").alias("ch"), "x")
        .withColumn("ph", F.col("ch") + F.col("lag"))
        .join(p.withColumnRenamed("h", "ph"), "ph")
        .select("lag", "x", "y"))
    s = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"))
    n = F.col("n_pairs").cast(dec)
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("lag").cast("bigint").alias("lag"), "n_pairs",
        F.when((F.col("n_pairs") >= 2) & (vx > 0) & (vy > 0),
               F.round(num.cast("double")
                       / F.sqrt(vx.cast("double") * vy.cast("double")), 6))
        .alias("xcorr"))


@workload(
    "events_mcnemar_test",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
      FROM events
    ),
    u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                      AND CAST(ROUND(value * 100) AS BIGINT) >= 20000
                      AND epoch_us(ts) < (SELECT mid_us FROM bounds)
                      THEN 1 ELSE 0 END) AS h1,
             max(CASE WHEN event_type = 'purchase'
                      AND CAST(ROUND(value * 100) AS BIGINT) >= 20000
                      AND epoch_us(ts) >= (SELECT mid_us FROM bounds)
                      THEN 1 ELSE 0 END) AS h2
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_yes_no,
             CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_no_yes
      FROM u
    )
    SELECT n_users, b_yes_no, c_no_yes,
           CASE WHEN b_yes_no + c_no_yes > 0
                THEN ROUND(CAST((b_yes_no - c_no_yes)
                                * (b_yes_no - c_no_yes) AS DOUBLE)
                           / (b_yes_no + c_no_yes), 6)
           END AS chi2,
           CASE WHEN b_yes_no + c_no_yes > 0
                THEN ROUND(CAST((abs(b_yes_no - c_no_yes) - 1)
                                * (abs(b_yes_no - c_no_yes) - 1)
                                AS DOUBLE)
                           / (b_yes_no + c_no_yes), 6)
           END AS chi2_cc
    FROM s
    """,
)
def events_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did users'
    HIGH-VALUE purchasing (a purchase of ≥ 200.00 on the exact cents
    grid; the everyday event types are so dense here that every user
    exhibits them in both halves, degenerating b = c = 0) change
    between the first and second half of the corpus time span?  Each
    user is their own control (the paired sibling of the unpaired
    ``events_conversion_ztest``): b = stopped-buying-high users,
    c = started-buying-high users, χ² = (b−c)²/(b+c), plus the
    Edwards continuity-corrected (|b−c|−1)²/(b+c).  The midpoint is the
    exact integer-microsecond mean of the span bounds (``div``, never
    float — the epoch-nanos discipline from NOTES.md).

    Exactness: b, c are exact BIGINTs from one per-user conditional
    collapse; both statistics are ONE IEEE division each, rounded 6;
    the degenerate b+c=0 case emits NULL via the same integer predicate
    in both engines.

    Scale: one scan for the bounds, one partial-aggregatable per-user
    max-collapse, one 4-cell pivot — no shuffle beyond the user
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("(unix_micros(cast(min(ts) as timestamp))"
               " + unix_micros(cast(max(ts) as timestamp))) div 2")
        .alias("mid_us"))
    us = F.expr("unix_micros(cast(ts as timestamp))")
    u = (ev.crossJoin(F.broadcast(bounds))  # scalar midpoint bound
         .groupBy("user_id")
         .agg(F.max(F.when((F.col("event_type") == "purchase")
                           & (F.round(F.col("value") * 100)
                              .cast("bigint") >= 20000)
                           & (us < F.col("mid_us")), 1).otherwise(0))
              .alias("h1"),
              F.max(F.when((F.col("event_type") == "purchase")
                           & (F.round(F.col("value") * 100)
                              .cast("bigint") >= 20000)
                           & (us >= F.col("mid_us")), 1).otherwise(0))
              .alias("h2")))
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1)
              .otherwise(0)).cast("bigint").alias("b_yes_no"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1)
              .otherwise(0)).cast("bigint").alias("c_no_yes"))
    b, cc = F.col("b_yes_no"), F.col("c_no_yes")
    chi2 = F.when(b + cc > 0,
                  F.round(((b - cc) * (b - cc)).cast("double") / (b + cc),
                          6))
    chi2_cc = F.when(
        b + cc > 0,
        F.round(((F.abs(b - cc) - 1) * (F.abs(b - cc) - 1)).cast("double")
                / (b + cc), 6))
    return s.select("n_users", "b_yes_no", "c_no_yes",
                    chi2.alias("chi2"), chi2_cc.alias("chi2_cc"))


@workload(
    "token_hits_scores",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tt AS (SELECT tk, CAST(len(tk) AS BIGINT) AS n
           FROM toks WHERE len(tk) >= 2),
    pr AS (SELECT tk[i] AS u, tk[i + 1] AS v
           FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt)),
    e AS (SELECT u, v FROM pr
          WHERE u <> v GROUP BY u, v HAVING COUNT(*) >= 5),
    a1 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY v),
    h1 AS (SELECT e.u, CAST(SUM(a1.a) AS BIGINT) AS h
           FROM e JOIN a1 ON a1.v = e.v GROUP BY e.u),
    a2 AS (SELECT e.v, CAST(SUM(h1.h) AS BIGINT) AS a
           FROM e JOIN h1 ON h1.u = e.u GROUP BY e.v)
    SELECT v AS token, a AS auth,
           CAST(COALESCE(h1.h, 0) AS BIGINT) AS hub,
           CAST(ROW_NUMBER() OVER (ORDER BY a DESC, v) AS BIGINT) AS rnk
    FROM a2 LEFT JOIN h1 ON h1.u = a2.v
    ORDER BY a DESC, v LIMIT 20
    """,
)
def token_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the DIRECTED token
    bigram graph (u → v when u immediately precedes v at least 5 times;
    the graph family's only directed-flow member — assortativity/
    triangles/k-core all symmetrize): top-20 authorities after two
    UNNORMALIZED half-iterations from the all-ones start.  Skipping the
    per-round normalization keeps every score an EXACT INTEGER path
    count (a₁ = indeg, h₁ = Σ_out a₁, a₂ = Σ_in h₁ — the number of
    (w→u→v) walks ending at v) — normalization only rescales, so the
    RANKING is identical to normalized HITS at the same iteration and
    nothing transcendental crosses engines.  Digit budget: a₂ ≤
    |E|·max_outdeg ≤ 1e12·1e6 = 1e18 < 2⁶³ — BIGINT-safe at any corpus
    this engine targets (documented, same budget class as
    ``token_link_prediction``'s ra_scaled).

    Deterministic boundary: top-20 by (auth DESC, token ASC) — the full
    total order, so the LIMIT cut is engine-independent under ties.

    Scale: three vocabulary-keyed aggregates + two vocabulary-keyed
    equi-joins (shuffle or AQE-broadcast — Catalyst's choice, no forced
    hint per r9 verdict #2); the final top-20 is
    TakeOrderedAndProject, never a global sort."""
    from ophidia_io_server_spark.pipeline.lm import bigram_stream
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    e = (bigram_stream(docs)
         .where(F.col("w1") != F.col("w2"))
         .groupBy(F.col("w1").alias("u"), F.col("w2").alias("v"))
         .agg(F.count(F.lit(1)).alias("c"))
         .where(F.col("c") >= 5)
         .select("u", "v"))
    a1 = e.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (e.join(a1, "v")
          .groupBy("u").agg(F.sum("a").cast("bigint").alias("h")))
    a2 = (e.join(h1, "u")
          .groupBy("v").agg(F.sum("h").cast("bigint").alias("a")))
    top = (a2.join(h1.withColumnRenamed("u", "v"), "v", "left")
           .select(F.col("v").alias("token"), F.col("a").alias("auth"),
                   F.coalesce(F.col("h"), F.lit(0)).cast("bigint")
                   .alias("hub"))
           .orderBy(F.desc("auth"), F.asc("token")).limit(20))
    w = Window.orderBy(F.desc("auth"), F.asc("token"))  # 20-row frame
    return top.withColumn("rnk",
                          F.row_number().over(w).cast("bigint"))


@workload(
    "events_markov_entropy",
    oracle="""
    WITH tr AS (
      SELECT event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
              FROM tr WHERE b IS NOT NULL GROUP BY 1, 2),
    ma AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na
           FROM cells GROUP BY 1),
    nt AS (SELECT CAST(SUM(nab) AS BIGINT) AS n FROM cells)
    SELECT a, b, nab, na, n
    FROM cells JOIN ma USING (a), nt
    """,
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain: the
    conditional entropy H(next | current) = −Σ_ab (n_ab/N)·ln(n_ab/n_a)
    over within-user consecutive event-type transitions, next to the
    marginal source entropy H(current) — how PREDICTABLE is the next
    user action given the current one (their gap is the information the
    current state carries).  The information-theoretic companion to
    ``events_pagerank_transitions`` (same transition structure, entropy
    instead of stationary mass).

    r13 (environment-proofing): the HASHED projection is the exact
    transition cell table ``(a, b, nab, na, n)`` — ≤ |types|² rows of
    pure BIGINTs that are the SUFFICIENT STATISTIC for both entropies
    (H_cond and H_marginal are deterministic functions of these counts),
    so the gate row carries zero libm exposure; the ln() readouts are
    asserted against a Python brute force in tests/test_wave12_ops.py
    via the same (a, b)-ordered seeded left fold.

    Scale: ONE per-user-partitioned lead window over the fact table
    (the sessionize/SCD2 shape — partition key is user_id, never a
    global order), collapsing partial-aggregatably to ≤25 cells."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(F.col("event_type").alias("a"),
                   F.lead("event_type").over(w).alias("b"))
    cells = (tr.where(F.col("b").isNotNull())
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("nab")))
    ma = cells.groupBy("a").agg(F.sum("nab").cast("bigint").alias("na"))
    nt = cells.agg(F.sum("nab").cast("bigint").alias("n"))
    return (cells.join(ma, "a").crossJoin(F.broadcast(nt))
            .select("a", "b", "nab", "na", "n"))


def markov_entropy_readout(cells: list[tuple[str, str, int, int, int]],
                           ) -> tuple[float, float]:
    """The ln() readout over ``events_markov_entropy``'s exact cell
    table: (h_cond, h_marginal), each a seeded left fold of the
    transcendental terms in (a, b) order — the bitwise discipline the
    hashed row used before r13 moved libm out of the gate projection.
    Kept as a library function so the entropy semantics stay a tested
    API (tests/test_wave12_ops.py) rather than gate-hashed floats."""
    import math

    h_cond = 0.0
    for a, b, nab, na, n in sorted(cells):
        h_cond += -(nab / n) * math.log(nab / na)
    seen: dict[str, tuple[int, int]] = {}
    for a, _, _, na, n in cells:
        seen[a] = (na, n)
    h_marg = 0.0
    for a in sorted(seen):
        na, n = seen[a]
        h_marg += -(na / n) * math.log(na / n)
    return h_cond, h_marg


@workload(
    "events_cliffs_delta",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL AND NOT isnan(value)
    ),
    vc AS (
      SELECT v,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN event_type = 'click'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM b GROUP BY 1
    ),
    cum AS (
      SELECT v, ca, cb,
             COALESCE(SUM(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumb,
             SUM(cb) OVER () AS nb, SUM(ca) OVER () AS na
      FROM vc
    ),
    s AS (
      SELECT CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb,
             SUM(CAST(ca AS HUGEINT) * cumb) AS gt,
             SUM(CAST(ca AS HUGEINT) * (nb - cumb - cb)) AS lt
      FROM cum
    )
    SELECT na, nb,
           ROUND(CAST(gt - lt AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb), 6) AS cliffs_delta
    FROM s
    """,
)
def events_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between purchase and click value distributions —
    the nonparametric EFFECT SIZE companion to the Mann-Whitney U row
    (U says "significant", delta says "how big"):
    δ = (#(x>y) − #(x<y)) / (n_a·n_b) over all cross-group pairs,
    computed WITHOUT enumerating pairs from the value-level CDF
    (the Kruskal/KS discipline): per cents value v,
    #(click < v) = cumb(v), so gt = Σ ca_v·cumb_v and
    lt = Σ ca_v·(n_b − cumb_v − cb_v) are exact DECIMAL(38,0) pair
    counts (budget: n_a·n_b ≤ 1e26 at 10¹³ rows/group), and δ is ONE
    IEEE expression, rounded 6.

    Scale: one partial-aggregatable value-level collapse, then the
    two-phase distributed prefix sum over the cents grid
    (``operators/ranking.py::global_prefix_sum`` — the Mann-Whitney/KS
    discipline; the cents grid is data-dependent under continuous
    values ×100, so a bare ``Window.orderBy`` single-task stage is the
    r9-verdict scale-killer class), one pivot row.  The exclusive
    click-CDF is ``cum − cb`` from the inclusive sum, and
    ``lt = na·nb − Σ ca·cum`` algebraically, so one fused aggregate
    yields all four scalars."""
    dec = "decimal(38,0)"
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("event_type").isin("purchase", "click")
                 & F.col("value").isNotNull() & ~F.isnan("value")))
    vc = (ev.select(F.round(F.col("value") * 100).cast("bigint").alias("v"),
                    F.col("event_type").alias("g"))
          .groupBy("v")
          .agg(F.sum(F.when(F.col("g") == "purchase", 1).otherwise(0))
               .cast("bigint").alias("ca"),
               F.sum(F.when(F.col("g") == "click", 1).otherwise(0))
               .cast("bigint").alias("cb")))
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    cum = global_prefix_sum(vc, ["v"], "cb")
    s = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca").cast(dec)
              * (F.col("cum") - F.col("cb"))).alias("gt"),
        F.sum(F.col("ca").cast(dec) * F.col("cum")).alias("ca_cum"))
    lt = (F.col("na").cast(dec) * F.col("nb").cast(dec)
          - F.col("ca_cum"))
    return s.select(
        "na", "nb",
        F.round((F.col("gt") - lt).cast("double")
                / (F.col("na").cast("double") * F.col("nb")), 6)
        .alias("cliffs_delta"))


@workload(
    "events_nelson_aalen",
    oracle="""
    WITH w AS (SELECT min(ts) + INTERVAL 96 HOUR AS wend FROM events),
    e AS (SELECT * FROM events WHERE ts < (SELECT wend FROM w)),
    pu AS (
      SELECT user_id, min(ts) AS t0, max(ts) AS tl,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM e GROUP BY 1
    ),
    u AS (
      SELECT (epoch_us(coalesce(tp, tl)) - epoch_us(t0)) // 3600000000
               AS dur_h,
             CASE WHEN tp IS NULL THEN 1 ELSE 0 END AS cens
      FROM pu
    ),
    g AS (
      SELECT dur_h, CAST(SUM(1 - cens) AS BIGINT) AS d,
             CAST(SUM(cens) AS BIGINT) AS c
      FROM u GROUP BY 1
    ),
    r AS (
      SELECT dur_h, d, c,
             SUM(d + c) OVER ()
               - COALESCE(SUM(d + c) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g
    ),
    evt AS (
      SELECT dur_h, CAST(n_risk AS BIGINT) AS n_risk, d, c,
             list(CAST(d AS DOUBLE) / n_risk) OVER (
               ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hs,
             list(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
               OVER (ORDER BY dur_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS vs
      FROM r WHERE d > 0
    )
    SELECT dur_h, n_risk, d, c,
           ROUND(list_reduce(list_prepend(0.0, hs), (a, x) -> a + x), 6)
             AS cum_hazard,
           ROUND(list_reduce(list_prepend(0.0, vs), (a, x) -> a + x), 6)
             AS hazard_var
    FROM evt
    """,
)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{tⱼ≤t} dⱼ/nⱼ with its
    variance estimate Σ dⱼ/nⱼ² — the HAZARD-scale companion to the
    Kaplan-Meier survival row (same 96-hour time-to-first-purchase
    setting, same right-censoring; exp(−H) is the survival's
    product-limit cousin and the two rows cross-check each other).

    Exactness: each increment is one IEEE division of exact integers
    and both running sums ride ordered-window lists + seeded LEFT FOLDS
    (``F.aggregate`` ↔ ``list_reduce``) — bitwise cross-engine,
    rounded 6.

    Scale: identical shape to the KM row — one per-user collapse, then
    observation-window-bounded series math (≤97 rows here)."""
    from pyspark.sql import Window

    r = _first_purchase_risk_table(spark, sf_dir)
    w_cur = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    evt = (r.where(F.col("d") > 0)
           .withColumn("hs", F.collect_list(
               F.col("d").cast("double") / F.col("n_risk")).over(w_cur))
           .withColumn("vs", F.collect_list(
               F.col("d").cast("double")
               / (F.col("n_risk").cast("double") * F.col("n_risk")))
               .over(w_cur)))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0),  # noqa: E731
                                   lambda a, x: a + x)
    return evt.select("dur_h", "n_risk", "d", "c",
                      F.round(fold(F.col("hs")), 6).alias("cum_hazard"),
                      F.round(fold(F.col("vs")), 6).alias("hazard_var"))


@workload(
    "events_circadian_uniformity",
    oracle="""
    WITH h AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS n,
                 SUM(CAST(o AS HUGEINT) * o) AS oo
          FROM h GROUP BY 1),
    pk AS (
      SELECT event_type, hod AS peak_hour, o AS peak_n
      FROM (SELECT event_type, hod, o,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY o DESC, hod) AS rn
            FROM h) WHERE rn = 1
    )
    SELECT t.event_type, t.n,
           CAST(pk.peak_hour AS BIGINT) AS peak_hour, pk.peak_n,
           ROUND(CAST(24 * t.oo - CAST(t.n AS HUGEINT) * t.n AS DOUBLE)
                 / t.n, 6) AS chi2_uniform
    FROM t JOIN pk USING (event_type)
    """,
)
def events_circadian_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian load profile per event type: the peak hour-of-day and
    the chi-squared test against a UNIFORM 24-hour profile — the
    capacity-planning / bot-detection screen (organic traffic is
    strongly circadian, uniform load is a red flag).  Clearing
    E = n/24 turns χ² = Σ(O−E)²/E into (24·ΣO² − n²)/n — ONE IEEE
    division over exact DECIMAL integers (budget: 24·ΣO² ≤ 24·n² ≤
    2.4e25 at 10¹² events/type); the peak is argmax under the total
    (count DESC, hour) order.

    Scale: one partial-aggregatable (type, hour-of-day) collapse to
    ≤ 24·|types| cells; everything after is cell-table math."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events")
    h = (ev.groupBy("event_type", F.hour("ts").alias("hod"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    t = h.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.sum(F.col("o").cast(dec) * F.col("o")).alias("oo"))
    w = Window.partitionBy("event_type").orderBy(F.desc("o"), F.asc("hod"))
    pk = (h.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") == 1)
          .select("event_type", F.col("hod").cast("bigint")
                  .alias("peak_hour"), F.col("o").alias("peak_n")))
    n = F.col("n").cast(dec)
    return (t.join(pk, "event_type")
            .select("event_type", "n", "peak_hour", "peak_n",
                    F.round((24 * F.col("oo") - n * n).cast("double")
                            / F.col("n"), 6).alias("chi2_uniform")))


def _seasonal_anomaly_oracle() -> str:
    base = WORKLOADS["events_seasonal_decompose"].oracle
    return f"""
    WITH base AS ({base}),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(list_prepend(0.0, list(resid ORDER BY hr)),
                         (a, x) -> a + x) AS sr,
             list_reduce(list_prepend(0.0,
                           list(resid * resid ORDER BY hr)),
                         (a, x) -> a + x) AS srr
      FROM base GROUP BY 1
    ),
    z AS (
      SELECT b.event_type, b.hr, b.y, b.resid,
             (b.resid - st.sr / st.n)
             / sqrt((st.srr - st.sr * st.sr / st.n) / (st.n - 1)) AS zv
      FROM base b JOIN st USING (event_type)
      WHERE st.n >= 3
    )
    SELECT event_type, hr, y, resid, ROUND(zv, 6) AS z
    FROM z WHERE abs(zv) > 3.0
    """


@workload("events_seasonal_anomalies", oracle=_seasonal_anomaly_oracle())
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual anomaly flags on top of the classical decomposition
    (``events_seasonal_decompose``): hours whose residual sits more
    than 3 standard deviations from the per-type residual mean — the
    standard "strip trend and seasonality, THEN threshold" anomaly
    recipe (a raw-count threshold would just flag every rush hour).

    Composition + float discipline: the base row's residuals are
    exact IEEE values bitwise-identical across engines (un-rounded
    since r14 — see ``events_seasonal_decompose``), so
    this operator CONSUMES the sibling workload verbatim (same fn here,
    its oracle text inlined as a CTE there); the per-type moment sums
    ride hr-ordered folds (``F.aggregate`` ↔ ``list_reduce``), making
    mean/sd/z bitwise too — the 3σ cut compares identical doubles.

    Scale: everything runs on the span-bounded decomposition output;
    one ≤|types|-row stats frame joined back."""
    from pyspark.sql import Window

    base = WORKLOADS["events_seasonal_decompose"].fn(spark, sf_dir)
    st = (base.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
               F.array_sort(F.collect_list(F.struct(
                   F.col("hr"), F.col("resid").alias("r")))).alias("rs")))
    fold = lambda arr, f: F.aggregate(  # noqa: E731
        F.transform(arr, f), F.lit(0.0), lambda a, x: a + x)
    st = st.select(
        "event_type", "n",
        fold(F.col("rs"), lambda s: s["r"]).alias("sr"),
        fold(F.col("rs"), lambda s: s["r"] * s["r"]).alias("srr"))
    zv = ((F.col("resid") - F.col("sr") / F.col("n"))
          / F.sqrt((F.col("srr") - F.col("sr") * F.col("sr") / F.col("n"))
                   / (F.col("n") - 1)))
    return (base.join(st, "event_type")
            .where(F.col("n") >= 3)
            .withColumn("zv", zv)
            .where(F.abs(F.col("zv")) > 3.0)
            .select("event_type", "hr", "y", "resid",
                    F.round(F.col("zv"), 6).alias("z")))


@workload(
    "events_funnel_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS vt FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS ct
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts > v.vt AND e.ts <= v.vt + INTERVAL 24 HOUR
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts > c.ct AND e.ts <= c.ct + INTERVAL 24 HOUR
      GROUP BY 1
    )
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_24h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_24h,
           ROUND((SELECT COUNT(*) FROM c) * 1.0
                 / (SELECT COUNT(*) FROM v), 6) AS view_to_click,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM c), 6) AS click_to_purchase
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-ORDERED, DEADLINE-BOUNDED funnel: first view → first
    click STRICTLY AFTER it within 24 h → first purchase strictly after
    that click within 24 h — the product-analytics funnel with
    conversion windows (the unordered ``events_funnel`` counts a user
    who purchased before ever viewing; this one does not, which is what
    an attribution deadline means).

    Exactness: pure integer counting; interval bounds are timestamp
    comparisons identical in both engines; the two rates are single
    IEEE divisions, rounded 6.

    Scale: three user-keyed stages (per-user min → join-back filtered
    min, twice) — each one partial-aggregatable collapse + one user
    equi-join (shuffle or AQE-broadcast, Catalyst's choice); no
    windows, no data-sized state."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("vt")))
    c = (ev.join(v, "user_id")
         .where((F.col("event_type") == "click")
                & (F.col("ts") > F.col("vt"))
                & (F.col("ts") <= F.col("vt")
                   + F.expr("INTERVAL 24 HOURS")))
         .groupBy("user_id").agg(F.min("ts").alias("ct")))
    p = (ev.join(c, "user_id")
         .where((F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("ct"))
                & (F.col("ts") <= F.col("ct")
                   + F.expr("INTERVAL 24 HOURS")))
         .groupBy("user_id").agg(F.min("ts").alias("pt")))
    nu = ev.agg(F.countDistinct("user_id").cast("bigint")
                .alias("n_users"))
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_24h"))
    np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase_24h"))
    return (nu.crossJoin(F.broadcast(nv)).crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(np_))  # four single-row frames
            .select("n_users", "n_view", "n_click_24h", "n_purchase_24h",
                    F.round(F.col("n_click_24h") * 1.0
                            / F.col("n_view"), 6).alias("view_to_click"),
                    F.round(F.col("n_purchase_24h") * 1.0
                            / F.col("n_click_24h"), 6)
                    .alias("click_to_purchase")))


@workload(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
            FROM ud GROUP BY 1),
    expanded AS (
      SELECT DISTINCT day + CAST(o AS INTEGER) AS wday, user_id
      FROM ud, unnest(range(0, 7)) AS t(o)
    ),
    wau AS (
      SELECT e.wday AS day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM expanded e JOIN days d ON d.day = e.wday
      GROUP BY 1
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM days d JOIN dau USING (day) JOIN wau USING (day)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the canonical
    product-engagement dashboard (stickiness = DAU/WAU is the classic
    "how habitual is usage" ratio).  Exact distinct-user counting, no
    sketches: the per-day active-user sets collapse to distinct
    (day, user) pairs FIRST, and the 7-day rolling union is computed by
    the EXPLODE-to-window-anchor trick — each user-day contributes to
    the 7 window anchors it can serve, then one distinct + count per
    anchor — never a distinct-over-sliding-window (which Spark cannot
    partial-aggregate) and never a self-join range predicate.

    Exactness: all counts are exact BIGINTs off distinct projections;
    stickiness is ONE IEEE division, rounded 6.  Anchors are restricted
    to days that exist in the data (identical row set both engines).

    Scale: distinct (day, user) is one partial-aggregatable shuffle;
    the ×7 explode multiplies the USER-DAY table (corpus-sized but
    7-bounded); the user-day table feeds THREE consumers and is pinned
    (localCheckpoint) so the events scan + distinct run once, not once
    per consumer (measured: 3 identical exchanges without the pin — the
    recompute-per-consumer class from r8 verdict #7); the day table is
    span-bounded."""
    from ophidia_io_server_spark.pin import pinned

    ev = load_table(spark, sf_dir, "events")
    ud = pinned(
        (ev.select(F.to_date("ts").alias("day"), "user_id").distinct()),
        "user-day table: feeds days/dau/expanded (3 consumers; "
        "much smaller than events)")
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau"))
    expanded = (ud.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day", "user_id")
        .select(F.date_add(F.col("day"), F.col("o")).alias("wday"),
                "user_id")
        .distinct())
    wau = (expanded.join(days.withColumnRenamed("day", "wday"), "wday")
           .groupBy("wday")
           .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
           .withColumnRenamed("wday", "day"))
    return (days.join(dau, "day").join(wau, "day")
            .select(F.col("day").cast("timestamp").alias("day"),
                    "dau", "wau",
                    F.round(F.col("dau").cast("double") / F.col("wau"), 6)
                    .alias("stickiness")))


@workload(
    "events_value_psi",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
      FROM events
    ),
    b AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM bounds)
                  THEN 1 ELSE 0 END AS ha
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    tot AS (SELECT CAST(SUM(ha) AS BIGINT) AS na,
                   CAST(SUM(1 - ha) AS BIGINT) AS nb FROM b),
    vc AS (SELECT v, CAST(SUM(ha) AS BIGINT) AS ca,
                  CAST(SUM(1 - ha) AS BIGINT) AS cb
           FROM b GROUP BY 1),
    cum AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cum
            FROM vc WHERE ca > 0),
    edges AS (
      SELECT k, MIN(v) AS edge
      FROM cum, unnest(range(1, 10)) AS t(k), tot
      WHERE 10 * cum >= k * tot.na GROUP BY 1
    ),
    vb AS (
      SELECT dv.v,
             CAST(SUM(CASE WHEN dv.v >= e.edge THEN 1 ELSE 0 END)
                  AS BIGINT) AS bin
      FROM (SELECT DISTINCT v FROM vc) dv CROSS JOIN edges e
      GROUP BY 1
    ),
    counts AS (
      SELECT vb.bin,
             CAST(SUM(vc.ca) AS BIGINT) AS n_first,
             CAST(SUM(vc.cb) AS BIGINT) AS n_second
      FROM vc JOIN vb USING (v) GROUP BY 1
    ),
    allbins AS (
      SELECT CAST(k AS BIGINT) AS bin,
             COALESCE(c.n_first, 0) AS n_first,
             COALESCE(c.n_second, 0) AS n_second
      FROM unnest(range(0, 10)) AS t(k)
      LEFT JOIN counts c ON c.bin = k
    )
    SELECT bin, n_first, n_second, tot.na, tot.nb
    FROM allbins, tot
    """,
)
def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution
    between the first and second half of the corpus time span — the
    standard model-monitoring DRIFT metric (PSI < 0.1 stable, > 0.25
    action): ten bins anchored on the FIRST half's exact nearest-rank
    deciles, Laplace-smoothed (+1 per bin) so empty second-half bins
    stay finite, PSI = Σ (p₁ₖ − p₂ₖ)·ln(p₁ₖ/p₂ₖ).

    Exactness: the decile edges come off the distributed prefix-sum CDF
    over the first half's distinct integer-cents grid (edge_k = min v
    with 10·cum ≥ k·n₁ — an integer inequality, the nearest-rank
    definition with no float rank); bin counts are exact BIGINTs.
    r13 (environment-proofing): the ln() terms leave the HASHED
    projection — the row carries the exact sufficient statistic
    ``(bin, n_first, n_second, na, nb)`` (PSI is a deterministic
    function of these five integers given the +1/+10 Laplace smoothing),
    so the gate row has zero libm exposure; the PSI readout itself is
    asserted in tests/test_wave16_ops.py via ``psi_readout``.

    Scale: one value-level collapse (partial-aggregatable), the
    two-phase prefix sum over the cents grid, a 9-row broadcast edge
    join, a 10-row cell table after — no data-sized windows, the
    half-split predicate is a scan-level filter off a broadcast scalar."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.unix_micros(F.expr("cast(min(ts) as timestamp)"))
          + F.unix_micros(F.expr("cast(max(ts) as timestamp)")))
         / F.lit(2)).cast("bigint").alias("mid"))
    b = (ev.where(F.col("value").isNotNull() & ~F.isnan("value"))
         .crossJoin(F.broadcast(mid))  # scalar midpoint bound
         .select(F.round(F.col("value") * 100).cast("bigint").alias("v"),
                 F.when(F.expr("unix_micros(cast(ts as timestamp))")
                        < F.col("mid"), 1).otherwise(0).alias("ha")))
    from ophidia_io_server_spark.pin import pinned

    # r13 wave 6: pin the value-cardinality collapse — it feeds FOUR
    # consumers (totals, the prefix-sum chain, the bin-edge assignment,
    # the final cell join), each of which re-derived the events scan +
    # groupBy before (the mad/brown-forsythe pinned-value-grid
    # discipline).  ``vb`` also dropped its redundant ``distinct``:
    # ``v`` is the groupBy key, already unique.
    vc = pinned(
        b.groupBy("v").agg(
            F.sum("ha").cast("bigint").alias("ca"),
            F.sum(1 - F.col("ha")).cast("bigint").alias("cb")),
        "PSI value-count grid: 4 consumers")
    tot = vc.agg(F.sum("ca").cast("bigint").alias("na"),
                 F.sum("cb").cast("bigint").alias("nb"))
    cum = global_prefix_sum(vc.where(F.col("ca") > 0).select("v", "ca"),
                            ["v"], "ca")
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = (cum.crossJoin(F.broadcast(tot))
             .crossJoin(F.broadcast(ks))
             .where(10 * F.col("cum") >= F.col("k") * F.col("na"))
             .groupBy("k").agg(F.min("v").alias("edge")))
    vb = (vc.select("v")
          .crossJoin(F.broadcast(edges))
          .groupBy("v")
          .agg(F.sum(F.when(F.col("v") >= F.col("edge"), 1).otherwise(0))
               .cast("bigint").alias("bin")))
    counts = (vc.join(vb, "v")
              .groupBy("bin")
              .agg(F.sum("ca").cast("bigint").alias("n_first"),
                   F.sum("cb").cast("bigint").alias("n_second")))
    allbins = (spark.range(0, 10)
               .select(F.col("id").cast("bigint").alias("bin"))
               .join(counts, "bin", "left")
               .select("bin",
                       F.coalesce("n_first", F.lit(0)).cast("bigint")
                       .alias("n_first"),
                       F.coalesce("n_second", F.lit(0)).cast("bigint")
                       .alias("n_second")))
    return (allbins.crossJoin(F.broadcast(tot))
            .select("bin", "n_first", "n_second", "na", "nb"))


def psi_readout(bins: list[tuple[int, int, int]], na: int, nb: int,
                ) -> tuple[dict[int, float], float]:
    """PSI readout over ``events_value_psi``'s exact bin table: per-bin
    Laplace-smoothed terms (pₖ − qₖ)·ln(pₖ/qₖ) and their bin-ordered
    seeded left-fold total — the float surface the hashed row carried
    before r13 moved libm out of the gate projection.  A deterministic
    function of the hashed integers; asserted in
    tests/test_wave16_ops.py against a Python brute force."""
    import math

    terms: dict[int, float] = {}
    total = 0.0
    for b, n1, n2 in sorted(bins):
        p1 = (n1 + 1) / (na + 10)
        p2 = (n2 + 1) / (nb + 10)
        terms[b] = (p1 - p2) * math.log(p1 / p2)
        total += terms[b]
    return terms, total


_RBO_P_POWS = [0.9 ** d for d in range(1, 21)]
_RBO_P_SQL = "[" + ", ".join(repr(p) for p in _RBO_P_POWS) + "]"


@workload(
    "doc_rbo_retrieval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM toks),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl
          FROM dls),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
                  MIN(dl) AS dl
           FROM (SELECT doc_id, dl, unnest(tk) AS term FROM dls) u
           WHERE term IN ('hash', 'merge', 'scan') GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
            GROUP BY term),
    con AS (SELECT tf.doc_id, tf.term,
                   ln(1 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / g.avgdl))
                     AS c
            FROM tf JOIN dfq USING (term) CROSS JOIN g),
    sc AS (SELECT doc_id,
                  ROUND(list_aggregate(list(c ORDER BY term), 'sum'), 6)
                    AS score
           FROM con GROUP BY doc_id),
    bm AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS ra
      FROM sc ORDER BY score DESC, doc_id LIMIT 20),
    tft AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tft FROM tf
            GROUP BY doc_id),
    tr AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY tft DESC, doc_id)
                  AS BIGINT) AS rb
      FROM tft ORDER BY tft DESC, doc_id LIMIT 20),
    pr AS (
      SELECT greatest(bm.ra, tr.rb) AS m
      FROM bm JOIN tr USING (doc_id)),
    xd AS (
      SELECT CAST(d AS BIGINT) AS depth,
             CAST((SELECT COUNT(*) FROM pr WHERE m <= d) AS BIGINT)
               AS overlap
      FROM unnest(range(1, 21)) AS t(d)),
    fold AS (
      SELECT list_reduce(
               list_prepend(0.0, list(
                 (CAST(overlap AS DOUBLE) / depth)
                 * ({_RBO_P_SQL})[depth]
                 ORDER BY depth)),
               (a, x) -> a + x) AS acc,
             MAX(CASE WHEN depth = 20 THEN overlap END) AS x20
      FROM xd)
    SELECT xd.depth, xd.overlap,
           ROUND(CAST(xd.overlap AS DOUBLE) / xd.depth, 6) AS agreement,
           ROUND((1 - 0.9) / 0.9 * fold.acc
                 + (CAST(fold.x20 AS DOUBLE) / 20)
                   * ({_RBO_P_SQL})[20], 6) AS rbo_ext
    FROM xd, fold
    """,
)
def doc_rbo_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber, Moffat & Zobel, TOIS 2010) between
    the BM25 top-20 and the raw term-frequency top-20 for the query
    {hash, merge, scan} — the standard top-weighted rank-similarity
    metric a retrieval pipeline uses to quantify how much two rankers
    agree (the evaluation companion of ``doc_rrf_retrieval``, which
    FUSES the same two arms).  Emits the full overlap curve (X_d,
    agreement X_d/d per depth) plus the extrapolated RBO_ext at p=0.9.

    Determinism: both rankings are total orders ((rounded score,
    doc_id) / (integer tf, doc_id)); X_d is an exact integer prefix
    count of the max-rank table; p^d enters as a SHARED LITERAL VECTOR
    (the same python-repr doubles embedded in both engines — never
    pow(), whose last ulp is library-dependent); the 20-term RBO sum is
    a seeded LEFT FOLD in depth order (`F.aggregate` <->
    `list_reduce`) — bitwise cross-engine.

    Scale: both arms are candidate-only (3-term postings) +
    TakeOrdered top-20; everything after is 20-row frame math."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pin import pinned
    from ophidia_io_server_spark.pipeline.retrieval import (
        bm25_topk,
        query_tf_table,
    )

    TERMS = ["hash", "merge", "scan"]
    docs = load_table(spark, sf_dir, "documents")
    # r13 opt: shared query-term postings for both arms — one corpus
    # tokenize pass instead of two (same pattern as doc_rrf_retrieval)
    tf = pinned(query_tf_table(docs, TERMS),
                "RBO query postings: BM25 arm + raw-tf arm")
    bm = (bm25_topk(docs, TERMS, k=20, tf=tf)
          .select("doc_id", F.col("rank").alias("ra")))
    tft = (tf.groupBy("doc_id")
           .agg(F.sum("tf").cast("bigint").alias("tft")))
    w = Window.orderBy(F.col("tft").desc(), F.col("doc_id").asc())
    tr = (tft.orderBy(F.col("tft").desc(), F.col("doc_id").asc()).limit(20)
          .withColumn("rb", F.row_number().over(w).cast("bigint"))
          .select("doc_id", "rb"))
    both = (bm.join(tr, "doc_id")
            .select(F.greatest("ra", "rb").alias("m")))
    depths = spark.range(1, 21).select(F.col("id").cast("bigint")
                                       .alias("depth"))
    xd = (depths.join(F.broadcast(both), F.col("m") <= F.col("depth"),
                      "left")
          .groupBy("depth")
          .agg(F.count("m").cast("bigint").alias("overlap")))
    pows = F.array(*[F.lit(p) for p in _RBO_P_POWS])
    w_all = Window.orderBy("depth").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    # 20-row bounded frame: ordered fold in depth order (the
    # transcendental-sum discipline; p^d are shared literals, not pow)
    folded = xd.withColumn(
        "acc",
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("depth"), F.col("overlap"))).over(w_all)),
                lambda s: (s["overlap"].cast("double") / s["depth"])
                * F.element_at(pows, s["depth"].cast("int"))),
            F.lit(0.0), lambda a, x: a + x)) \
        .withColumn("x20", F.max(F.when(F.col("depth") == 20,
                                        F.col("overlap"))).over(w_all))
    return folded.select(
        "depth", "overlap",
        F.round(F.col("overlap").cast("double") / F.col("depth"), 6)
        .alias("agreement"),
        F.round((1 - 0.9) / 0.9 * F.col("acc")
                + (F.col("x20").cast("double") / 20)
                * F.element_at(pows, 20), 6).alias("rbo_ext"))


@workload(
    "events_max_drawdown",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, hr,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY hr) AS s
      FROM hourly
    ),
    cum AS (
      SELECT event_type, hr, s,
             MAX(s) OVER (PARTITION BY event_type ORDER BY hr) AS runmax
      FROM pre
    ),
    dd AS (
      SELECT event_type, hr, s, runmax,
             CAST(runmax - s AS BIGINT) AS drawdown,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY runmax - s DESC, hr) AS rk
      FROM cum
    ),
    trough AS (SELECT * FROM dd WHERE rk = 1),
    peak AS (
      SELECT t.event_type, MIN(c.hr) AS peak_hr
      FROM trough t JOIN cum c
        ON c.event_type = t.event_type
       AND c.hr <= t.hr AND c.s = t.runmax
      GROUP BY 1
    )
    SELECT t.event_type,
           CAST(t.drawdown AS BIGINT) AS max_drawdown_cents,
           p.peak_hr, t.hr AS trough_hr,
           CAST(t.runmax AS BIGINT) AS peak_cum_cents,
           CAST(t.s AS BIGINT) AS trough_cum_cents
    FROM trough t JOIN peak p USING (event_type)
    """,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum DRAWDOWN of the cumulative hourly revenue series per
    event type — the classic risk/monitoring metric (largest
    peak-to-trough decline of a running total; here of integer-cents
    revenue, so every quantity is exact): drawdown_t = max_{u<=t} S_u −
    S_t, reported with the peak and trough hours (trough = first hour
    achieving the max drawdown; peak = first hour achieving the running
    max before it — both deterministic (value, hr) tie-breaks).

    Exactness: pure BIGINT arithmetic end-to-end (cents sums, running
    prefix, running max, argmax by integer ordering) — no floats
    anywhere in the row.

    Scale: the corpus collapses to the span-bounded (type, hour) cents
    series first (partial-aggregatable); the prefix/running windows and
    argmax run on that bounded series (the Pettitt/Kendall cost class);
    the peak attribution joins two span-bounded frames."""
    from pyspark.sql import Window

    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & ~F.isnan("value")))
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                   .cast("bigint").alias("cents")))
    w = Window.partitionBy("event_type").orderBy("hr")
    cum = (hourly
           .withColumn("s", F.sum("cents").over(w))
           .withColumn("runmax", F.max(F.col("s")).over(w)))
    wdd = Window.partitionBy("event_type").orderBy(
        F.desc(F.col("runmax") - F.col("s")), F.asc("hr"))
    trough = (cum.withColumn("rk", F.row_number().over(wdd))
              .where(F.col("rk") == 1)
              .select("event_type",
                      (F.col("runmax") - F.col("s")).cast("bigint")
                      .alias("max_drawdown_cents"),
                      F.col("hr").alias("trough_hr"),
                      F.col("runmax").cast("bigint")
                      .alias("peak_cum_cents"),
                      F.col("s").cast("bigint").alias("trough_cum_cents")))
    peak = (trough.join(
        cum.select("event_type", F.col("hr").alias("chr"),
                   F.col("s").alias("cs")), "event_type")
        .where((F.col("chr") <= F.col("trough_hr"))
               & (F.col("cs") == F.col("peak_cum_cents")))
        .groupBy("event_type")
        .agg(F.min("chr").alias("peak_hr")))
    return (trough.join(peak, "event_type")
            .select("event_type", "max_drawdown_cents", "peak_hr",
                    "trough_hr", "peak_cum_cents", "trough_cum_cents"))


def _ljungbox_oracle() -> str:
    base = WORKLOADS["events_acf"].oracle
    return f"""
    WITH acf_rows AS ({base}),
    g AS (
      SELECT event_type,
             CAST(MAX(n_pairs + lag) AS BIGINT) AS n,
             CAST(MAX(lag) AS BIGINT) AS h,
             list_reduce(list_prepend(0.0,
               list(acf * acf / n_pairs ORDER BY lag)),
               (a, x) -> a + x) AS s
      FROM acf_rows GROUP BY 1
    )
    SELECT event_type, n, h,
           ROUND(CAST(n AS DOUBLE) * (n + 2) * s, 6) AS q_lb
    FROM g
    """


@workload("events_ljungbox_q", oracle=_ljungbox_oracle())
def events_ljungbox_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test COMPOSED on the ACF row
    (Box-Jenkins diagnostics: Q_h = n(n+2)·Σ_{k≤h} r_k²/(n−k), here
    h = 6 on the hourly series per event type — "is there ANY serial
    structure left", the standard residual-diagnostic after a fit, and
    a strong positive on raw circadian traffic).  Consumes the ACF
    workload's bitwise 6-dp-rounded r_k values (the
    ``events_seasonal_anomalies`` composition discipline: the oracle
    inlines the base row's oracle as a CTE, so the composed statistic is
    exactly as cross-engine-stable as the base row), with n − k = the
    base row's n_pairs and n recovered EXACTLY as n_pairs + lag — no
    second pass over the data.

    Float discipline: each term r_k²/(n−k) is one IEEE chain over a
    6-dp double and an exact integer; the 6-term sum is a seeded LEFT
    FOLD in lag order (`F.aggregate` <-> `list_reduce`).

    Scale: one 6-row-per-type reshape of the already-bounded ACF
    output; zero additional scans."""
    from pyspark.sql import Window  # noqa: F401 (parity with siblings)

    acf = WORKLOADS["events_acf"].fn(spark, sf_dir)
    g = (acf.groupBy("event_type")
         .agg(F.max(F.col("n_pairs") + F.col("lag")).cast("bigint")
              .alias("n"),
              F.max("lag").cast("bigint").alias("h"),
              F.aggregate(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct(F.col("lag"), F.col("acf"),
                                   F.col("n_pairs")))),
                      lambda s: s["acf"] * s["acf"] / s["n_pairs"]),
                  F.lit(0.0), lambda a, x: a + x).alias("s")))
    return g.select(
        "event_type", "n", "h",
        F.round(F.col("n").cast("double") * (F.col("n") + 2)
                * F.col("s"), 6).alias("q_lb"))


def _seasonal_strength_oracle() -> str:
    base = WORKLOADS["events_seasonal_decompose"].oracle
    return f"""
    WITH base AS ({base}),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(list_prepend(0.0, list(resid ORDER BY hr)),
                         (a, x) -> a + x) AS sr,
             list_reduce(list_prepend(0.0,
                           list(resid * resid ORDER BY hr)),
                         (a, x) -> a + x) AS srr,
             list_reduce(list_prepend(0.0,
                           list(seasonal + resid ORDER BY hr)),
                         (a, x) -> a + x) AS sd,
             list_reduce(list_prepend(0.0,
                           list((seasonal + resid) * (seasonal + resid)
                                ORDER BY hr)),
                         (a, x) -> a + x) AS sdd,
             list_reduce(list_prepend(0.0, list(trend + resid ORDER BY hr)),
                         (a, x) -> a + x) AS st,
             list_reduce(list_prepend(0.0,
                           list((trend + resid) * (trend + resid)
                                ORDER BY hr)),
                         (a, x) -> a + x) AS stt
      FROM base GROUP BY 1
    )
    SELECT event_type, n,
           ROUND(greatest(0.0, 1 - (srr - sr * sr / n)
                               / (sdd - sd * sd / n)), 6) AS f_seasonal,
           ROUND(greatest(0.0, 1 - (srr - sr * sr / n)
                               / (stt - st * st / n)), 6) AS f_trend
    FROM g
    """


@workload("events_seasonal_strength", oracle=_seasonal_strength_oracle())
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH of the hourly series per event type
    (Hyndman & Athanasopoulos, FPP: F_s = max(0, 1 −
    Var(R)/Var(S+R)), F_t = max(0, 1 − Var(R)/Var(T+R))) — the
    one-number "how seasonal / how trending is this series" summary a
    monitoring dashboard ranks series by, COMPOSED on the classical
    decomposition row (consumes its bitwise exact trend/seasonal/resid,
    un-rounded since r14; the ``events_seasonal_anomalies`` discipline
    — the oracle inlines the base oracle as a CTE).

    Float discipline: all six moments are seeded LEFT FOLDS in hr order
    over the bitwise base values (`F.aggregate` <-> `list_reduce`);
    the variance ratios are single IEEE chains over the folded scalars.

    Scale: one groupBy over the span-bounded decomposition output;
    zero additional scans of the corpus."""
    dec_df = WORKLOADS["events_seasonal_decompose"].fn(spark, sf_dir)
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("hr"), F.col("resid"), F.col("seasonal"), F.col("trend"))))

    def fold(expr_fn):
        return F.aggregate(F.transform(F.col("_a"), expr_fn),
                           F.lit(0.0), lambda a, x: a + x)

    g = (dec_df.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              arr.alias("_a"))
         .select(
             "event_type", "n",
             fold(lambda s: s["resid"]).alias("sr"),
             fold(lambda s: s["resid"] * s["resid"]).alias("srr"),
             fold(lambda s: s["seasonal"] + s["resid"]).alias("sd"),
             fold(lambda s: (s["seasonal"] + s["resid"])
                  * (s["seasonal"] + s["resid"])).alias("sdd"),
             fold(lambda s: s["trend"] + s["resid"]).alias("st"),
             fold(lambda s: (s["trend"] + s["resid"])
                  * (s["trend"] + s["resid"])).alias("stt")))
    n = F.col("n")
    var_r = F.col("srr") - F.col("sr") * F.col("sr") / n
    var_d = F.col("sdd") - F.col("sd") * F.col("sd") / n
    var_t = F.col("stt") - F.col("st") * F.col("st") / n
    return g.select(
        "event_type", "n",
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_d), 6)
        .alias("f_seasonal"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_t), 6)
        .alias("f_trend"))


# ---------------------------------------------------------------------------
# r12: determinism canary — transcendental-library drift detector
# ---------------------------------------------------------------------------


def _canary_oracle() -> str:
    """DuckDB twin of the canary: compare this engine's chain values
    against ITS OWN build-time pins (DUCK_PINS) and emit only the match
    counters — the cross-engine hash compares integers, never the
    library-dependent doubles themselves."""
    import struct

    from ophidia_io_server_spark.workloads.canary_chains import CHAINS, N_CELLS
    from ophidia_io_server_spark.workloads.canary_pins import DUCK_PINS

    names = list(CHAINS)
    rows = []
    for i in range(N_CELLS):
        # CAST('...' AS DOUBLE): a bare decimal literal parses as DECIMAL
        # in DuckDB and would silently truncate the pin to 6-ish digits
        vals = ", ".join(
            "CAST('{}' AS DOUBLE)".format(
                repr(struct.unpack("<d", bytes.fromhex(DUCK_PINS[n][i]))[0]))
            for n in names
        )
        rows.append(f"(CAST({i} AS BIGINT), {vals})")
    pin_cols = ", ".join(f"p_{n}" for n in names)
    exprs = ", ".join(f"{e} AS {n}" for n, e in CHAINS.items())
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{n}' AS chain, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CASE WHEN {n} <> p_{n} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_drift,
         CAST(SUM(CASE WHEN round({n}, 6) <> round(p_{n}, 6)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_round_flips
       FROM j"""
        for n in names
    )
    return f"""
    WITH pins(i, {pin_cols}) AS (VALUES {", ".join(rows)}),
    comp AS (
      SELECT CAST(i AS BIGINT) AS i, {exprs}
      FROM (SELECT unnest(range(0, {N_CELLS})) AS i)
    ),
    j AS (SELECT * FROM comp JOIN pins USING (i))
    {arms}
    """


@workload("determinism_canary", oracle=_canary_oracle())
def determinism_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcendental-library drift canary (r11 verdict #5): evaluate a
    fixed battery of ln/exp/pow/mixed chains over a 128-cell integer grid
    and count, per chain, how many cells differ BITWISE from the values
    this exact engine produced in the build container (pinned in
    ``canary_pins.py``), plus how many of those drifts survive the
    ROUND(·, 6) grid the analytics arms hash through.

    Mechanism: measured r12, Spark's JVM math and DuckDB's libm already
    disagree by 1 ulp on ~8% of these cells IN the build container —
    invisible to the gate only because ROUND(·, 6) absorbs last-ulp noise
    away from bucket boundaries.  If the DRIVER environment's JVM
    (JIT/intrinsic state, fdlibm vs vectorized libm) or DuckDB build
    computes ANY chain differently, n_drift moves and this 9-row arm
    (one row per canary_chains.CHAINS entry) reds
    — naming transcendental drift as the mechanism without touching data.
    The c_div control is IEEE-exact: drift there indicts the comparison
    harness itself, not libm.

    Scale: 128 rows, no input tables; the grid is a range() scan."""
    import struct

    from ophidia_io_server_spark.workloads.canary_chains import CHAINS, N_CELLS
    from ophidia_io_server_spark.workloads.canary_pins import SPARK_PINS

    names = list(CHAINS)
    pin_rows = [
        tuple([i] + [
            struct.unpack("<d", bytes.fromhex(SPARK_PINS[n][i]))[0]
            for n in names
        ])
        for i in range(N_CELLS)
    ]
    pin_schema = "i bigint, " + ", ".join(f"p_{n} double" for n in names)
    pins = local_frame(spark, pin_rows, schema=pin_schema)
    comp = spark.range(N_CELLS).toDF("i").selectExpr(
        "cast(i as bigint) as i",
        *[f"{e} AS {n}" for n, e in CHAINS.items()],
    )
    j = comp.join(F.broadcast(pins), "i")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_cells")]
    for n in names:
        aggs.append(
            F.sum(F.when(F.col(n) != F.col(f"p_{n}"), 1).otherwise(0))
            .cast("bigint").alias(f"d_{n}"))
        aggs.append(
            F.sum(F.when(F.round(F.col(n), 6) != F.round(F.col(f"p_{n}"), 6),
                         1).otherwise(0))
            .cast("bigint").alias(f"f_{n}"))
    row = j.agg(*aggs)
    stack_args = ", ".join(f"'{n}', d_{n}, f_{n}" for n in names)
    return row.selectExpr(
        f"stack({len(names)}, {stack_args}) AS (chain, n_drift, n_round_flips)",
        "n_cells",
    ).select("chain", "n_cells", "n_drift", "n_round_flips")


# ---------------------------------------------------------------------------
# r12: canonical (merge-invariant) t-digest quantile sketch
# ---------------------------------------------------------------------------

_TDIGEST_DELTA = 32
_TDIGEST_D3 = _TDIGEST_DELTA ** 3


@workload(
    "events_tdigest_quantiles",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    vc AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2
    ),
    cdf AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM vc
    ),
    cl AS (
      -- t_j = floor(n*m_j/d^3), m_j = 3j^2 d - 2j^3 <= d^3, computed as
      -- (n//d^3)*m_j + ((n%d^3)*m_j)//d^3 so intermediates stay bounded
      -- (the naive n*m_j wraps BIGINT at n ~ 2.8e14 rows per cell;
      -- same rewrite as pipeline/quantile.canonical_tdigest)
      SELECT event_type, n, CAST(j AS BIGINT) AS cluster,
             (n // {_TDIGEST_D3}) * (3 * (j-1) * (j-1) * {_TDIGEST_DELTA} - 2 * (j-1) * (j-1) * (j-1))
               + ((n % {_TDIGEST_D3}) * (3 * (j-1) * (j-1) * {_TDIGEST_DELTA} - 2 * (j-1) * (j-1) * (j-1)))
                 // {_TDIGEST_D3} AS t_lo,
             (n // {_TDIGEST_D3}) * (3 * j * j * {_TDIGEST_DELTA} - 2 * j * j * j)
               + ((n % {_TDIGEST_D3}) * (3 * j * j * {_TDIGEST_DELTA} - 2 * j * j * j))
                 // {_TDIGEST_D3} AS t_hi
      FROM (SELECT DISTINCT event_type, n FROM cdf),
           unnest(range(1, {_TDIGEST_DELTA} + 1)) AS t(j)
    ),
    cl2 AS (
      -- drop EMPTY clusters (t_lo = t_hi, possible when n < delta):
      -- they would join rows with zero overlap weight and emit 0/0 means
      SELECT * FROM cl WHERE t_hi > t_lo
    ),
    asg AS (
      SELECT c.event_type, cl.cluster, cl.t_lo, cl.t_hi, c.v,
             least(c.cum, cl.t_hi) - greatest(c.cum - c.cnt, cl.t_lo) AS w
      FROM cdf c JOIN cl2 AS cl
        ON c.event_type = cl.event_type
       AND c.cum - c.cnt < cl.t_hi AND c.cum > cl.t_lo
    ),
    dig AS (
      SELECT event_type, cluster,
             CAST(SUM(w) AS BIGINT) AS weight,
             CAST(SUM(v * w) AS BIGINT) AS sum_cents,
             CAST(MIN(v) AS BIGINT) AS lo_cents,
             CAST(MAX(v) AS BIGINT) AS hi_cents,
             CAST(MAX(t_hi - t_lo) AS BIGINT) AS span
      FROM asg GROUP BY 1, 2
    )
    SELECT event_type, cluster, weight, sum_cents,
           ROUND(CAST(sum_cents AS DOUBLE) / weight, 6) AS mean_cents,
           lo_cents, hi_cents,
           CAST(weight = span AS INTEGER) AS weight_ok,
           CAST(COALESCE(lo_cents >= lag(hi_cents) OVER
                  (PARTITION BY event_type ORDER BY cluster), TRUE)
                AS INTEGER) AS monotone_ok
    FROM dig
    """,
)
def events_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical t-digest of the per-type event-value distribution
    (Dunning & Ertl, "Computing extremely accurate quantiles using
    t-digests"): delta=32 clusters whose rank boundaries follow a
    tail-dense scale function, each cluster summarized by (weight,
    sum, mean, lo, hi).  Two deliberate deviations from the classical
    construction, both for bitwise cross-engine/cross-run discipline:

    - MERGE-INVARIANT BY DEFINITION: a streamed/merged t-digest depends
      on insertion and merge order (the r11 GK/HLL lesson).  This digest
      is the construction's FIXED POINT — the digest of fully-merged
      sorted data — defined off exact global ranks from the distributed
      value-level CDF, so any partitioning of the input yields the same
      bits (partition-sweep test in tests/test_round12.py).
    - RATIONAL SCALE FUNCTION: boundaries use the smoothstep cubic
      q_j = (3j^2*delta - 2j^3)/delta^3 instead of k1's
      asin-based scale.  It has the property that matters (dq/dj -> 0 at
      both ends: cluster budget concentrates in the tails, ~3x finer
      than the uniform grid at delta=32) while the rank thresholds
      t_j = floor(n*q_j) stay PURE BIGINT arithmetic — the asin
      thresholds would be the exact near-integer-boundary libm exposure
      the r12 grid-margin probe exists to prevent.

    Certificates: weight_ok (cluster weights tile the rank space
    exactly — sum of overlap-split contributions equals t_hi - t_lo)
    and monotone_ok (cluster value ranges are disjoint and ordered —
    lo_cents >= previous hi_cents; equality allowed where one distinct
    value spans a boundary).

    Scale: the value-level collapse is partial-aggregatable (map-side
    combine); the per-type CDF window runs over the DISTINCT-cents grid
    (bounded by the integer value domain, not row count); the cluster
    frame is delta rows per type and broadcast into the overlap join;
    everything after is a 32-row-per-type cell table.  At 100 TB the
    only data-sized pass is the first collapse."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.quantile import canonical_tdigest

    e = (load_table(spark, sf_dir, "events")
         .where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("bigint").alias("v")))
    dig = canonical_tdigest(e, ["event_type"], "v", delta=_TDIGEST_DELTA)
    wlag = Window.partitionBy("event_type").orderBy("cluster")
    return dig.select(
        "event_type", "cluster", "weight",
        F.col("sum_val").alias("sum_cents"),
        F.round(F.col("sum_val").cast("double") / F.col("weight"), 6)
        .alias("mean_cents"),
        F.col("lo").alias("lo_cents"), F.col("hi").alias("hi_cents"),
        (F.col("weight") == F.col("span")).cast("int").alias("weight_ok"),
        F.coalesce(F.col("lo") >= F.lag("hi").over(wlag),
                   F.lit(True)).cast("int").alias("monotone_ok"))


_TDIGEST_QS_PPM = [50_000, 250_000, 500_000, 950_000, 990_000]


@workload(
    "events_tdigest_estimates",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    vc AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2
    ),
    cdf AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM vc
    ),
    cl AS (
      SELECT event_type, n, CAST(j AS BIGINT) AS cluster,
             (n // {_TDIGEST_D3}) * (3 * (j-1) * (j-1) * {_TDIGEST_DELTA} - 2 * (j-1) * (j-1) * (j-1))
               + ((n % {_TDIGEST_D3}) * (3 * (j-1) * (j-1) * {_TDIGEST_DELTA} - 2 * (j-1) * (j-1) * (j-1)))
                 // {_TDIGEST_D3} AS t_lo,
             (n // {_TDIGEST_D3}) * (3 * j * j * {_TDIGEST_DELTA} - 2 * j * j * j)
               + ((n % {_TDIGEST_D3}) * (3 * j * j * {_TDIGEST_DELTA} - 2 * j * j * j))
                 // {_TDIGEST_D3} AS t_hi
      FROM (SELECT DISTINCT event_type, n FROM cdf),
           unnest(range(1, {_TDIGEST_DELTA} + 1)) AS t(j)
    ),
    cl2 AS (SELECT * FROM cl WHERE t_hi > t_lo),
    asg AS (
      SELECT c.event_type, cl.cluster, c.v,
             least(c.cum, cl.t_hi) - greatest(c.cum - c.cnt, cl.t_lo) AS w
      FROM cdf c JOIN cl2 AS cl
        ON c.event_type = cl.event_type
       AND c.cum - c.cnt < cl.t_hi AND c.cum > cl.t_lo
    ),
    dig AS (
      SELECT event_type, cluster,
             CAST(SUM(w) AS BIGINT) AS weight,
             CAST(SUM(v * w) AS BIGINT) AS sum_cents,
             CAST(MIN(v) AS BIGINT) AS lo,
             CAST(MAX(v) AS BIGINT) AS hi
      FROM asg GROUP BY 1, 2
    ),
    cw AS (
      SELECT *,
             SUM(weight) OVER (PARTITION BY event_type
                               ORDER BY cluster) AS cum_w,
             SUM(weight) OVER (PARTITION BY event_type) AS n
      FROM dig
    ),
    qs AS (SELECT CAST(unnest({_TDIGEST_QS_PPM}) AS BIGINT) AS q_ppm),
    hit AS (
      SELECT c.event_type, q_ppm,
             (c.n * q_ppm + 999999) // 1000000 AS target,
             c.weight, c.sum_cents, c.lo, c.hi
      FROM cw c, qs
      WHERE c.cum_w >= (c.n * q_ppm + 999999) // 1000000
        AND c.cum_w - c.weight < (c.n * q_ppm + 999999) // 1000000
    ),
    exact AS (
      SELECT h.event_type, h.q_ppm, MIN(d.v) AS v_exact
      FROM hit h JOIN cdf d
        ON d.event_type = h.event_type AND d.cum >= h.target
      GROUP BY 1, 2
    )
    SELECT h.event_type, h.q_ppm,
           CAST(h.target AS BIGINT) AS target_rank,
           ROUND(CAST(h.sum_cents AS DOUBLE) / h.weight, 6) AS est,
           h.lo AS lo_cents, h.hi AS hi_cents, h.weight,
           CAST(x.v_exact BETWEEN h.lo AND h.hi AS INTEGER) AS bracket_ok
    FROM hit h JOIN exact x USING (event_type, q_ppm)
    """,
)
def events_tdigest_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest ESTIMATOR API as a hash-checked gate arm (r13 —
    ``tdigest_estimate`` was pytest-only): five quantiles per type off
    the canonical digest, with the exact integer rank math exposed
    (q as per-million BIGINT, target = ⌈q·n⌉ computed exactly — the r12
    advice fix) and a per-estimate CERTIFICATE ``bracket_ok``: the TRUE
    nearest-rank quantile (one value-level-CDF lookup, an integer
    comparison) lies inside the reported [lo, hi] cluster bracket —
    the estimator's error-bound claim, verified per row on both engines.

    Every hashed column is integer or a single IEEE division of exact
    integers (est = sum/weight, rounded 6) — environment-proof.

    Scale: the digest frames are delta-row-per-type; the exact lookup
    joins the 5-row-per-type target frame (broadcast) against the
    distinct-cents CDF — value-domain-sized, never row-sized."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.quantile import (
        canonical_tdigest,
        tdigest_estimate,
    )

    e = (load_table(spark, sf_dir, "events")
         .where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("bigint").alias("v")))
    dig = canonical_tdigest(e, ["event_type"], "v", delta=_TDIGEST_DELTA)
    # r13 wave 6 note: pinning the estimate frame (2 consumers) was
    # A/B'd and REJECTED (1.03 → 1.07/1.08 s warm) — AQE exchange reuse
    # already dedups the digest chain at runtime; the pin only
    # serialized an extra job.
    est = tdigest_estimate(dig, ["event_type"],
                           [p / 1_000_000 for p in _TDIGEST_QS_PPM])
    vc = e.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cdf = vc.withColumn(
        "cum", F.sum("cnt").over(
            Window.partitionBy("event_type").orderBy("v")))
    targets = est.select("event_type", "q_ppm", "target_rank")
    exact = (cdf.join(F.broadcast(targets), "event_type")
             .where(F.col("cum") >= F.col("target_rank"))
             .groupBy("event_type", "q_ppm")
             .agg(F.min("v").alias("v_exact")))
    return (est.join(exact, ["event_type", "q_ppm"])
            .select("event_type", "q_ppm", "target_rank",
                    F.round(F.col("est"), 6).alias("est"),
                    F.col("lo").alias("lo_cents"),
                    F.col("hi").alias("hi_cents"), "weight",
                    F.col("v_exact").between(F.col("lo"), F.col("hi"))
                    .cast("int").alias("bracket_ok")))
