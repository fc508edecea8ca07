"""BM25 keyword retrieval over the documents table — the lexical-search
side of corpus curation (next to the embedding-ANN semantic side).

Scale shape (the reason this is not a naive inverted index build):

- Postings materialize ONLY for the query terms: the token explode is
  filtered to the query set *before* any shuffle, so the one real
  exchange — groupBy(doc, term) — carries candidate rows, not the whole
  corpus vocabulary.  Scoring a 3-term query over 100 TB shuffles three
  terms' postings, nothing else.
- Per-term document frequencies are |query| rows → broadcast join.
- Corpus stats (N, avgdl) are a single aggregated row → broadcast
  cross-join, no driver round-trip in the plan.
- Final top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject
  (map-side partial top-k, no global sort materialization).

Oracle-parity discipline: the per-document score is a LEFT FOLD over the
term-sorted contribution list (``F.aggregate`` ↔ DuckDB
``list_aggregate(list(c ORDER BY term), 'sum')``), so cross-engine float
sums see the identical addition order; the one transcendental (ln in the
idf) is covered by the public 6-dp rounding.  BM25 constants and the
association order of every float expression are mirrored token-for-token
in the SQL oracle (see ``workloads/analytics.py: bm25_doc_retrieval``).

The scoring function is the Robertson/Sparck-Jones BM25 with the Lucene
idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import spread


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tk array<string>, dl) — the SHARED corpus tokenization
    (``text.tokens_col``: single-space split, empties dropped) applied to
    case-folded text.  Lowercasing is deliberate for lexical search; the
    whitespace rule is single-sourced so BM25 document lengths agree with
    every other pipeline surface (lm/chunking/bpe token counts).  NULL-text
    rows excluded (a NULL doc can't match any query)."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col),
                tokens_col(F.lower(F.col(text_col))).alias("tk"))
        .withColumn("dl", F.size("tk").cast("bigint"))
    )


def query_tf_table(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate-only per-(doc, term) postings for the query terms:
    ``(id_col, term, tf, dl)``.  This is the ONE corpus tokenize pass a
    query-term ranking needs; BM25 scoring (`bm25_scores(tf=...)`) and a
    raw term-frequency arm (``Σ tf`` per doc) both derive from it, so a
    hybrid row (RRF fusion, RBO comparison) tokenizes the corpus once
    for both arms instead of once per arm (r13 opt)."""
    terms = sorted({t.lower() for t in query_terms})
    toks = _tokens(spread(docs), text_col, id_col)
    return (
        toks.select(id_col, "dl", F.explode("tk").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"),
             F.min("dl").alias("dl"))
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 score for every document containing ≥1 query term.

    Returns (id_col, score) — docs with no query term are absent (their
    score is identically 0; emitting the full corpus would defeat the
    candidate-only shuffle).

    ``tf``: optional prebuilt ``query_tf_table`` (identical semantics);
    callers that need the postings for another arm pass the shared
    (usually pinned) table so the corpus tokenize pass runs once."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    toks = _tokens(spread(docs), text_col, id_col)
    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    if tf is None:
        tf = query_tf_table(docs, query_terms,
                            text_col=text_col, id_col=id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    # association order mirrored in the SQL oracle exactly:
    #   idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    contrib = (
        idf * F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf")
           + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                          + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn("c", contrib)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("term", "c"))).alias("cs"))
        .select(
            id_col,
            F.round(
                F.aggregate(F.col("cs"), F.lit(0.0), lambda s, x: s + x["c"]),
                6,
            ).alias("score"),
        )
    )
    return scored


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 documents with a dense 1-based rank.

    Total order: (score desc, id asc) over the 6-dp-rounded score — ties at
    the rounding granularity break on the id, so the rank column is
    deterministic and engine-independent.  The limit runs as
    TakeOrderedAndProject; the rank window only ever sees k rows.

    ``tf``: optional prebuilt ``query_tf_table`` (see ``bm25_scores``)."""
    scored = bm25_scores(docs, query_terms, k1=k1, b=b,
                         text_col=text_col, id_col=id_col, tf=tf)
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))
