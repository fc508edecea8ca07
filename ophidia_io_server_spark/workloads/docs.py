"""Training-data pipeline workloads over the documents/embeddings tables: dedup family, similarity/ANN, text quality, multimodal.

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import load_table, local_frame, table_ident

from ophidia_io_server_spark.workloads.base import workload


# ---------------------------------------------------------------------------
# Training-data pipeline operators: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
    tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
             )) AS shingles
      FROM tok
    )
"""

_JACCARD_ORACLE = f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS nc,
             len(a.shingles) AS na, len(b.shingles) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(nc * 1.0 / (na + nb - nc), 6) AS jaccard
    FROM pairs
    WHERE nc * 1.0 / (na + nb - nc) >= 0.5
    ORDER BY doc_a, doc_b
"""


@workload(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS rep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1 ORDER BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophidia_io_server_spark.pipeline.dedup import exact_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs)


@workload(
    "dedup_winnow_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS P, CAST(i AS BIGINT) AS pos,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 3)),
    h AS (
      SELECT doc_id, P, pos,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(g, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS h
      FROM g),
    sel AS (
      SELECT doc_id, pos, P,
             MIN(h * 1048576 + (1048575 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
      FROM h),
    fp AS (SELECT DISTINCT doc_id, s // 1048576 AS h
           FROM sel WHERE pos <= P - 5),
    keep AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM fp GROUP BY h)
             WHERE c <= 50),
    fk AS (SELECT doc_id, h FROM fp JOIN keep USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (Schleimer et al. 2003 — the MOSS
    fingerprints; ``pipeline/dedup.py::winnow_pairs``): token-3-gram
    polynomial hashes, rightmost-min selection over a 4-window
    (guarantee: any shared ≥6-token run yields a shared fingerprint),
    inverted-index pair join with the ubiquitous-hash fan-out guard.
    Per-doc window functions + one hash equi-join — no all-pairs term.
    The SQL mirror reproduces the hash fold, the packed-key window min
    and the tie rule bitwise."""
    from ophidia_io_server_spark.pipeline.dedup import winnow_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=3, w=4, min_shared=2, max_doc_freq=50)


@workload("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join."""
    from ophidia_io_server_spark.pipeline.dedup import jaccard_pairs_exact

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_exact(docs, n=3, threshold=0.5,
                               memo_key=table_ident(sf_dir, "documents"))


@workload("dedup_minhash_pairs", oracle=_JACCARD_ORACLE)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates (64 hashes, 16 bands) + exact-Jaccard verify;
    banding makes recall effectively exact, so the oracle is the exact SQL."""
    from ophidia_io_server_spark.pipeline.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n=3, threshold=0.5,
                             memo_key=table_ident(sf_dir, "documents"))


@workload("dedup_simhash_pairs", oracle=_JACCARD_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 8-chunk-banded candidates (exact recall to hamming 7) +
    exact-Jaccard verify — near-dup pairs here sit at hamming ≤ 5."""
    from ophidia_io_server_spark.pipeline.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=7, verify_jaccard=0.5,
                         memo_key=table_ident(sf_dir, "documents"))


@workload(
    "dedup_substring_spans",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), win AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, u.i AS pos,
             list_aggregate(ws[u.i:u.i+7], 'string_agg', ' ') AS gram
      FROM tok, unnest(range(1, len(ws) - 6)) u(i)
      WHERE len(ws) >= 8
    ), dup AS (
      SELECT gram FROM win GROUP BY gram HAVING COUNT(*) >= 2
    ), hit AS (
      SELECT w.doc_id, w.n_tokens, w.pos FROM win w JOIN dup d USING (gram)
    ), marked AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_span
      FROM hit
    ), grp AS (
      SELECT doc_id, n_tokens, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked
    ), spans AS (
      SELECT doc_id, MIN(n_tokens) AS n_tokens, COUNT(*) AS wins,
             MAX(pos) + 8 - MIN(pos) AS span_len
      FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(wins) AS BIGINT) AS dup_windows,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
           ROUND(SUM(span_len) * 1.0 / MIN(n_tokens), 4) AS dup_frac
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (Lee et al. 2022 ExactSubstr):
    corpus-wide duplicated 8-token windows merged into per-document maximal
    spans — the span-level dedup that MinHash/SimHash (document-level) miss.
    The oracle mirrors the gaps-and-islands formulation on gram text; the
    engine shuffles xxhash64 keys instead of strings."""
    from ophidia_io_server_spark.pipeline.dedup import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, window=8)


_GOPHER_STOPS_SQL = "['the','be','to','of','and','that','have','with']"


@workload(
    "curation_quality_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls
      FROM documents
    ), g AS (
      SELECT doc_id, text, ws, ls,
        CAST(len(ws) AS BIGINT) AS n_words,
        CASE WHEN len(ws) <= 0 THEN NULL ELSE ROUND(
          list_reduce(list_concat([CAST(0 AS BIGINT)],
              list_transform(ws, w -> CAST(length(w) AS BIGINT))),
              (a, b) -> a + b) / len(ws), 4) END AS mean_word_len,
        CASE WHEN len(ws) <= 0 THEN NULL ELSE ROUND(
          ((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3)
          / len(ws), 4) END AS symbol_word_ratio,
        CASE WHEN len(ws) <= 0 THEN NULL ELSE ROUND(
          len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
          * 1.0 / len(ws), 4) END AS frac_alpha_words,
        CAST(len(list_filter({_GOPHER_STOPS_SQL},
          s -> list_contains(list_transform(ws, w -> lower(w)), s)))
          AS BIGINT) AS n_stop_hits,
        CASE WHEN len(ls) <= 0 THEN NULL ELSE ROUND(
          len(list_filter(ls, l -> starts_with(ltrim(l), '-')
              OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))
          * 1.0 / len(ls), 4) END AS bullet_line_frac,
        CASE WHEN len(ls) <= 0 THEN NULL ELSE ROUND(
          len(list_filter(ls, l -> ends_with(rtrim(l), '...')
              OR ends_with(rtrim(l), '…')))
          * 1.0 / len(ls), 4) END AS ellipsis_line_frac,
        list_filter(ls, l -> (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
              OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
              AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5)
          AS kept,
        length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS n_sent,
        contains(text, '{{') AS has_brace,
        contains(lower(text), 'lorem ipsum') AS has_lorem
      FROM base
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           frac_alpha_words, n_stop_hits, bullet_line_frac, ellipsis_line_frac,
           COALESCE(n_words >= 50 AND n_words <= 100000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_word_ratio <= 0.1
             AND COALESCE(bullet_line_frac <= 0.9, TRUE)
             AND COALESCE(ellipsis_line_frac <= 0.3, TRUE)
             AND frac_alpha_words >= 0.8
             AND n_stop_hits >= 2, FALSE) AS gopher_keep,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CASE WHEN len(ls) <= 0 THEN NULL
                ELSE ROUND(len(kept) * 1.0 / len(ls), 4) END AS c4_kept_frac,
           COALESCE(list_aggregate(kept, 'string_agg', chr(10)), '') AS text_c4,
           CAST(n_sent AS BIGINT) AS c4_n_sentences,
           COALESCE(has_brace, FALSE) AS c4_has_brace,
           COALESCE(has_lorem, FALSE) AS c4_has_lorem,
           COALESCE(n_sent >= 3 AND NOT has_brace AND NOT has_lorem, FALSE)
             AS c4_keep
    FROM g ORDER BY doc_id
    """,
)
def curation_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two canonical published rule-based corpus filters in one scan:
    Gopher document-quality rules (Rae et al. 2021 A1.1 — word-count bounds,
    mean word length, symbol ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, stop-word presence) and C4 line/page cleaning
    (Raffel et al. 2020 §2.2 — terminal-punctuation line keep, sentence
    minimum, brace/lorem-ipsum page drops) with the cleaned text emitted.
    Pure JVM Column algebra, zero shuffles."""
    from ophidia_io_server_spark.pipeline.text import (c4_filter_cols,
                                                       gopher_quality_cols)

    from ophidia_io_server_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    gcols = gopher_quality_cols(F.col("text"))
    ccols = c4_filter_cols(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in gcols.items()],
        *[c.alias(n) for n, c in ccols.items()],
    )


@workload(
    "token_budget_select",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS BIGINT) AS n_tokens,
             ROUND(list_reduce(list_concat([CAST(0 AS BIGINT)],
                 list_transform(list_filter(string_split(text, ' '),
                                            w -> w <> ''),
                                w -> CAST(length(w) AS BIGINT))),
                 (a, b) -> a + b)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 4)
               AS quality
      FROM documents
    ), o AS (
      SELECT doc_id, n_tokens, quality,
             COALESCE(SUM(n_tokens) OVER (
                ORDER BY quality DESC, doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens, quality, CAST(cum_before AS BIGINT) AS cum_before
    FROM o WHERE cum_before < 8000 ORDER BY doc_id
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: fill an 8k-token training budget with
    the best documents (quality = mean word length here; any scorer works).
    The ORACLE is the textbook global-sort running sum; the ENGINE never
    builds a global order — histogram → driver threshold scan → per-class
    windows (`pipeline/sampling.py:select_token_budget`) — and must produce
    row-identical output including the exact ``cum_before`` audit column."""
    from ophidia_io_server_spark.pipeline.sampling import select_token_budget
    from ophidia_io_server_spark.pipeline.text import (mean_token_len_col,
                                                       token_count_col)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        mean_token_len_col(F.col("text")).alias("quality"),
    )
    return select_token_budget(docs, 8000, "quality", "n_tokens")


@workload(
    "dsir_importance",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), feat AS (
      SELECT doc_id, source, list_concat(ws,
        list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i+1])) AS fs
      FROM tok
    ), bk AS (
      SELECT doc_id, source, list_transform(fs, t ->
          CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 65536) AS bs
      FROM feat
    ), ex AS (
      SELECT doc_id, source, u.b AS bucket FROM bk, unnest(bs) u(b)
    ), cnt AS (
      SELECT bucket,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cr
      FROM ex GROUP BY bucket
    ), tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
    w AS (
      SELECT bucket,
             CAST(ROUND((ln((ct + 1.0) / (tt + 65536.0))
                       - ln((cr + 1.0) / (tr + 65536.0))) * 10000)
               AS BIGINT) AS w_int
      FROM cnt, tot
    ), sums AS (
      SELECT e.doc_id, SUM(w.w_int) AS wsum
      FROM ex e JOIN w USING (bucket) GROUP BY e.doc_id
    ), nf AS (
      SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_features FROM bk
    )
    SELECT nf.doc_id, nf.n_features,
           CASE WHEN nf.n_features > 0
                THEN ROUND(COALESCE(s.wsum, 0) / (10000.0 * nf.n_features), 4)
                ELSE 0.0 END AS dsir_score
    FROM nf LEFT JOIN sums s ON nf.doc_id = s.doc_id
    ORDER BY nf.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023, Data Selection via
    Importance Resampling): per-document mean log-likelihood ratio of hashed
    n-gram features between the target domain (source = 'src0' stands in)
    and the raw corpus.  Weights are integer-scaled so shuffle-order cannot
    move a single bit of the score — the oracle recomputes the identical
    integer pipeline in SQL."""
    from ophidia_io_server_spark.pipeline.classifier import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    return dsir_scores(docs, F.col("source") == "src0", n_buckets=65536)


@workload(
    "source_overlap_matrix",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      FROM tok WHERE len(ws) >= 3
    ), gsrc AS (
      SELECT DISTINCT source AS src, u.g AS g FROM sh, unnest(gs) u(g)
    ), sizes AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM gsrc GROUP BY src
    ), inter AS (
      SELECT a.src AS src_a, b.src AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM gsrc a JOIN gsrc b USING (g) WHERE a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT src_a, src_b, sa.n AS n_grams_a, sb.n AS n_grams_b, n_shared,
           ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.src = src_a
               JOIN sizes sb ON sb.src = src_b
    ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 3-gram overlap matrix — the dataset-audit operator:
    distinct-gram Jaccard for every source pair, from distinct (gram,
    source) pairs so the per-gram join fan-out is bounded by the source
    count, never the corpus."""
    from ophidia_io_server_spark.pipeline.decontaminate import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(
        docs, n=3, memo_key=table_ident(sf_dir, "documents"))


@workload(
    "embedding_pca_invariants",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS dims_ok, TRUE AS mean_centered,
           TRUE AS variances_descending, TRUE AS decorrelated,
           TRUE AS whitened_unit_var
    FROM embeddings
    """,
)
def embedding_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA/whitening (`pipeline/embeddings.py`) verified by the
    invariant-boolean pattern: the engine fits PCA (one Arrow partial-moment
    pass), whitens (one broadcast matmul pass), re-measures the projected
    moments, and must find — exactly, in Spark — the properties PCA
    guarantees: centered output, descending component variances,
    decorrelated coordinates, unit variance after whitening.  The oracle
    contributes the exact vector count + literal TRUEs (the same contract
    as the sketch row)."""
    import numpy as np

    from ophidia_io_server_spark.pipeline.embeddings import (_moments, fit_pca,
                                                             transform_pca)

    k = 16
    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, var = fit_pca(emb, "embedding", k=k)
    proj = transform_pca(emb, mean, comps, var, whiten=True)
    dims_ok = proj.where(F.size("proj") != k).count() == 0
    n2, s2, ss2 = _moments(proj.select(F.col("proj").alias("v")), "v", k)
    m2 = s2 / n2
    cov2 = ss2 / n2 - np.outer(m2, m2)
    # tolerances: the random test embeddings have a nearly-flat spectrum
    # (eigh error ∝ 1/eigen-gap) and whitening rescales by 1/√λ ≈ 7, so the
    # honest numerical floor is ~5e-8 here; a WRONG projection produces
    # O(0.1-1) values, so 1e-4 still separates correct from broken cleanly
    mean_centered = bool(np.abs(m2).max() < 1e-4)
    variances_descending = bool(np.all(np.diff(var) <= 1e-12))
    off = cov2 - np.diag(np.diag(cov2))
    decorrelated = bool(np.abs(off).max() < 1e-4)
    whitened_unit_var = bool(np.abs(np.diag(cov2) - 1.0).max() < 1e-4)
    return local_frame(
        spark,
        [(int(n2), dims_ok, mean_centered, variances_descending,
          decorrelated, whitened_unit_var)],
        "n_vectors long, dims_ok boolean, mean_centered boolean, "
        "variances_descending boolean, decorrelated boolean, "
        "whitened_unit_var boolean",
    )


_CLS_W = "((b * 2654435761) % 2000001) / 1000000.0 - 1.0"


@workload(
    "quality_classifier_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), feat AS (
      SELECT doc_id, list_concat(ws,
        list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i+1])) AS fs
      FROM tok
    ), bk AS (
      SELECT doc_id, list_transform(fs, t ->
          CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 65536) AS bs
      FROM feat
    ), sc AS (
      SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_features,
             CASE WHEN len(bs) > 0 THEN
               list_reduce(list_concat([0.0], list_transform(bs,
                   b -> {_CLS_W})), (a, c) -> a + c) / len(bs)
             ELSE 0.0 END AS raw
      FROM bk
    )
    SELECT doc_id, n_features, ROUND(raw, 6) AS quality_score,
           raw > 0.0 AS keep
    FROM sc ORDER BY doc_id
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-n-gram linear classifier scoring — the
    model-based quality-filter step (CCNet / GPT-3-style) — on the scan-only
    weight-expression path: unigram+bigram features, md5-bucket hashing
    (identical in Spark and DuckDB), deterministic closed-form weights
    standing in for an offline-trained model.  The general
    ``(bucket, weight)``-table path is pinned equivalent in pytest."""
    from ophidia_io_server_spark.pipeline.classifier import (
        demo_weight_fn, score_with_weight_expr)

    docs = load_table(spark, sf_dir, "documents")
    return score_with_weight_expr(docs, demo_weight_fn, n_buckets=65536)


_LANG_SETS = {
    "de": "['der','die','das','und','ist','nicht','ein','mit']",
    "en": "['the','a','of','and','is','to','in','that']",
    "es": "['el','la','de','que','y','los','una','por']",
    "fr": "['le','la','les','et','est','une','dans','que']",
    "zh": "['的','是','了','在','我','有','和','不']",
}
_LANG_COUNTS = ", ".join(
    f"len(list_filter(ws, w -> list_contains({s}, w))) AS {lang}"
    for lang, s in _LANG_SETS.items()
)
_G = "greatest(de, en, es, fr, zh)"


@workload(
    "text_quality_lang",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, text,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    cnt AS (SELECT doc_id, lang, text, ws, {_LANG_COUNTS} FROM tok)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_tokens,
           ROUND(len(list_distinct(ws)) * 1.0 / len(ws), 4) AS ttr,
           ROUND(list_aggregate(list_transform(ws, w -> length(w)), 'sum') * 1.0 / len(ws), 4)
             AS mean_token_len,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           ROUND(least(len(ws) / 200.0, 1.0) * 0.5
                 + least(len(list_distinct(ws)) * 1.0 / len(ws), 1.0) * 0.5, 4)
             AS quality_score,
           lang AS labeled_lang,
           CASE WHEN {_G} = 0 THEN 'und'
                WHEN de = {_G} THEN 'de'
                WHEN en = {_G} THEN 'en'
                WHEN es = {_G} THEN 'es'
                WHEN fr = {_G} THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM cnt ORDER BY doc_id
    """,
)
def text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature extraction + n-gram-heuristic language ID per doc
    (merged r3: text_quality + lang_id)."""
    from ophidia_io_server_spark.pipeline.text import lang_id_col, quality_features

    docs = load_table(spark, sf_dir, "documents")
    return quality_features(
        docs,
        extra=[F.col("lang").alias("labeled_lang"),
               lang_id_col(F.col("text")).alias("pred_lang")],
    )


_SW = "['the','a','an','of','and','is','to','in','that','it','on','for','as','with','was','are','be','this','by','at']"


def _redact_oracle_exprs() -> str:
    """DuckDB mirror of pipeline.redact: the same RE2-safe pattern strings,
    applied in the same order, counting matches on the progressively-redacted
    text exactly as ``redact_cols`` does (Java and RE2 both use leftmost-first
    alternation, so match sets agree — pinned by the gate hash)."""
    from ophidia_io_server_spark.pipeline.redact import PATTERNS

    work = "text"
    selects = []
    for name, pat, token in PATTERNS:
        sqlpat = pat.replace("'", "''")
        selects.append(
            f"CAST(len(regexp_extract_all({work}, '{sqlpat}')) AS BIGINT) AS n_{name}")
        work = f"regexp_replace({work}, '{sqlpat}', '{token}', 'g')"
    selects.append(f"{work} AS text_redacted")
    return ",\n           ".join(selects)


@workload(
    "doc_text_metrics",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws,
             string_split(text, '') AS cs
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))
             AS BIGINT) AS bpe_tokens,
           ROUND(len(list_filter(ws, w -> list_contains({_SW}, lower(w))))
                 * 1.0 / len(ws), 4) AS stopword_ratio,
           ROUND((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                 * 1.0 / length(text), 4) AS punct_ratio,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
                         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007
           ) AS fp,
           {_redact_oracle_exprs()},
           (n_url + n_email + n_ipv4 + n_phone) > 0 AS has_pii,
           -- ln(n) - (sum of c*ln(c))/n with terms in SORTED-char order:
           -- the exact summation sequence of the engine's run-length fold
           CASE WHEN len(cs) <= 0 THEN 0.0 ELSE ROUND(
             ln(len(cs)) - list_reduce(
               list_concat([0.0], list_transform(
                 list_distinct(list_sort(cs)),
                 d -> len(list_filter(cs, c -> c = d))
                      * ln(len(list_filter(cs, c -> c = d))))),
               (a, b) -> a + b
             ) / len(cs), 4) END AS char_entropy
    FROM tok ORDER BY doc_id
    """,
)
def doc_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text metrics in one projection (merged r3: token_counts +
    text_ratios + doc_fingerprint; r5: + PII redaction and char entropy):
    whitespace + BPE-ish-regex token counts (the LLM-token-count proxy),
    stopword/punctuation ratios, the rolling-hash document fingerprint,
    the full redaction projection (redacted text + per-category counts +
    has_pii) and the Shannon character-entropy quality signal — all JVM
    Column/regex expressions, one scan."""
    from ophidia_io_server_spark.pipeline.redact import redact_cols
    from ophidia_io_server_spark.pipeline.text import (
        bpe_token_count_col,
        char_entropy_col,
        fingerprint_col,
        punct_ratio_col,
        stopword_ratio_col,
        token_count_col,
    )

    from ophidia_io_server_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    rcols = redact_cols(F.col("text"))
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("ws_tokens"),
        bpe_token_count_col(F.col("text")).alias("bpe_tokens"),
        stopword_ratio_col(F.col("text")).alias("stopword_ratio"),
        punct_ratio_col(F.col("text")).alias("punct_ratio"),
        fingerprint_col(F.col("text")).alias("fp"),
        *[c.alias(n) for n, c in rcols.items()],
        char_entropy_col(F.col("text")).alias("char_entropy"),
    )


@workload(
    "corpus_report",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    cnt AS (SELECT doc_id, source, ws, {_LANG_COUNTS} FROM tok),
    pred AS (
      SELECT doc_id, source, ws,
             CASE WHEN {_G} = 0 THEN 'und'
                  WHEN de = {_G} THEN 'de'
                  WHEN en = {_G} THEN 'en'
                  WHEN es = {_G} THEN 'es'
                  WHEN fr = {_G} THEN 'fr'
                  ELSE 'zh' END AS pred_lang
      FROM cnt
    )
    SELECT source, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
           ROUND(SUM(CAST(ROUND((least(len(ws) / 200.0, 1.0) * 0.5
                 + least(len(list_distinct(ws)) * 1.0 / len(ws), 1.0) * 0.5)
                 * 10000) AS BIGINT)) / COUNT(*) / 10000.0, 4)
             AS mean_quality
    FROM pred GROUP BY source, pred_lang ORDER BY source, pred_lang
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline report: per (source, predicted language) document counts,
    token volume and mean quality score — composition of the text operators
    in one aggregation.  The mean goes through integer 1e-4 quality units
    (sum order-free): AVG of 4dp-rounded DOUBLES was measured drifting in
    the 4th decimal between engines at the 10× corpus (PERF.md r6) — the
    same boundary class as the q1 money fix, same discipline."""
    from ophidia_io_server_spark.pipeline.text import (
        distinct_token_count_col,
        lang_id_col,
        token_count_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = token_count_col(t)
    q4 = F.round(
        (F.least(n_tok / F.lit(200.0), F.lit(1.0)) * 0.5
         + F.least(distinct_token_count_col(t) / n_tok, F.lit(1.0)) * 0.5)
        * 10000).cast("bigint")
    from ophidia_io_server_spark.sources.tables import spread

    return (
        spread(docs).select("source", lang_id_col(t).alias("pred_lang"),
                            n_tok.alias("n_tok"), q4.alias("q4"))
        .groupBy("source", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("total_tokens"),
             F.round(F.sum("q4") / F.count(F.lit(1)) / F.lit(10000.0), 4)
              .alias("mean_quality"))
    )


_EMB_BASE_CTE = """
    base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    nrm AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
      FROM base
    )
"""


@workload(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_EMB_BASE_CTE},
    q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM nrm WHERE vec_id < 10),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             list_aggregate(list_transform(range(1, len(qv) + 1),
                                           i -> qv[i] * b.v[i]), 'sum') / (qn * b.n) AS cosine
      FROM q JOIN nrm b ON b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cosine, 6) AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors (vec_id < 10)."""
    from ophidia_io_server_spark.pipeline.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, F.col("vec_id") < 10, k=5)


@workload(
    "embedding_cosine_pairs",
    oracle=f"""
    WITH {_EMB_BASE_CTE}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_aggregate(list_transform(range(1, len(a.v) + 1),
                                               i -> a.v[i] * b.v[i]), 'sum') / (a.n * b.n), 6)
             AS cosine
    FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(range(1, len(a.v) + 1),
                                        i -> a.v[i] * b.v[i]), 'sum') / (a.n * b.n) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophidia_io_server_spark.pipeline.similarity import cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # kernel pinned to "blas": this gate row is the hash-exact proof of the
    # cogrouped A@B.T kernel against the oracle's sequential-fold SQL (auto
    # would pick hof at driver SFs; both kernels are parity-pinned in tests)
    return cosine_pairs(emb, threshold=0.4, kernel="blas")


def _kmeans_semdedup_oracle(k: int, iters: int, d: int, grid: int,
                            cos_grid: int, tau_pct: int) -> str:
    """Unrolled-CTE DuckDB mirror of integer-grid Lloyd's k-means +
    SemDeDup (same pattern as the LPA unrolled oracle): every iteration
    is exact int64 arithmetic plus one correctly-rounded double division,
    so the two engines agree bitwise."""
    dist = (f"CAST(CAST(list_sum(list_transform(range(1, {d + 1}), i -> "
            "(c.n*g.qv[i]-c.s[i])*(c.n*g.qv[i]-c.s[i]))) AS BIGINT) "
            "AS DOUBLE) / CAST(c.n*c.n AS DOUBLE)")
    parts = [
        f"""g AS (SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT))
               AS qv
          FROM embeddings)""",
        f"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                        AS BIGINT) AS cluster, qv AS s, CAST(1 AS BIGINT) AS n
           FROM (SELECT vec_id, qv FROM g ORDER BY vec_id LIMIT {k}))""",
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""a{it} AS (SELECT vec_id, qv, cluster FROM (
             SELECT g.vec_id, g.qv, c.cluster,
                    row_number() OVER (PARTITION BY g.vec_id
                                       ORDER BY {dist} ASC, c.cluster ASC)
                      AS rn
             FROM g CROSS JOIN c{it - 1} c) WHERE rn = 1)""")
        if it < iters:
            parts.append(
                f"""u{it} AS (SELECT cluster, list(sv ORDER BY dim) AS s,
                    MAX(cnt) AS n FROM (
               SELECT cluster, dim, CAST(SUM(qv[dim]) AS BIGINT) AS sv,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM a{it}, UNNEST(range(1, {d + 1})) AS t(dim)
               GROUP BY cluster, dim) GROUP BY cluster)""")
            parts.append(
                f"""c{it} AS (SELECT * FROM u{it} UNION ALL
               SELECT * FROM c{it - 1}
               WHERE cluster NOT IN (SELECT cluster FROM u{it}))""")
    dot = (f"CAST(list_sum(list_transform(range(1, {d + 1}), "
           "i -> a.q[i]*b.q[i])) AS BIGINT)")
    nsq = ("CAST(list_sum(list_transform(range(1, %d), "
           "i -> %s.q[i]*%s.q[i])) AS BIGINT)")
    parts.append(
        f"""cq AS (SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {cos_grid}.0 + 0.5)
                         AS BIGINT)) AS q
          FROM embeddings)""")
    parts.append(
        f"""j AS (SELECT a{iters}.vec_id, a{iters}.cluster, cq.q
          FROM a{iters} JOIN cq USING (vec_id))""")
    parts.append(
        f"""drp AS (SELECT DISTINCT b.vec_id
           FROM j a JOIN j b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE {dot} > 0
             AND {dot} * {dot} * 10000
                 >= {tau_pct * tau_pct} * {nsq % (d + 1, 'a', 'a')}
                                        * {nsq % (d + 1, 'b', 'b')})""")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT j.vec_id, j.cluster, (drp.vec_id IS NULL) AS kept
    FROM j LEFT JOIN drp ON j.vec_id = drp.vec_id
    """)


@workload(
    "embedding_kmeans_semdedup",
    oracle=_kmeans_semdedup_oracle(k=10, iters=3, d=64, grid=1024,
                                   cos_grid=256, tau_pct=40),
)
def embedding_kmeans_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): distributed integer-grid Lloyd's
    k-means over the embedding column, then within-cluster cosine dedup —
    one row per vector with its final cluster and a ``kept`` flag.

    The gate binds THREE iterations of the actual distributed clustering
    loop bitwise (assignment = map-only broadcast argmin; update = one
    partial-aggregatable groupBy emitting k·(d+1) numbers), not just the
    final dedup — the oracle unrolls the same iterations as exact-integer
    CTEs.  See ``pipeline/cluster.py`` for the 100 TB shape and the
    int64 overflow budget."""
    from ophidia_io_server_spark.pipeline.cluster import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=10, iters=3, tau_pct=40)


@workload(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_EMB_BASE_CTE},
    -- deterministic sign-LSH hyperplanes: same LCG closed form as
    -- similarity._hyperplanes (integer math exact in BIGINT, /2^31 exact)
    planes AS (
      SELECT p, list_transform(range(0, 64), k ->
        ((p * 1103515245 + (k + 1) * 12345 + 7) % 2147483648) / 2147483648.0 - 0.5) AS h
      FROM (SELECT unnest(range(0, 12)) AS p)
    ),
    bits AS (
      SELECT vec_id, p,
             CASE WHEN list_aggregate(list_transform(range(1, 65),
                                                     i -> v[i] * h[i]), 'sum') >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM nrm CROSS JOIN planes
    ),
    -- 3 bands of 4 bits, bucket = fold acc*2+bit (== bit_j * 2^(3-j))
    bkts AS (
      SELECT vec_id, p // 4 AS band,
             SUM(bit * (1 << CAST(3 - (p % 4) AS INTEGER))) AS bucket
      FROM bits GROUP BY vec_id, band
    ),
    qb AS (SELECT vec_id AS query_id, band, bucket FROM bkts WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT qb.query_id, c.vec_id
      FROM qb JOIN bkts c ON qb.band = c.band AND qb.bucket = c.bucket
      WHERE c.vec_id <> qb.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id AS neighbor_id,
             list_aggregate(list_transform(range(1, 65),
                                           i -> a.v[i] * b.v[i]), 'sum') / (a.n * b.n) AS cosine
      FROM cand
      JOIN nrm a ON a.vec_id = cand.query_id
      JOIN nrm b ON b.vec_id = cand.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cosine, 6) AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN.  The oracle mirrors the WHOLE pipeline in
    SQL — same LCG hyperplanes, sign bits, band buckets, candidate equi-join,
    exact rescoring, (cosine desc, vec_id) tie order — so the approximate
    candidate set itself is deterministic and hash-checkable."""
    from ophidia_io_server_spark.pipeline.similarity import lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, F.col("vec_id") < 10, k=5)


@workload(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_EMB_BASE_CTE},
    q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM nrm WHERE vec_id < 10),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             list_aggregate(list_transform(range(1, len(qv) + 1),
                                           i -> qv[i] * b.v[i]), 'sum') / (qn * b.n) AS cosine
      FROM q JOIN nrm b ON b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cosine, 6) AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (distributed Lloyd, driver holds only the
    nlist×dim centroids).  Run at nprobe=nlist, where IVF degenerates to
    exact brute force (tests/test_similarity_ivf.py asserts the equivalence)
    — the routing/probe machinery is still exercised while the result is
    oracle-checkable; nprobe<nlist is the production recall/cost dial."""
    from ophidia_io_server_spark.pipeline.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(emb, F.col("vec_id") < 10, k=5, nlist=8, nprobe=8)


@workload(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           'application/octet-stream' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           [CAST(octet_length(encode(text)) AS DOUBLE),
            CAST(ascii(substr(text, 1, 1)) AS DOUBLE),
            CAST(ascii(substr(text, length(text), 1)) AS DOUBLE),
            CAST(list_aggregate(list_transform(string_split(text, ''),
                                               c -> CAST(ascii(c) AS BIGINT)), 'sum') % 997
                 AS DOUBLE)] AS features
    FROM documents ORDER BY doc_id
    """,
    explode=["features"],
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: attach opaque bytes + metadata, extract
    (stubbed) features via Arrow-batched mapInPandas — the oracle reproduces
    the deterministic stub, proving the batch pipeline end to end."""
    from ophidia_io_server_spark.pipeline.multimodal import attach_binary_payload, extract_features

    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs))


@workload(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
      SELECT doc_id, octet_length(encode(text)) AS payload_bytes FROM documents
    ),
    frames AS (
      SELECT doc_id,
             unnest(list_filter(
               range(0, greatest(CAST(FLOOR(payload_bytes / 1024.0) AS BIGINT), 1)),
               i -> i % 3 = 0)) AS frame_idx
      FROM media
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx
    FROM frames ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over binary payloads: every 3rd 1KB chunk →
    (doc_id, frame_idx) rows (decode stubbed; explode shape is real)."""
    from ophidia_io_server_spark.pipeline.multimodal import (
        attach_binary_payload,
        frame_sample_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = frame_sample_plan(attach_binary_payload(docs), every_nth=3)
    return out.select("doc_id", F.col("frame_idx").cast("bigint").alias("frame_idx"))


@workload(
    "doc_keyword_extraction",
    oracle="""
    WITH tk AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf
      GROUP BY token
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    ranked AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, nd.n_docs,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC) AS rank
      FROM tf JOIN dfreq USING (token) CROSS JOIN nd
    )
    SELECT doc_id, token, tf, df, CAST(rank AS BIGINT) AS rank,
           ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
)
def doc_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by the EXACT-INTEGER
    order (tf DESC, df ASC, token ASC) — highest in-document frequency,
    rarest corpus-wide, tie-broken lexically — with the smoothed TF-IDF
    score ``tf·ln((N+1)/(df+1))`` carried as a reporting column (rounded
    6).  The ranking deliberately orders by the integer triple rather
    than the float score: a last-ulp ln() difference between engines can
    never flip a rank, so the gate hash stays deterministic (same
    discipline as the integer money grid).

    Scale shape: tokenize-explode → (doc, token) partial-agg tf → token
    df agg → join df onto the CANDIDATE-PRUNED tf (shuffle on token —
    the df table is VOCABULARY-sized, which grows with the corpus, so no
    forced broadcast hint: AQE promotes to broadcast at runtime when it
    fits; r9 verdict #2) → cross the 1-row N → per-doc top-3 window.

    Candidate prune (r9 verdict #8, PROVABLY lossless): the top-3 rows
    under (tf DESC, df ASC, token ASC) can only be tokens whose tf is ≥
    the doc's 3rd-largest tf value t3 — any token with tf < t3 has ≥ 3
    tokens strictly ahead of it on the FIRST key alone.  So a per-doc
    window over tf ALONE computes t3, the ``tf ≥ t3`` filter shrinks the
    df-join's left side to ~(3 + boundary ties) rows per long doc (short
    all-tf-equal docs keep all rows — still correct, just unpruned), and
    only then does the vocabulary join + final 3-key rank run.  Measured
    at the 100× corpus: 4.02 → 2.98 s (−26%), output bitwise identical
    (PERF.md r10).  No global sort, no Python."""
    from ophidia_io_server_spark.pipeline.text import tokens_col
    from ophidia_io_server_spark.sources.tables import spread

    docs = load_table(spark, sf_dir, "documents")
    tk = (spread(docs).where(F.col("text").isNotNull())
          .select("doc_id", F.explode(tokens_col(F.col("text")))
                  .alias("token")))
    tf = (tk.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
          .localCheckpoint())  # feeds df-agg, N-agg AND the ranked join
    dfreq = (tf.groupBy("token")
             .agg(F.count_distinct("doc_id").cast("bigint").alias("df")))
    nd = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    from pyspark.sql import Window
    wpre = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("token").asc())
    t3 = (tf.withColumn("rk", F.row_number().over(wpre))
          .where(F.col("rk") <= 3)
          .groupBy("doc_id").agg(F.min("tf").alias("t3")))
    cand = tf.join(t3, "doc_id").where(F.col("tf") >= F.col("t3")).drop("t3")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc())
    return (cand.join(dfreq, "token")  # vocabulary-sized: no forced broadcast
            .crossJoin(F.broadcast(nd))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= 3)
            .select("doc_id", "token", "tf", "df", "rank",
                    F.round(F.col("tf") * F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                        6).alias("tfidf")))


@workload(
    "doc_prefix_jaccard_pairs",
    oracle="""
    WITH ts AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       w -> w <> '')) AS toks
      FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
    ),
    tsz AS (SELECT doc_id, toks, len(toks) AS m FROM ts WHERE len(toks) > 0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS c,
             a.m AS ma, b.m AS mb
      FROM tsz a JOIN tsz b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(c * 1.0 / (ma + mb - c), 6) AS jaccard
    FROM pairs WHERE c * 1.0 / (ma + mb - c) >= 0.5
    """,
)
def doc_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING
    (``pipeline/setjoin.py`` — Chaudhuri'06/Bayardo'07 all-pairs): the
    deterministic sibling of the MinHash detector.  Candidates must share
    a token in each other's rarest-first prefix of length
    |s|−⌈τ|s|⌉+1, then exact-verify — recall is 1.0 BY CONSTRUCTION
    (the oracle is the literal all-pairs set-Jaccard, so the hash proves
    it), where LSH recall is only probabilistic.  Jaccard here is over
    DISTINCT tokens (set semantics) vs the shingle multiset rows.

    The workload runs on the fixed doc_id % 10 slice: the synthetic
    corpus is template-generated, so distinct-token SETS overlap ≥ τ for
    ~74% of ALL pairs at any usable τ (measured r9: 9.2M pairs / 108 s
    at sf0.1 unsliced, 965k pairs even at τ=0.9) — the OUTPUT is
    quadratic on this corpus by construction, which measures the data,
    not the operator.  The slice keeps the pair-level hash check over
    every algorithm stage at a bounded output; the operator itself is
    output-bound on natural corpora (PERF.md r9 probe table)."""
    from ophidia_io_server_spark.pipeline.setjoin import prefix_jaccard_pairs

    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 10 == 0))
    return prefix_jaccard_pairs(docs, threshold=0.5)


@workload(
    "token_association_rules",
    oracle="""
    WITH tk AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> w <> '')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tk),
    item AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY token
      HAVING COUNT(*) >= 20
    ),
    co AS (
      SELECT a.token AS ta, b.token AS tb, CAST(COUNT(*) AS BIGINT) AS nab
      FROM (SELECT doc_id, token FROM tk
            WHERE token IN (SELECT token FROM item)) a
      JOIN (SELECT doc_id, token FROM tk
            WHERE token IN (SELECT token FROM item)) b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY ta, tb HAVING COUNT(*) >= 20
    ),
    rules AS (
      SELECT ta AS antecedent, tb AS consequent, nab FROM co
      UNION ALL
      SELECT tb, ta, nab FROM co
    )
    SELECT antecedent, consequent, nab,
           ROUND(nab * 1.0 / n_docs, 6) AS support,
           ROUND(nab * 1.0 / ia.n, 6) AS confidence,
           ROUND(nab * 1.0 * n_docs / (ia.n * ic.n), 6) AS lift
    FROM rules
    JOIN item ia ON ia.token = antecedent
    JOIN item ic ON ic.token = consequent
    CROSS JOIN nd
    WHERE nab * 1.0 / ia.n >= 0.2
    """,
)
def token_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over per-document token sets (Agrawal &
    Srikant VLDB'94, the 2-itemset core): directed rules A→B with
    support = n(A,B)/N, confidence = n(A,B)/n(A), lift =
    N·n(A,B)/(n(A)·n(B)), pruned Apriori-style — items below min
    support (20 docs) never enter the pair join, pairs below min
    support are dropped before rule expansion, rules below confidence
    0.2 are dropped last.  All three metrics are single divisions of
    exact BIGINT counts (rounded 6).

    Scale shape: the support prune IS the operator — the pair join runs
    only over frequent items (inverted-index equi-join on doc_id, like
    the PMI row), so candidate volume is Σ_doc |frequent tokens in
    doc|², bounded by the min-support threshold, never vocabulary²."""
    docs = load_table(spark, sf_dir, "documents")
    from ophidia_io_server_spark.pipeline.text import tokens_col
    from ophidia_io_server_spark.sources.tables import spread

    MIN_N = 20
    MIN_CONF = 0.2
    tk = (spread(docs).where(F.col("text").isNotNull())
          .select("doc_id", F.explode(F.array_distinct(
              tokens_col(F.col("text")))).alias("token"))
          .localCheckpoint())  # item counts + N + both pair sides
    nd = tk.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    item = (tk.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .where(F.col("n") >= MIN_N))
    freq = tk.join(F.broadcast(item.select("token")), "token")
    a = freq.select("doc_id", F.col("token").alias("ta"))
    b = freq.select("doc_id", F.col("token").alias("tb"))
    co = (a.join(b, "doc_id").where(F.col("ta") < F.col("tb"))
          .groupBy("ta", "tb")
          .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
          .where(F.col("nab") >= MIN_N))
    rules = (co.select(F.col("ta").alias("antecedent"),
                       F.col("tb").alias("consequent"), "nab")
             .unionByName(co.select(F.col("tb").alias("antecedent"),
                                    F.col("ta").alias("consequent"), "nab")))
    ia = item.select(F.col("token").alias("antecedent"),
                     F.col("n").alias("na"))
    ic = item.select(F.col("token").alias("consequent"),
                     F.col("n").alias("nc"))
    return (rules.join(F.broadcast(ia), "antecedent")
            .join(F.broadcast(ic), "consequent")
            .crossJoin(F.broadcast(nd))
            .where(F.col("nab") / F.col("na") >= MIN_CONF)
            .select("antecedent", "consequent", "nab",
                    F.round(F.col("nab") / F.col("n_docs"), 6)
                    .alias("support"),
                    F.round(F.col("nab") / F.col("na"), 6)
                    .alias("confidence"),
                    F.round(F.col("nab") * F.col("n_docs")
                            / (F.col("na") * F.col("nc")), 6)
                    .alias("lift")))


@workload(
    "doc_stratified_split",
    oracle="""
    WITH pr AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS prio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY prio, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM pr
    )
    SELECT doc_id, lang,
           CASE WHEN r <= (n * 8) // 10 THEN 'train'
                WHEN r <= (n * 9) // 10 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def doc_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED train/val/test split with EXACT per-
    stratum proportions: within each language stratum, docs rank by
    their 60-bit md5 priority (the repo's id-keyed-decision convention —
    stable under repartitioning and retries) and the first ⌊0.8n⌋ go to
    train, the next ⌊0.1n⌋ to val, the rest to test.  Rank-based
    assignment makes the proportions EXACT per stratum (a hash-threshold
    split only hits them in expectation — ±√n docs of drift, which
    matters when small-language strata feed evaluation sets).

    Scale shape (r9 verdict #1): a ``Window.partitionBy(lang)`` rank is
    ONE task per stratum — the dominant-language stratum of any real
    corpus becomes a single-task sort at 100 TB.  Instead the rank is
    the DISTRIBUTED two-phase range-partition rank
    (``operators/ranking.py::global_dense_rank``) over the lang-major
    total order (lang, prio, doc_id): ranks within a stratum are then a
    contiguous block, so the within-stratum row number is just
    ``global_rank − min(global_rank per lang) + 1`` and the stratum size
    comes from a groupBy — both derived from one ≤|langs|-row broadcast
    summary, no window keyed on ``lang`` anywhere in the plan.  Integer-
    division thresholds keep both engines bit-identical."""
    from ophidia_io_server_spark.operators.ranking import global_dense_rank

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    pr = docs.select(
        "doc_id", "lang",
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint").alias("prio"))
    # (lang, prio, doc_id) is unique per row, so the DENSE global rank is
    # a global ROW_NUMBER over the lang-major order
    ranked = global_dense_rank(pr, ["lang", "prio", "doc_id"],
                               rank_col="gr")
    # languages are a bounded enum (ISO codes), not a vocabulary: the
    # per-stratum summary is legitimately broadcast-sized at any corpus
    per_lang = ranked.groupBy("lang").agg(
        F.min("gr").alias("off0"),
        F.count(F.lit(1)).alias("n"))
    return (ranked.join(F.broadcast(per_lang), "lang")
            .withColumn("r", F.col("gr") - F.col("off0") + F.lit(1))
            .select(
                "doc_id", "lang",
                F.when(F.col("r") <= F.expr("n * 8 div 10"), "train")
                .when(F.col("r") <= F.expr("n * 9 div 10"), "val")
                .otherwise("test").alias("split")))


@workload(
    "doc_containment_pairs",
    oracle="""
    WITH ts AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       w -> w <> '')) AS toks
      FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
    ),
    tsz AS (SELECT doc_id, toks, len(toks) AS m FROM ts WHERE len(toks) > 0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS c, a.m AS ma
      FROM tsz a JOIN tsz b ON a.doc_id <> b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(c * 1.0 / ma, 6) AS containment
    FROM pairs WHERE c * 1.0 / ma >= 0.7
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DIRECTED set-containment join ``|a∩b|/|a| ≥ 0.7`` via the
    asymmetric prefix filter (``pipeline/setjoin.py::containment_pairs``)
    — the near-dup relation Jaccard misses: a short doc embedded in a
    long one has containment 1.0 but Jaccard → 0 (the quote/boilerplate
    detector).  Recall 1.0 by construction (the oracle is the literal
    all-pairs directed containment, so the hash proves it).  Runs on the
    same fixed doc_id % 10 slice as ``doc_prefix_jaccard_pairs`` and for
    the same reason: the template corpus makes directed containment
    output-quadratic at any usable τ (documented, PERF.md r9)."""
    from ophidia_io_server_spark.pipeline.setjoin import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs.where(F.col("doc_id") % 10 == 0), threshold=0.7)


@workload(
    "doc_weighted_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars, 1 + n_chars // 50 AS w
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
    ),
    ex AS (SELECT doc_id, n_chars, w, unnest(range(w)) AS j FROM d),
    pr AS (
      SELECT doc_id, any_value(n_chars) AS n_chars,
             any_value(w) AS w,
             MIN(CAST(('0x' || substr(md5(md5(CAST(doc_id AS VARCHAR))
                                          || '#ws:' || CAST(j AS VARCHAR)),
                              1, 15)) AS BIGINT)) AS priority
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(w AS BIGINT) AS w, priority
    FROM pr ORDER BY priority, doc_id LIMIT 100
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size weighted sample without replacement — 100 docs drawn
    with probability proportional to an integer weight (1 + n_chars/50:
    longer docs proportionally likelier, the length-balanced corpus
    subsample) via ``pipeline/sampling.py::weighted_bottom_k``:
    Efraimidis-Spirakis bottom-k through integer clone replication
    (min of w uniform 60-bit md5 hashes ~ U^(1/w)) so selection is
    integer-decided — no ``ln``/``pow`` whose last ulp could flip the
    k-th seat between engines (this workload promotes the previously
    pytest-only primitive to a hash-checked gate arm).

    Scale: the w clone hashes fold inside one codegen projection (no
    row explosion), selection is TakeOrdered top-k — never a full sort;
    the oracle replays the identical clone recipe with unnest(range(w))."""
    from ophidia_io_server_spark.pipeline.sampling import weighted_bottom_k

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "n_chars",
                    F.expr("1 + n_chars div 50").alias("w"))
    out = weighted_bottom_k(d.where(F.col("n_chars") >= 0), k=100,
                            weight_col="w", key_col="doc_id",
                            salt="ws", max_weight=64)
    return out.select("doc_id",
                      F.col("n_chars").cast("bigint").alias("n_chars"),
                      F.col("w").cast("bigint").alias("w"),
                      F.col("priority").cast("bigint").alias("priority"))


@workload(
    "source_kmv_overlap",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split(text, ' '),
                                w -> w <> '')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    h AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS hh
      FROM tok
    ),
    sk AS (
      SELECT source, hh FROM (
        SELECT source, hh,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh) AS rn
        FROM h)
      WHERE rn <= 128
    ),
    srcs AS (SELECT DISTINCT source FROM sk),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    u AS (
      SELECT p.sa, p.sb, s.source, s.hh
      FROM sk s JOIN pairs p ON s.source = p.sa OR s.source = p.sb
    ),
    g AS (
      SELECT sa, sb, hh,
             MAX(CASE WHEN source = sa THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN source = sb THEN 1 ELSE 0 END) AS in_b
      FROM u GROUP BY sa, sb, hh
    ),
    top AS (
      SELECT * FROM (
        SELECT g.*, ROW_NUMBER() OVER (PARTITION BY sa, sb
                                       ORDER BY hh) AS rn
        FROM g)
      WHERE rn <= 128
    ),
    est AS (
      SELECT sa, sb, CAST(MAX(rn) AS BIGINT) AS k_used,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS nboth
      FROM top GROUP BY sa, sb
    ),
    sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS m FROM tok GROUP BY source
    ),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT e.sa AS source_a, e.sb AS source_b, e.k_used,
           ROUND(e.nboth * 1.0 / e.k_used, 6) AS jaccard_est,
           ROUND(COALESCE(i.c, 0) * 1.0
                 / (za.m + zb.m - COALESCE(i.c, 0)), 6) AS jaccard_exact,
           ABS(e.nboth * 1.0 / e.k_used
               - COALESCE(i.c, 0) * 1.0
                 / (za.m + zb.m - COALESCE(i.c, 0))) <= 0.15
             AS within_bound
    FROM est e
    LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
    JOIN sz za ON za.source = e.sa
    JOIN sz zb ON zb.source = e.sb
    """,
)
def source_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch DISTINCT-OVERLAP estimate
    between every source pair — the set-operation sketch HyperLogLog
    cannot give you (HLL unions, never intersects; Beyer et al. SIGMOD'07
    KMV synopses): each source keeps its 128 smallest 60-bit md5 token
    hashes, a pair's Jaccard estimate is the both-members fraction of the
    k smallest hashes of the UNION of the two sketches, and the row
    carries the exact Jaccard plus an |est − exact| ≤ 0.15 certificate
    (≈3.4σ at K=128's worst case) — all integer-decided, so both engines
    agree bitwise.

    Scale design: the sketch build is the TWO-PHASE bottom-k (per
    (source, partition) row_number prunes to ≤K·P candidate rows, then
    the per-source final rank runs on that config-bounded set — never a
    window over a source's whole vocabulary); pair expansion joins the
    ≤S·K-row pinned sketch against the S²-row pair list (sources are a
    bounded enum, so S² is config-bounded); the exact-overlap check
    self-joins distinct (source, token) with per-token fan-out ≤ S²
    (the ``source_overlap_matrix`` property)."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pin import pinned
    from ophidia_io_server_spark.sources.tables import spread

    K = 128
    docs = load_table(spark, sf_dir, "documents")
    tok = (spread(docs).where(F.col("text").isNotNull())
           .select("source",
                   F.explode(F.filter(F.split(F.col("text"), " "),
                                      lambda w: w != "")).alias("token"))
           .distinct())
    tok = pinned(tok, "kmv token table: sketch build + exact overlap")

    hh = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10) \
        .cast("bigint")
    sh = tok.select("source", hh.alias("hh")).distinct()
    pre = sh.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("source", "_pid").orderBy("hh")
    cand = (pre.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= K))
    w2 = Window.partitionBy("source").orderBy("hh")
    sk = (cand.withColumn("rn2", F.row_number().over(w2))
          .where(F.col("rn2") <= K).select("source", "hh"))
    sk = pinned(sk, "kmv sketches: <= S*K rows, feeds pair union + ranks")

    srcs = sk.select("source").distinct()
    pairs = (srcs.select(F.col("source").alias("sa"))
             .crossJoin(F.broadcast(srcs.select(F.col("source").alias("sb"))))
             .where(F.col("sa") < F.col("sb")))
    u = sk.join(F.broadcast(pairs),
                (F.col("source") == F.col("sa"))
                | (F.col("source") == F.col("sb")))
    g = u.groupBy("sa", "sb", "hh").agg(
        F.max(F.when(F.col("source") == F.col("sa"), 1).otherwise(0))
        .alias("in_a"),
        F.max(F.when(F.col("source") == F.col("sb"), 1).otherwise(0))
        .alias("in_b"))
    w3 = Window.partitionBy("sa", "sb").orderBy("hh")
    top = (g.withColumn("rn", F.row_number().over(w3))
           .where(F.col("rn") <= K))
    est = top.groupBy("sa", "sb").agg(
        F.max("rn").cast("bigint").alias("k_used"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
              .otherwise(0)).cast("bigint").alias("nboth"))

    sz = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"))
    ta = tok.select(F.col("source").alias("sa"), "token")
    tb = tok.select(F.col("source").alias("sb"), "token")
    inter = (ta.join(tb, "token")
             .where(F.col("sa") < F.col("sb"))
             .groupBy("sa", "sb")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    jac_est = F.col("nboth") / F.col("k_used")
    jac_exact = (F.coalesce(F.col("c"), F.lit(0))
                 / (F.col("ma") + F.col("mb")
                    - F.coalesce(F.col("c"), F.lit(0))))
    return (est
            .join(inter, ["sa", "sb"], "left")
            .join(sz.select(F.col("source").alias("sa"),
                            F.col("m").alias("ma")), "sa")
            .join(sz.select(F.col("source").alias("sb"),
                            F.col("m").alias("mb")), "sb")
            .select(F.col("sa").alias("source_a"),
                    F.col("sb").alias("source_b"),
                    "k_used",
                    F.round(jac_est, 6).alias("jaccard_est"),
                    F.round(jac_exact, 6).alias("jaccard_exact"),
                    (F.abs(jac_est - jac_exact) <= 0.15)
                    .alias("within_bound")))


@workload(
    "token_association_triples",
    oracle="""
    WITH tk AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> w <> '')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tk),
    th AS (SELECT GREATEST(20, n_docs // 25) AS min_n FROM nd),
    item AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tk CROSS JOIN th GROUP BY token, min_n
      HAVING COUNT(*) >= min_n
    ),
    ft AS (SELECT doc_id, token FROM tk
           WHERE token IN (SELECT token FROM item)),
    co AS (
      SELECT a.token AS ta, b.token AS tb, CAST(COUNT(*) AS BIGINT) AS nab
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
      CROSS JOIN th
      GROUP BY ta, tb, min_n HAVING COUNT(*) >= min_n
    ),
    cand AS (
      SELECT p.ta, p.tb, q.tb AS tc_, p.nab
      FROM co p JOIN co q ON q.ta = p.ta AND q.tb > p.tb
      WHERE EXISTS (SELECT 1 FROM co r
                    WHERE r.ta = p.tb AND r.tb = q.tb)
    ),
    tri AS (
      SELECT c.ta, c.tb, c.tc_, MIN(c.nab) AS nab,
             CAST(COUNT(*) AS BIGINT) AS nabc
      FROM cand c
      JOIN ft x ON x.token = c.ta
      JOIN ft y ON y.token = c.tb AND y.doc_id = x.doc_id
      JOIN ft z ON z.token = c.tc_ AND z.doc_id = x.doc_id
      CROSS JOIN th
      GROUP BY c.ta, c.tb, c.tc_, min_n HAVING COUNT(*) >= min_n
    )
    SELECT ta AS ant_a, tb AS ant_b, tc_ AS consequent, nabc,
           ROUND(nabc * 1.0 / n_docs, 6) AS support,
           ROUND(nabc * 1.0 / nab, 6) AS confidence,
           ROUND(nabc * 1.0 * n_docs / (nab * ic.n), 6) AS lift
    FROM tri JOIN item ic ON ic.token = tc_
    CROSS JOIN nd
    WHERE nabc * 1.0 / nab >= 0.2
    """,
)
def token_association_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3: association rules {a, b} → c over per-document
    token sets (Agrawal & Srikant VLDB'94's candidate-generation step,
    the part the 2-itemset row doesn't exercise): candidate triples come
    ONLY from joining frequent PAIRS sharing their first item, pruned by
    the Apriori property (all three sub-pairs must themselves be
    frequent — the EXISTS check), and are then exact-counted against the
    frequent-item posting list.  Rules report support, confidence
    n(abc)/n(ab), and lift against the consequent's base rate — all
    single divisions of exact BIGINT counts.

    Scale shape — DIRECT per-document enumeration, not posting joins:
    each doc's frequent tokens collapse to one sorted in-row array, and
    nested ``transform``s generate its C(k,2) pairs and C(k,3) triples
    INSIDE the row (codegen, no join), so total touched rows equal the
    information-theoretic minimum for exact counting — Σ_doc C(k_d,3)
    — where the r10 first cut's candidate ⋈ posting joins materialized
    |candidates|·|postings| intermediates (measured 150 s at the 100×
    corpus vs 30 s enumerated, PERF.md).  A per-doc budget guards the
    degenerate case (k_d > 256 raises with the fix: raise min-support).
    Min-support is RELATIVE — ``max(20, n_docs/25)`` — an absolute
    count is meaningless at corpus scale (at 100× every token clears an
    absolute 20); at the sf0.01 gate the thresholds coincide
    (500/25 = 20), so the hash baseline is unchanged.  Consequent = the
    lexicographically-largest member, one directed rule per triple (the
    canonical Apriori enumeration; the 2-item row covers directed rule
    expansion)."""
    from ophidia_io_server_spark.pipeline.text import tokens_col
    from ophidia_io_server_spark.sources.tables import spread
    from ophidia_io_server_spark.pin import pinned

    MIN_CONF = 0.2
    docs = load_table(spark, sf_dir, "documents")
    # lazy pin (r13 opt): the 1-row threshold collect right below is the
    # first action and materializes the posting blocks in ITS job — the
    # eager variant ran the scan+explode as a separate job first.
    tk = pinned(
        (spread(docs).where(F.col("text").isNotNull())
         .select("doc_id", F.explode(F.array_distinct(
             tokens_col(F.col("text")))).alias("token"))),
        "triples posting list: N + item counts + frequent-id join",
        eager=False)
    # r13 opt: the old nd/th 1-row frames were BROADCAST into three
    # downstream filters and crossJoined into the final projection —
    # each broadcast re-ran the count_distinct aggregate over the
    # posting blocks (4 passes).  Collect the two scalars ONCE (same
    # budget-scalar discipline as the mx guard below; this is a 1-row
    # threshold, not a data-sized collect) and inline them as literals.
    n_docs = int(tk.agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
        .collect()[0]["n_docs"] or 0)
    min_n = max(20, n_docs // 25)
    # min-support bounds the frequent-item table (<= sum|doc|/MIN_N rows)
    item = (tk.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .where(F.col("n") >= F.lit(min_n)))
    # dictionary-encode frequent tokens to DENSE INT ids (distributed
    # rank over the support-bounded item table): the 50M-row enumeration
    # shuffles 3 ints per struct instead of 3 strings — measured 2× at
    # sf0.1 (PERF.md r10); ids are SORTED like the tokens (dense rank
    # over the token order), so int-sorted triples decode to the same
    # lexicographic (ta < tb < tc_) canonical form
    from ophidia_io_server_spark.operators.ranking import global_dense_rank

    item_id = pinned(
        global_dense_rank(item, ["token"], rank_col="tid"),
        "frequent-item dictionary: frequent-id join + 3 decode joins + "
        "consequent base-rate lookup")
    # r13 opt: the old ft stage (tk ⋈ item, pinned) was a redundant
    # join + pin — item_id IS the frequent-item set (dense rank of it),
    # so one broadcast join frequency-filters AND encodes; ft had a
    # single consumer, so its pin bought nothing.
    fti = (tk.join(F.broadcast(item_id.select("token", "tid")), "token")
           .select("doc_id", F.col("tid").cast("int").alias("tid")))
    # lazy pin: materialized by the mx budget collect right below.
    arr = pinned(
        fti.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("tid")).alias("ts")),
        "per-doc frequent-id arrays: pair + triple enumeration",
        eager=False)
    # spread before the in-row enumeration (r13 opt): ``arr`` is
    # doc-count-sized and AQE coalesces it to one/few partitions, but the
    # C(k,2)/C(k,3) transforms below fan it out thousands-fold — measured
    # at sf0.1 the whole triple aggregate ran as a SINGLE task (5.6 s on
    # one core vs 0.4 s spread).  Round-robin repartition of the compact
    # array table restores enumeration parallelism at any scale.
    arr = spread(arr)
    mx = arr.agg(F.max(F.size("ts")).alias("mk")).collect()[0]["mk"] or 0
    if mx > 256:
        raise RuntimeError(
            f"token_association_triples: a document carries {mx} frequent "
            f"tokens (budget 256) — C(k,3) in-row enumeration would "
            f"explode; raise the min-support rate.")
    pair_gen = F.expr(
        "flatten(transform(ts, (a, i) -> "
        "transform(slice(ts, i + 2, size(ts)), b -> struct(a, b))))")
    # r13 opt: co is UNPINNED — it has exactly one consumer (the
    # tri_ids join), so the pin only serialized a whole extra job at
    # plan time; unpinned, the pair-aggregate and triple-aggregate
    # subtrees both read the arr blocks inside ONE job and their
    # stages overlap (guide §2.6: fill idle capacity).
    co = (arr.select(F.explode(pair_gen).alias("p"))
          .groupBy(F.col("p.a").alias("ia"), F.col("p.b").alias("ib"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
          .where(F.col("nab") >= F.lit(min_n)))
    tri_gen = F.expr(
        "flatten(transform(ts, (a, i) -> "
        "flatten(transform(slice(ts, i + 2, size(ts)), (b, j) -> "
        "transform(slice(ts, i + j + 3, size(ts)), "
        "c -> struct(a, b, c))))))")
    tri_ids = (arr.select(F.explode(tri_gen).alias("p"))
               .groupBy(F.col("p.a").alias("ia"), F.col("p.b").alias("ib"),
                        F.col("p.c").alias("ic"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("nabc"))
               .where(F.col("nabc") >= F.lit(min_n))
               .join(co, ["ia", "ib"]))
    dec = item_id.select(F.col("tid").cast("int").alias("_id"),
                         F.col("token").alias("_tok"))
    tri = (tri_ids
           .join(dec.select(F.col("_id").alias("ia"),
                            F.col("_tok").alias("ta")), "ia")
           .join(dec.select(F.col("_id").alias("ib"),
                            F.col("_tok").alias("tb")), "ib")
           .join(dec.select(F.col("_id").alias("ic"),
                            F.col("_tok").alias("tc_")), "ic"))
    # consequent base rate from the PINNED dictionary (item_id keeps
    # item's n column) instead of recomputing the item aggregate.
    return (tri
            .join(item_id.select(F.col("token").alias("tc_"),
                                 F.col("n").alias("nc")), "tc_")
            .where(F.col("nabc") / F.col("nab") >= MIN_CONF)
            .select(F.col("ta").alias("ant_a"), F.col("tb").alias("ant_b"),
                    F.col("tc_").alias("consequent"), "nabc",
                    F.round(F.col("nabc") / F.lit(n_docs).cast("bigint"), 6)
                    .alias("support"),
                    F.round(F.col("nabc") / F.col("nab"), 6)
                    .alias("confidence"),
                    F.round(F.col("nabc") * F.lit(n_docs).cast("bigint")
                            / (F.col("nab") * F.col("nc")), 6)
                    .alias("lift")))

@workload(
    "source_divergence_matrix",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_s,
             SUM(CAST(c AS HUGEINT) * c) AS q_s
      FROM cnt GROUP BY 1
    ),
    c2 AS (SELECT cnt.source, t, c, n_s FROM cnt JOIN tot USING (source)),
    pr AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(abs(CAST(a.c AS HUGEINT) * b.n_s
                     - CAST(b.c AS HUGEINT) * a.n_s)) AS tvn,
             SUM(CAST(a.c AS HUGEINT) * b.c) AS dot,
             CAST(SUM(a.c) AS BIGINT) AS sai,
             CAST(SUM(b.c) AS BIGINT) AS sbi,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM c2 a JOIN c2 b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, ta.n_s AS n_a, tb.n_s AS n_b, n_common,
           ROUND(CAST(tvn + (CAST(ta.n_s AS HUGEINT) - sai) * tb.n_s
                      + (CAST(tb.n_s AS HUGEINT) - sbi) * ta.n_s AS DOUBLE)
                 / CAST(2 * CAST(ta.n_s AS HUGEINT) * tb.n_s AS DOUBLE),
                 6) AS tv_dist,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(ta.q_s AS DOUBLE))
                    * sqrt(CAST(tb.q_s AS DOUBLE))), 6) AS cosine
    FROM pr
    JOIN tot ta ON ta.source = pr.src_a
    JOIN tot tb ON tb.source = pr.src_b
    """,
)
def source_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise divergence between source token-FREQUENCY distributions —
    the data-mixing diagnostic (`source_overlap_matrix` is set overlap;
    this is distribution distance, what actually moves a trained model):
    exact total-variation distance ½·Σ|p−q| and count-vector cosine for
    every source pair.  TV stays EXACT by clearing denominators —
    Σ|cₐ·n_b − c_b·nₐ| over the token intersection plus the two
    one-sided tails (nₐ−Σcₐ)·n_b + (n_b−Σc_b)·nₐ, all DECIMAL(38,0)
    integers (JS/KL divergence would need a per-token transcendental SUM
    — cross-engine-unsafe; TV and cosine carry the same ranking signal
    on exact arithmetic).  One IEEE division per output row, rounded 6.

    Scale: the (source, token) count table is vocabulary×sources, the
    self-join is token-keyed (shuffle join — NO forced broadcast, the r9
    lesson; AQE broadcasts iff it fits), per-token fan-out is bounded by
    the source count, never the corpus.  Digit budget: cₐ·n_b ≤ 10³⁸
    holds past 10¹⁸ tokens/source."""
    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.where(F.col("text").isNotNull())
           .select("source", F.explode(F.split("text", " ")).alias("t"))
           .where(F.col("t") != ""))
    cnt = (tok.groupBy("source", "t")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = (cnt.groupBy("source")
           .agg(F.sum("c").cast("bigint").alias("n_s"),
                F.sum(F.col("c").cast(dec) * F.col("c")).alias("q_s")))
    c2 = cnt.join(tot.select("source", "n_s"), "source")
    a = c2.select(F.col("source").alias("src_a"), "t",
                  F.col("c").alias("ca"), F.col("n_s").alias("na_i"))
    b = c2.select(F.col("source").alias("src_b"), "t",
                  F.col("c").alias("cb"), F.col("n_s").alias("nb_i"))
    pr = (a.join(b, ["t"])
          .where(F.col("src_a") < F.col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(F.sum(F.abs(F.col("ca").cast(dec) * F.col("nb_i")
                           - F.col("cb").cast(dec) * F.col("na_i")))
               .alias("tvn"),
               F.sum(F.col("ca").cast(dec) * F.col("cb")).alias("dot"),
               F.sum("ca").cast("bigint").alias("sai"),
               F.sum("cb").cast("bigint").alias("sbi"),
               F.count(F.lit(1)).cast("bigint").alias("n_common")))
    ta = tot.select(F.col("source").alias("src_a"),
                    F.col("n_s").alias("n_a"), F.col("q_s").alias("qa"))
    tb = tot.select(F.col("source").alias("src_b"),
                    F.col("n_s").alias("n_b"), F.col("q_s").alias("qb"))
    j = pr.join(ta, "src_a").join(tb, "src_b")
    num = (F.col("tvn")
           + (F.col("n_a").cast(dec) - F.col("sai")) * F.col("n_b")
           + (F.col("n_b").cast(dec) - F.col("sbi")) * F.col("n_a"))
    den = F.lit(2).cast(dec) * F.col("n_a").cast(dec) * F.col("n_b")
    return j.select(
        "src_a", "src_b", "n_a", "n_b", "n_common",
        F.round(num.cast("double") / den.cast("double"), 6)
        .alias("tv_dist"),
        F.round(F.col("dot").cast("double")
                / (F.sqrt(F.col("qa").cast("double"))
                   * F.sqrt(F.col("qb").cast("double"))), 6)
        .alias("cosine"))

@workload(
    "source_diversity",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             SUM(CAST(c AS HUGEINT) * (c - 1)) AS s2
      FROM cnt GROUP BY 1
    )
    SELECT source, n_tokens, vocab, hapax,
           ROUND(1.0 - CAST(s2 AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             AS gini_simpson,
           ROUND(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS ttr,
           ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
             AS hapax_ratio
    FROM agg
    """,
)
def source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile — the corpus-quality readout
    a data-mixing recipe keys on: Gini-Simpson diversity 1 − Σc(c−1)/
    (N(N−1)) (the unbiased repeat-rate complement, EXACT rational of
    integer counts — Shannon entropy would need a per-token
    transcendental SUM, cross-engine-unsafe; Simpson carries the same
    concentration signal on exact arithmetic), type-token ratio, and
    hapax-legomenon ratio (the OOV-pressure proxy for tokenizer/vocab
    sizing).  One IEEE division per output row, rounded 6.

    Scale: one (source, token) count exchange + one per-source collapse
    — both partial-aggregatable; no joins, no windows.  Digit budget:
    Σc² ≤ 10³⁸ holds past 10¹⁸ tokens of a single repeated type."""
    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.where(F.col("text").isNotNull())
           .select("source", F.explode(F.split("text", " ")).alias("t"))
           .where(F.col("t") != ""))
    cnt = (tok.groupBy("source", "t")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    agg = (cnt.groupBy("source")
           .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                F.count(F.lit(1)).cast("bigint").alias("vocab"),
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                .cast("bigint").alias("hapax"),
                F.sum(F.col("c").cast(dec) * (F.col("c") - 1))
                .alias("s2")))
    nt = F.col("n_tokens").cast("double")
    return agg.select(
        "source", "n_tokens", "vocab", "hapax",
        F.round(1.0 - F.col("s2").cast("double")
                / (nt * (F.col("n_tokens") - 1)), 6).alias("gini_simpson"),
        F.round(F.col("vocab").cast("double") / nt, 6).alias("ttr"),
        F.round(F.col("hapax").cast("double")
                / F.col("vocab").cast("double"), 6).alias("hapax_ratio"))


@workload(
    "doc_heaps_law",
    oracle="""
    WITH bounds AS (
      SELECT min(doc_id) AS lo, max(doc_id) AS hi, COUNT(*) AS nd
      FROM documents
    ),
    cut AS (
      SELECT CAST(k AS BIGINT) AS decile,
             lo + ((hi - lo + 1) * k) // 10 AS cutoff
      FROM bounds, unnest(range(1, 11)) AS t(k)
    ),
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    fa AS (SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t),
    dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
           FROM tok GROUP BY doc_id),
    vocab_k AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM cut JOIN fa ON fa.first_doc < cut.cutoff
      GROUP BY decile
    ),
    toks_k AS (
      SELECT decile, CAST(SUM(nt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM cut JOIN dt ON dt.doc_id < cut.cutoff
      GROUP BY decile
    )
    SELECT t.decile, t.n_docs, t.n_tokens,
           COALESCE(v.vocab, 0) AS vocab
    FROM toks_k t LEFT JOIN vocab_k v USING (decile)
    """,
)
def doc_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token count after each
    id-space decile of the corpus (the tokenizer/vocab-budget planning
    readout — how fast does vocabulary grow as the corpus grows?).  A
    token's first appearance is min(doc_id); the per-decile vocabulary
    is then a COUNT over first-appearance positions — no re-scan of the
    corpus per decile, the classic one-pass formulation.

    Scale: one (token → min doc_id) aggregate + one per-doc token count,
    each joined to the 10-row cutoff table (range join against 10 rows =
    10x fan-out on bounded summaries, never the corpus).  Deciles are
    ID-SPACE cuts (documented; a rank-space variant would ride
    global_dense_rank)."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(F.min("doc_id").alias("lo"),
                      F.max("doc_id").alias("hi"),
                      F.count(F.lit(1)).alias("nd"))
    cut = (bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k"),
        "lo", "hi")
        .select(F.col("k").cast("bigint").alias("decile"),
                (F.col("lo") + F.expr("((hi - lo + 1) * k) div 10"))
                .alias("cutoff")))
    tok = (docs.where(F.col("text").isNotNull())
           .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
           .where(F.col("t") != ""))
    fa = tok.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    dt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint")
                                   .alias("nt"))
    vocab_k = (cut.join(fa, fa.first_doc < cut.cutoff)
               .groupBy("decile")
               .agg(F.count(F.lit(1)).cast("bigint").alias("vocab")))
    toks_k = (cut.join(dt, dt.doc_id < cut.cutoff)
              .groupBy("decile")
              .agg(F.sum("nt").cast("bigint").alias("n_tokens"),
                   F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    return (toks_k.join(vocab_k, "decile", "left")
            .select("decile", "n_docs", "n_tokens",
                    F.coalesce("vocab", F.lit(0)).cast("bigint")
                    .alias("vocab")))


@workload(
    "doc_zipf_fit",
    oracle="""
    WITH toks AS (SELECT list_filter(string_split(text, ' '),
                                     x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    freq AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1
    ),
    top AS (
      SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                  AS BIGINT) AS rnk
      FROM freq ORDER BY cnt DESC, token LIMIT 1000
    ),
    xy AS (
      SELECT rnk, ln(CAST(rnk AS DOUBLE)) AS x,
             ln(CAST(cnt AS DOUBLE)) AS y
      FROM top
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                            list([x, y, 0.0, 0.0, 0.0] ORDER BY rnk)),
               (a, e) -> [a[1] + e[1], a[2] + e[2],
                          a[3] + e[1] * e[1], a[4] + e[2] * e[2],
                          a[5] + e[1] * e[2]]) AS s
      FROM xy
    )
    SELECT n AS n_tokens,
           ROUND((n * s[5] - s[1] * s[2])
                 / (n * s[3] - s[1] * s[1]), 6) AS slope,
           ROUND((s[2] - (n * s[5] - s[1] * s[2])
                         / (n * s[3] - s[1] * s[1]) * s[1]) / n, 6)
             AS intercept,
           ROUND((n * s[5] - s[1] * s[2]) * (n * s[5] - s[1] * s[2])
                 / ((n * s[3] - s[1] * s[1])
                    * (n * s[4] - s[2] * s[2])), 6) AS r2
    FROM folded
    """,
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: OLS of
    ln(freq) on ln(rank) — slope ≈ −1 is the classic power-law print;
    the R² says how well the corpus obeys it.  The distributional
    sibling of ``doc_heaps_law`` (vocabulary growth) — together the two
    standard corpus-health diagnostics for a training-data pipeline.

    Float discipline: rank is a deterministic total order
    (freq DESC, token ASC) so the top-1000 cut and every rank are
    engine-independent; the five OLS moments over the 1000
    transcendental (ln x, ln y) pairs ride ONE rank-ordered 5-slot
    array fold (``F.aggregate`` ↔ ``list_reduce``) — identical IEEE
    op sequence both engines — and slope/intercept/R² are single
    expressions over the folded slots, rounded 6 (libm's last-ulp ln
    differences amortize to ~1e-13 across 1000 terms).

    Scale: one vocabulary-keyed count (partial-aggregatable), a
    TakeOrderedAndProject top-1000 (never a global sort), then all
    math on the bounded 1000-row frame."""
    from ophidia_io_server_spark.pipeline.text import tokens_col
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.where(F.col("text").isNotNull())
            .select(F.explode(tokens_col(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    top = freq.orderBy(F.desc("cnt"), F.asc("token")).limit(1000)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))  # 1000-row frame
    xy = (top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
          .select("rnk",
                  F.log(F.col("rnk").cast("double")).alias("x"),
                  F.log(F.col("cnt").cast("double")).alias("y")))
    folded = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.array_sort(F.collect_list(F.struct(
            F.col("rnk"),
            F.array(F.col("x"), F.col("y"), F.lit(0.0), F.lit(0.0),
                    F.lit(0.0)).alias("e")))).alias("lst"))
    s = F.aggregate(
        F.transform(F.col("lst"), lambda st: st["e"]),
        F.array(*[F.lit(0.0)] * 5),
        lambda a, e: F.array(a[0] + e[0], a[1] + e[1],
                             a[2] + e[0] * e[0], a[3] + e[1] * e[1],
                             a[4] + e[0] * e[1]))
    n = F.col("n").cast("double")
    sx, sy, sxx, syy, sxy = (s[0], s[1], s[2], s[3], s[4])
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return folded.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        .alias("r2"))


_CONFUSION_CTE = f"""
    tok AS (
      SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (SELECT lang, {_LANG_COUNTS} FROM tok),
    pl AS (
      SELECT lang AS truth,
             CASE WHEN {_G} = 0 THEN 'und'
                  WHEN de = {_G} THEN 'de'
                  WHEN en = {_G} THEN 'en'
                  WHEN es = {_G} THEN 'es'
                  WHEN fr = {_G} THEN 'fr'
                  ELSE 'zh' END AS pred
      FROM cnt
    ),
    cm AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
           FROM pl GROUP BY 1, 2)
"""


@workload(
    "doc_lang_confusion",
    oracle=f"""
    WITH {_CONFUSION_CTE},
    classes AS (
      SELECT truth AS class FROM cm
      UNION SELECT pred FROM cm
    ),
    tr AS (SELECT truth AS class, CAST(SUM(n) AS BIGINT) AS n_true
           FROM cm GROUP BY 1),
    pd AS (SELECT pred AS class, CAST(SUM(n) AS BIGINT) AS n_pred
           FROM cm GROUP BY 1),
    dg AS (SELECT truth AS class, CAST(SUM(n) AS BIGINT) AS tp
           FROM cm WHERE truth = pred GROUP BY 1)
    SELECT c.class,
           COALESCE(tr.n_true, 0) AS n_true,
           COALESCE(pd.n_pred, 0) AS n_pred,
           COALESCE(dg.tp, 0) AS tp,
           CASE WHEN COALESCE(pd.n_pred, 0) > 0
                THEN ROUND(CAST(COALESCE(dg.tp, 0) AS DOUBLE)
                           / pd.n_pred, 6) END AS precision,
           CASE WHEN COALESCE(tr.n_true, 0) > 0
                THEN ROUND(CAST(COALESCE(dg.tp, 0) AS DOUBLE)
                           / tr.n_true, 6) END AS recall,
           CASE WHEN COALESCE(tr.n_true, 0) + COALESCE(pd.n_pred, 0) > 0
                THEN ROUND(2.0 * COALESCE(dg.tp, 0)
                           / (COALESCE(tr.n_true, 0)
                              + COALESCE(pd.n_pred, 0)), 6) END AS f1
    FROM classes c
    LEFT JOIN tr ON tr.class = c.class
    LEFT JOIN pd ON pd.class = c.class
    LEFT JOIN dg ON dg.class = c.class
    """,
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the n-gram-heuristic
    language identifier (``pipeline/text.py::lang_id_col``) against the
    corpus's labeled ``lang`` — the classifier-evaluation primitive a
    curation pipeline runs after every labeling stage.  Classes are the
    UNION of observed truth and predicted labels (a class predicted but
    never labeled still gets a precision row; 'und' appears only on the
    predicted axis).  Division-by-zero edges emit NULL via the same
    integer predicates in both engines; F1 = 2·tp/(n_true + n_pred)
    avoids the precision·recall ratio form (one division, exact
    integers).

    Scale: one per-doc marker scan (partial-aggregatable into the
    ≤36-cell confusion matrix), then all math on the bounded cell
    table."""
    from ophidia_io_server_spark.pipeline.text import lang_id_col
    from ophidia_io_server_spark.pin import pinned
    from ophidia_io_server_spark.sources.tables import spread

    docs = load_table(spark, sf_dir, "documents")
    # r13 opt: spread before the heavy per-doc argmax expression (the
    # single small parquet file scans as ONE task locally), and pin the
    # ≤36-cell matrix — it feeds FOUR consumers (class union, both
    # marginals, the diagonal), each of which otherwise re-ran the
    # corpus-wide lang_id scan (plan showed 4 parquet scans; measured
    # 3.3 s exec → one spread scan + cell-table math).
    pl = (spread(docs).where(F.col("text").isNotNull())
          .select(F.col("lang").alias("truth"),
                  lang_id_col(F.col("text")).alias("pred")))
    cm = pinned(pl.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")),
        "confusion matrix: class union + 2 marginals + diagonal")
    classes = (cm.select(F.col("truth").alias("class"))
               .union(cm.select(F.col("pred").alias("class"))).distinct())
    tr = cm.groupBy(F.col("truth").alias("class")).agg(
        F.sum("n").cast("bigint").alias("n_true"))
    pd_ = cm.groupBy(F.col("pred").alias("class")).agg(
        F.sum("n").cast("bigint").alias("n_pred"))
    dg = (cm.where(F.col("truth") == F.col("pred"))
          .groupBy(F.col("truth").alias("class"))
          .agg(F.sum("n").cast("bigint").alias("tp")))
    j = (classes.join(tr, "class", "left").join(pd_, "class", "left")
         .join(dg, "class", "left")
         .select("class",
                 F.coalesce("n_true", F.lit(0)).cast("bigint")
                 .alias("n_true"),
                 F.coalesce("n_pred", F.lit(0)).cast("bigint")
                 .alias("n_pred"),
                 F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp")))
    return j.select(
        "class", "n_true", "n_pred", "tp",
        F.when(F.col("n_pred") > 0,
               F.round(F.col("tp").cast("double") / F.col("n_pred"), 6))
        .alias("precision"),
        F.when(F.col("n_true") > 0,
               F.round(F.col("tp").cast("double") / F.col("n_true"), 6))
        .alias("recall"),
        F.when(F.col("n_true") + F.col("n_pred") > 0,
               F.round(2.0 * F.col("tp")
                       / (F.col("n_true") + F.col("n_pred")), 6))
        .alias("f1"))


@workload(
    "doc_lang_kappa",
    oracle=f"""
    WITH {_CONFUSION_CTE},
    m AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN truth = pred THEN n ELSE 0 END)
                  AS BIGINT) AS agree
      FROM cm
    ),
    pe AS (
      SELECT SUM(CAST(t.n_true AS HUGEINT) * p.n_pred) AS chance
      FROM (SELECT truth AS class, SUM(n) AS n_true FROM cm GROUP BY 1) t
      JOIN (SELECT pred AS class, SUM(n) AS n_pred FROM cm GROUP BY 1) p
        ON p.class = t.class
    )
    SELECT nn AS n_docs, agree AS n_agree,
           ROUND(CAST(agree AS DOUBLE) / nn, 6) AS accuracy,
           ROUND(CAST(CAST(nn AS HUGEINT) * agree - chance AS DOUBLE)
                 / CAST(CAST(nn AS HUGEINT) * nn - chance AS DOUBLE), 6)
             AS kappa
    FROM m, pe
    """,
)
def doc_lang_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the labeled language and the n-gram
    language identifier — chance-corrected agreement, the single-number
    summary next to the per-class ``doc_lang_confusion`` row:
    κ = (p_o − p_e)/(1 − p_e) with p_e the marginal-product chance
    agreement.  Clearing N² turns it into
    κ = (N·agree − Σ n_true·n_pred) / (N² − Σ n_true·n_pred) — ONE IEEE
    division over exact DECIMAL(38,0) integers (budget: N² ≤ 1e26 at
    10¹³ docs), rounded 6.

    Scale: same ≤36-cell confusion collapse as the sibling row; the
    marginal-product join runs on ≤6-row frames."""
    from ophidia_io_server_spark.pipeline.text import lang_id_col
    from ophidia_io_server_spark.pin import pinned
    from ophidia_io_server_spark.sources.tables import spread

    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    # r13 opt: same spread + cell-table pin as the confusion sibling —
    # cm feeds THREE consumers (totals + both marginals), each otherwise
    # re-running the corpus lang_id scan single-task.
    pl = (spread(docs).where(F.col("text").isNotNull())
          .select(F.col("lang").alias("truth"),
                  lang_id_col(F.col("text")).alias("pred")))
    cm = pinned(pl.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")),
        "confusion matrix: totals + 2 marginals")
    m = cm.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("truth") == F.col("pred"), F.col("n"))
              .otherwise(0)).cast("bigint").alias("agree"))
    t = cm.groupBy(F.col("truth").alias("class")).agg(
        F.sum("n").alias("n_true"))
    p = cm.groupBy(F.col("pred").alias("class")).agg(
        F.sum("n").alias("n_pred"))
    pe = (t.join(p, "class")
          .agg(F.sum(F.col("n_true").cast(dec) * F.col("n_pred"))
               .alias("chance")))
    nn = F.col("nn").cast(dec)
    return (m.crossJoin(F.broadcast(pe))  # two single-row frames
            .select(F.col("nn").alias("n_docs"),
                    F.col("agree").alias("n_agree"),
                    F.round(F.col("agree").cast("double") / F.col("nn"), 6)
                    .alias("accuracy"),
                    F.round((nn * F.col("agree") - F.col("chance"))
                            .cast("double")
                            / (nn * nn - F.col("chance")).cast("double"),
                            6).alias("kappa")))


@workload(
    "token_dispersion_index",
    oracle="""
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM toks),
    tc AS (
      SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY 1, 2
    ),
    s AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS sc,
             SUM(CAST(c AS HUGEINT) * c) AS scc,
             CAST(COUNT(*) AS BIGINT) AS n_docs_with
      FROM tc GROUP BY 1
    )
    SELECT token, sc AS total_count, n_docs_with,
           ROUND(CAST(d * scc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                 / (CAST(d AS DOUBLE) * sc), 6) AS vmr
    FROM s, nd
    WHERE sc >= 100
    ORDER BY CAST(d * scc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
             / (CAST(d AS DOUBLE) * sc) DESC, token
    LIMIT 20
    """,
)
def token_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 OVERDISPERSED tokens by variance-to-mean ratio of their
    per-document counts (zeros included): VMR = (D·Σc² − (Σc)²)/(D·Σc)
    over all D docs — the burstiness screen a curation pipeline uses to
    find template/boilerplate tokens (a token uniformly spread has
    VMR ≈ 1, Poisson; a token slammed into few docs has VMR ≫ 1).
    Zero-count docs enter exactly via the algebra (Σ(c−μ)² = Σc² − Dμ²
    needs only the nonzero cells), so nothing materializes a dense
    doc × token matrix.

    Exactness: VMR is ONE IEEE expression over exact DECIMAL(38,0)
    sums (budget: D·Σc² ≤ 1e13·1e13·256² ≈ 1e31 with the usual per-doc
    count ceiling); min-support Σc ≥ 100 and the (vmr DESC, token)
    total order make the top-20 cut engine-independent (identical IEEE
    expression → identical doubles → identical order).

    Scale: one (doc, token) count (partial-aggregatable), one
    token-keyed collapse, TakeOrderedAndProject top-20 — never a global
    sort."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    nd = toks.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    tc = (toks.select("doc_id", F.explode("tk").alias("token"))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    s = tc.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("scc"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs_with"))
    vmr = ((F.col("d").cast(dec) * F.col("scc")
            - F.col("sc").cast(dec) * F.col("sc")).cast("double")
           / (F.col("d").cast("double") * F.col("sc")))
    return (s.crossJoin(F.broadcast(nd))  # single-row doc total
            .where(F.col("sc") >= 100)
            .withColumn("vmr", vmr)
            .orderBy(F.desc("vmr"), F.asc("token")).limit(20)
            .select("token", F.col("sc").alias("total_count"),
                    "n_docs_with", F.round(F.col("vmr"), 6).alias("vmr")))


@workload(
    "doc_ngram_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    ev AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' '))) AS gs
      FROM toks WHERE source = 'src0' AND len(tk) >= 8
    ),
    eg AS (SELECT doc_id, unnest(gs) AS g FROM ev),
    tg AS (
      SELECT DISTINCT array_to_string(tk[i:i+7], ' ') AS g
      FROM (SELECT tk, unnest(range(1, len(tk) - 6)) AS i
            FROM toks WHERE source <> 'src0' AND len(tk) >= 8)
    )
    SELECT eg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           ROUND(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS contamination
    FROM eg LEFT JOIN tg ON tg.g = eg.g
    GROUP BY 1
    """,
)
def doc_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval CONTAMINATION screen (the decontamination primitive
    every LLM data pipeline runs before publishing an eval set — the
    GPT-3 appendix-C / Dodge et al. C4 methodology): treating source
    'src0' as the held-out eval set, for each eval doc the fraction of
    its DISTINCT token 8-grams that appear anywhere in the training
    corpus (every other source).  8 is the standard contamination gram
    size (long enough that chance collisions vanish, short enough to
    catch paraphrase-free leakage).

    Exactness: pure integer counting — distinct 8-grams per eval doc,
    one distinct projection of train grams, a left semi-ish join, one
    ratio rounded 6.

    Scale: eval-gram rows ≈ Σ|eval doc| (distinct-collapsed per doc
    IN-ROW first, so the explode emits each doc's gram set once); train
    grams distinct-collapse partial-aggregatably before the join; the
    gram equi-join is the only data-sized shuffle (no forced broadcast
    — a web-scale train gram table is NOT broadcastable, r9 verdict
    #2).  At 100 TB one would MinHash-prefilter candidate docs first;
    the exact join here IS the oracle-grade reference the sketch would
    be certified against."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    toks = docs.select("doc_id", "source",
                       tokens_col(F.col("text")).alias("tk"))
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("tk") - 7),
        lambda i: F.concat_ws(" ", F.slice("tk", i, 8))))
    ev = (toks.where((F.col("source") == "src0") & (F.size("tk") >= 8))
          .select("doc_id", grams.alias("gs")))
    eg = ev.select("doc_id", F.explode("gs").alias("g"))
    tg = (toks.where((F.col("source") != "src0") & (F.size("tk") >= 8))
          .select(F.explode(F.transform(
              F.sequence(F.lit(1), F.size("tk") - 7),
              lambda i: F.concat_ws(" ", F.slice("tk", i, 8))))
              .alias("g"))
          .distinct()
          .withColumn("hit", F.lit(1)))
    j = eg.join(tg, "g", "left")
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint")
                 .alias("n_contaminated"))
            .select("doc_id", "n_grams", "n_contaminated",
                    F.round(F.col("n_contaminated") * 1.0
                            / F.col("n_grams"), 6)
                    .alias("contamination")))


@workload(
    "embedding_outlier_topk",
    oracle="""
    WITH g AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT)) AS qv
      FROM embeddings
    ),
    cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
    c AS (
      SELECT (SELECT n FROM cn) AS n,
             list(CAST(sv AS HUGEINT) ORDER BY dim) AS s
      FROM (SELECT dim, SUM(qv[dim]) AS sv
            FROM g, UNNEST(range(1, 65)) AS t(dim) GROUP BY dim)
    ),
    d AS (
      SELECT vec_id, label,
             list_aggregate(list_transform(range(1, 65),
               i -> (CAST(c.n AS HUGEINT) * qv[i] - c.s[i])
                    * (CAST(c.n AS HUGEINT) * qv[i] - c.s[i])), 'sum')
               AS num,
             c.n AS n
      FROM g, c
    )
    SELECT vec_id, label,
           ROUND(CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n) / 1000000000000.0, 6)
             AS dist2
    FROM d
    ORDER BY num DESC, vec_id LIMIT 20
    """,
)
def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding OUTLIERS by squared Euclidean distance from the
    corpus centroid — the cheap first-pass anomaly screen an embedding
    pipeline runs before clustering (mislabeled / corrupted / off-
    distribution vectors sit far from the mean).  Uses the repo's
    integer-grid discipline (``embedding_kmeans_semdedup``): coords
    quantize to the 1e-6 grid, the centroid stays an EXACT rational
    (Σqv, n), and ‖n·qv − s‖² is an exact DECIMAL integer — so the
    top-20 ORDER is decided on exact integers (never on accumulated
    floats), with vec_id as the deterministic tie-break; only the
    reported dist2 (de-quantized back to coordinate units) is one IEEE
    division, rounded 6.

    Digit budget: (n·qv)² ≤ (1e12·1e6·grid)² … per-dim terms reach
    ~1e36 at a trillion vectors — inside DECIMAL(38,0) with the 64-dim
    sum bounded by the same order (documented, same class as the
    k-means Gram budget).

    Scale: one partial-aggregatable per-dim centroid sum (64 numbers),
    one broadcast-sized scalar frame joined back, one
    TakeOrderedAndProject top-20 keyed on the exact integer distance."""
    dec = "decimal(38,0)"
    emb = load_table(spark, sf_dir, "embeddings")
    g = emb.select(
        "vec_id", "label",
        F.transform(F.col("embedding"),
                    lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5)
                    .cast("bigint")).alias("qv"))
    dims = list(range(64))
    c = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.array(*[F.sum(F.element_at("qv", i + 1).cast(dec)).cast(dec)
                  for i in dims]).alias("s"))
    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.col("n").cast(dec)
                       * F.element_at("qv", (i + 1).cast("int")).cast(dec)
                       - F.element_at("s", (i + 1).cast("int")))
            * (F.col("n").cast(dec)
               * F.element_at("qv", (i + 1).cast("int")).cast(dec)
               - F.element_at("s", (i + 1).cast("int")))),
        F.lit(0).cast(dec), lambda a, x: (a + x).cast(dec))
    d = (g.crossJoin(F.broadcast(c))  # single-row centroid frame
         .select("vec_id", "label", num.alias("num"),
                 F.col("n").alias("n")))
    return (d.orderBy(F.desc("num"), F.asc("vec_id")).limit(20)
            .select("vec_id", "label",
                    F.round(F.col("num").cast("double")
                            / (F.col("n").cast("double") * F.col("n"))
                            / 1.0e12, 6).alias("dist2")))


@workload(
    "token_keyness_loglr",
    oracle="""
    WITH toks AS (SELECT source, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS tk
                  FROM documents WHERE text IS NOT NULL),
    tc AS (
      SELECT t AS token,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM (SELECT source, unnest(tk) AS t FROM toks) GROUP BY 1
    ),
    nt AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                  CAST(SUM(b) AS BIGINT) AS nb FROM tc),
    g AS (
      SELECT token, a, b,
             2 * (CASE WHEN a > 0
                       THEN a * ln(CAST(a AS DOUBLE) * (na + nb)
                                   / (CAST(na AS DOUBLE) * (a + b)))
                       ELSE 0.0 END
                  + CASE WHEN b > 0
                         THEN b * ln(CAST(b AS DOUBLE) * (na + nb)
                                     / (CAST(nb AS DOUBLE) * (a + b)))
                         ELSE 0.0 END) AS g2,
             CASE WHEN CAST(a AS HUGEINT) * nb > CAST(b AS HUGEINT) * na
                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END
               AS keyness_sign
      FROM tc, nt WHERE a + b >= 20
    )
    SELECT token, a AS count_target, b AS count_reference,
           keyness_sign, ROUND(g2, 6) AS g2
    FROM g ORDER BY g2 DESC, token LIMIT 20
    """,
)
def token_keyness_loglr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness by Dunning's log-likelihood ratio (Dunning 1993): the
    top-20 tokens whose frequency in the target corpus (source 'src0')
    most significantly differs from the reference corpus (every other
    source) — G² = 2·Σ O·ln(O/E) over the 2×2 contingency per token,
    the standard corpus-linguistics "what is distinctive about this
    source" screen (more robust than chi² in the small-count tail),
    with the sign of the rate difference decided by EXACT integer
    cross-multiplication (a·N_b vs b·N_a — no float decides direction).

    Float discipline: each token's G² is one IEEE expression over five
    exact integers (identical text both engines → identical doubles →
    the (g2 DESC, token) top-20 cut is engine-independent); the 0·ln0
    limit enters by the same integer predicate both sides; min support
    a+b ≥ 20.

    Scale: one token-keyed conditional count (partial-aggregatable),
    one two-number total, TakeOrderedAndProject top-20."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    tc = (docs.select("source", F.explode(tokens_col(F.col("text")))
                      .alias("token"))
          .groupBy("token")
          .agg(F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
               .cast("bigint").alias("a"),
               F.sum(F.when(F.col("source") != "src0", 1).otherwise(0))
               .cast("bigint").alias("b")))
    nt = tc.agg(F.sum("a").cast("bigint").alias("na"),
                F.sum("b").cast("bigint").alias("nb"))
    a, b = F.col("a"), F.col("b")
    na, nb = F.col("na"), F.col("nb")
    g2 = 2 * (
        F.when(a > 0,
               a * F.log(a.cast("double") * (na + nb)
                         / (na.cast("double") * (a + b))))
        .otherwise(0.0)
        + F.when(b > 0,
                 b * F.log(b.cast("double") * (na + nb)
                           / (nb.cast("double") * (a + b))))
        .otherwise(0.0))
    dec = "decimal(38,0)"
    sign = F.when(a.cast(dec) * nb > b.cast(dec) * na,
                  F.lit(1)).otherwise(F.lit(-1)).cast("bigint")
    return (tc.crossJoin(F.broadcast(nt))  # single-row totals
            .where(a + b >= 20)
            .withColumn("g2x", g2)
            .orderBy(F.desc("g2x"), F.asc("token")).limit(20)
            .select("token", a.alias("count_target"),
                    b.alias("count_reference"),
                    sign.alias("keyness_sign"),
                    F.round(F.col("g2x"), 6).alias("g2")))


@workload(
    "doc_score_auc",
    oracle="""
    WITH b AS (
      SELECT n_chars AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ),
    c AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS cnt_pos
      FROM b GROUP BY 1
    ),
    cum AS (SELECT v, cnt, cnt_pos,
                   SUM(cnt) OVER (ORDER BY v) AS cum
            FROM c),
    agg AS (
      SELECT CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
             SUM(CAST(cnt_pos AS HUGEINT)
                 * (2 * CAST(cum AS HUGEINT) - cnt + 1)) AS r2
      FROM cum
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                      AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
    FROM agg
    """,
)
def doc_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a ranking score against a binary label — the
    classifier-evaluation primitive next to the confusion/kappa rows
    (``doc_lang_confusion``): here the document LENGTH score ranked
    against the lang='en' label (the quality-classifier calibration
    question "does my cheap score separate the target class").  Uses
    the AUC ≡ Mann-Whitney identity: AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺·n⁻)
    with TIE-AVERAGED ranks, so the whole statistic reduces over the
    distinct-score CDF exactly like ``events_mannwhitney_utest`` —
    ranks never materialize per row, the doubled rank sum
    Σ cnt_pos·(2·cum − cnt + 1) is an exact DECIMAL(38,0) integer, and
    AUC is ONE IEEE expression over casts of exact integers (digit
    budget 2·n⁺·n ≤ 10^38 → ~10^18 docs).

    Scale: one distinct-score collapse (partial-aggregatable), the
    two-phase distributed prefix sum over the score grid, one fused
    scalar aggregate — no windows over data-sized frames, no per-row
    ranks."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    dec = "decimal(38,0)"
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull()
                   & F.col("n_chars").isNotNull()))
    c = (docs.select(F.col("n_chars").alias("v"),
                     F.when(F.col("lang") == "en", 1).otherwise(0)
                     .alias("pos"))
         .groupBy("v")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
              F.sum("pos").cast("bigint").alias("cnt_pos")))
    cum = global_prefix_sum(c, ["v"], "cnt")
    cnt, cnt_pos = F.col("cnt").cast(dec), F.col("cnt_pos").cast(dec)
    agg = cum.agg(
        F.sum("cnt_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cnt_pos")).cast("bigint")
        .alias("n_neg"),
        F.sum(cnt_pos * (2 * F.col("cum").cast(dec) - cnt + 1))
        .alias("r2"))
    n_pos = F.col("n_pos")
    return agg.select(
        "n_pos", "n_neg",
        F.round((F.col("r2") - n_pos.cast(dec) * (n_pos + 1))
                .cast("double")
                / (2.0 * n_pos.cast("double") * F.col("n_neg")), 6)
        .alias("auc"))


@workload(
    "doc_length_calibration",
    oracle="""
    WITH b AS (
      SELECT least(n_chars // 50, 9) AS bin,
             least(n_chars, 500) AS sp,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ),
    g AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(sp) AS BIGINT) AS sp
      FROM b GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
                 CAST(SUM(ABS(sp - 500 * n_pos)) AS BIGINT) AS enum_
          FROM g)
    SELECT CAST(g.bin AS BIGINT) AS bin, g.n, g.n_pos,
           ROUND(CAST(g.sp AS DOUBLE) / (500.0 * g.n), 6) AS mean_pred,
           ROUND(CAST(g.n_pos AS DOUBLE) / g.n, 6) AS frac_pos,
           ROUND(CAST(t.enum_ AS DOUBLE) / (500.0 * t.nt), 6) AS ece
    FROM g, t
    """,
)
def doc_length_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table + Expected Calibration Error for
    a deterministic score treated as a probability — the companion of
    ``doc_score_auc`` (AUC measures ranking, ECE measures probability
    QUALITY; a production quality classifier needs both): predicted
    p = min(n_chars, 500)/500 against the lang='en' label, ten
    equal-width probability bins.

    The integer-exactness trick: the per-bin calibration gap times the
    bin count collapses to |Σ min(n_chars,500) − 500·n_pos| / 500 — an
    EXACT integer absolute value — so ECE = Σ|sp_b − 500·n_pos_b| /
    (500·N) needs no float accumulation at all: one order-free integer
    sum, one final IEEE division.  mean_pred and frac_pos are single
    IEEE divisions of exact integers, rounded 6.

    Scale: one 10-cell partial-aggregatable collapse; everything after
    is cell-table math with a broadcast single-row total."""
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull()
                   & F.col("n_chars").isNotNull()))
    g = (docs.select(
            # floor division BEFORE the clamp, mirroring the oracle's
            # `n_chars // 50` structurally (r11 advice: float-divide +
            # bigint cast truncates toward zero — agreement with floor
            # was coincidental on non-negative, exactly-representable
            # quotients)
            F.least(F.floor(F.col("n_chars") / F.lit(50)),
                    F.lit(9).cast("bigint")).cast("bigint").alias("bin"),
            F.least(F.col("n_chars"), F.lit(500)).alias("sp"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"))
         .groupBy("bin")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("pos").cast("bigint").alias("n_pos"),
              F.sum("sp").cast("bigint").alias("sp")))
    t = g.agg(F.sum("n").cast("bigint").alias("nt"),
              F.sum(F.abs(F.col("sp") - 500 * F.col("n_pos")))
              .cast("bigint").alias("enum_"))
    return (g.crossJoin(F.broadcast(t))  # single-row total frame
            .select("bin", "n", "n_pos",
                    F.round(F.col("sp").cast("double")
                            / (500.0 * F.col("n")), 6).alias("mean_pred"),
                    F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
                    .alias("frac_pos"),
                    F.round(F.col("enum_").cast("double")
                            / (500.0 * F.col("nt")), 6).alias("ece")))


@workload(
    "doc_novelty_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    dg AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')))) AS g
      FROM toks WHERE len(tk) >= 8
    ),
    fo AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g)
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN fo.first_doc = dg.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN fo.first_doc = dg.doc_id
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS novelty
    FROM dg JOIN fo ON fo.g = dg.g
    GROUP BY 1
    """,
)
def doc_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram NOVELTY — the fraction of a doc's distinct
    token 8-grams whose FIRST occurrence (minimum doc_id over the whole
    corpus) is this document.  The streaming-ingest question "how much
    genuinely new text does each document add" (low-novelty docs are
    near-duplicates or boilerplate; the per-doc novelty histogram is the
    standard corpus-freshness curve next to the ExactSubstr family).

    Exactness: pure integer counting — distinct grams per doc (in-row),
    a gram-keyed MIN attribution, one ratio rounded 6.  First-occurrence
    by doc_id is a deterministic total order, not arrival order.

    Scale: gram rows ≈ Σ|doc| after in-row distinct; the MIN collapse is
    partial-aggregatable; the attribution join is the one data-sized
    equi-join (same class as ``doc_ngram_contamination``'s, no forced
    broadcast)."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    from ophidia_io_server_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()))
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("tk") - 7),
        lambda i: F.concat_ws(" ", F.slice("tk", i, 8))))
    # r13 note: the gram-keyed join below looks like a second shuffle of
    # the gram table, but AQE reuses dg's exchange for BOTH the min
    # aggregate and the join (same key, same partitioning) — an A/B of a
    # join-free two-aggregate restructure measured SLOWER (2.45 vs
    # 1.63 s) because it generates the gram arrays twice.  The only
    # change kept is the spread scan (the 8-gram generation ran on one
    # task; 2.5 → 1.6 s total).
    dg = (toks.where(F.size("tk") >= 8)
          .select("doc_id", F.explode(grams).alias("g")))
    fo = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (dg.join(fo, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                       .otherwise(0)).cast("bigint").alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.round(F.col("n_novel") * 1.0 / F.col("n_grams"), 6)
                    .alias("novelty")))


@workload(
    "embedding_silhouette_topk",
    oracle="""
    WITH g AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT)) AS qv
      FROM embeddings
    ),
    cl AS (
      SELECT sl.label AS clabel, nl.n_l, sl.s
      FROM (SELECT label, list(CAST(sv AS HUGEINT) ORDER BY dim) AS s
            FROM (SELECT label, dim, SUM(qv[dim]) AS sv
                  FROM g, UNNEST(range(1, 65)) AS t(dim)
                  GROUP BY label, dim)
            GROUP BY label) sl
      JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l
            FROM g GROUP BY label) nl USING (label)
    ),
    d AS (
      SELECT g.vec_id, g.label, cl.clabel, cl.n_l,
             list_aggregate(list_transform(range(1, 65),
               i -> (CAST(cl.n_l AS HUGEINT) * qv[i] - cl.s[i])
                    * (CAST(cl.n_l AS HUGEINT) * qv[i] - cl.s[i])),
               'sum') AS num
      FROM g CROSS JOIN cl
    ),
    dd AS (
      SELECT vec_id, label, clabel,
             sqrt(CAST(num AS DOUBLE)
                  / (CAST(n_l AS DOUBLE) * n_l) / 1000000000000.0)
               AS dist
      FROM d
    ),
    own AS (SELECT vec_id, dist AS a FROM dd WHERE clabel = label),
    oth AS (
      SELECT vec_id, clabel AS neighbor_label, dist AS b
      FROM (SELECT vec_id, clabel, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, clabel) AS rn
            FROM dd WHERE clabel <> label)
      WHERE rn = 1
    )
    SELECT dd.vec_id, CAST(dd.label AS INTEGER) AS label,
           CAST(oth.neighbor_label AS INTEGER) AS neighbor_label,
           ROUND((oth.b - own.a) / greatest(own.a, oth.b), 6)
             AS silhouette
    FROM (SELECT DISTINCT vec_id, label FROM dd) dd
    JOIN own USING (vec_id) JOIN oth USING (vec_id)
    ORDER BY (oth.b - own.a) / greatest(own.a, oth.b), dd.vec_id
    LIMIT 20
    """,
)
def embedding_silhouette_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) SILHOUETTE — the 20 most misplaced
    vectors: s = (b − a)/max(a, b) with a = distance to the OWN label
    centroid and b = distance to the nearest OTHER centroid
    (Rousseeuw 1987's simplified variant, the standard cluster-quality
    screen; s < 0 means the vector sits closer to a foreign centroid —
    the label-noise candidates an embedding pipeline reviews first).

    Integer-grid discipline (``embedding_outlier_topk``): coords
    quantize to 1e-6, each label centroid stays the exact rational
    (Σqv_l, n_l), and ‖n_l·qv − s_l‖² is an exact DECIMAL integer per
    (vector, label); dist, the nearest-other argmin (tie-break by
    label), s, and the (s, vec_id) top-20 order are all computed from
    those exact integers by IDENTICAL IEEE expression chains in both
    engines.

    Scale: one per-label centroid collapse (|L|·64 numbers), a
    broadcast |L|-row centroid frame joined to every vector (scan-
    shaped, ×|L| work per row), TakeOrderedAndProject top-20 — no
    pairwise distances, no data-sized shuffle beyond the scan."""
    dec = "decimal(38,0)"
    from ophidia_io_server_spark.sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    g = emb.select(
        "vec_id", "label",
        F.transform(F.col("embedding"),
                    lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5)
                    .cast("bigint")).alias("qv"))
    dims = list(range(64))
    cl = (g.groupBy(F.col("label").alias("clabel"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_l"),
               F.array(*[F.sum(F.element_at("qv", i + 1).cast(dec))
                         .cast(dec) for i in dims]).alias("s")))
    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.col("n_l").cast(dec)
                       * F.element_at("qv", (i + 1).cast("int")).cast(dec)
                       - F.element_at("s", (i + 1).cast("int")))
            * (F.col("n_l").cast(dec)
               * F.element_at("qv", (i + 1).cast("int")).cast(dec)
               - F.element_at("s", (i + 1).cast("int")))),
        F.lit(0).cast(dec), lambda a, x: (a + x).cast(dec))
    dd = (g.crossJoin(F.broadcast(cl))  # |labels|-row centroid frame
          .select("vec_id", "label", "clabel",
                  F.sqrt(num.cast("double")
                         / (F.col("n_l").cast("double") * F.col("n_l"))
                         / 1.0e12).alias("dist")))
    # r13 opt (guide §2.4): the old shape consumed dd THREE ways (own-
    # label filter, a per-vec row_number window over the other labels,
    # and a re-join against g) — the ×|L| DECIMAL distance fold ran
    # twice and the window added an exchange + sort.  Both reductions
    # are per-(vec) aggregates of dd, so ONE groupBy computes them in
    # the same scan: a = the own-label distance (exactly one such row
    # per vector), b/neighbor = min over the (dist, clabel) struct —
    # lexicographic struct ordering IS the window's (dist, clabel)
    # tie-break.  The null guard reproduces the old inner join (a
    # single-label corpus has no other-centroid row).  Same 20 rows.
    agg = (dd.groupBy("vec_id", "label")
           .agg(F.max(F.when(F.col("clabel") == F.col("label"),
                             F.col("dist"))).alias("a"),
                F.min(F.when(F.col("clabel") != F.col("label"),
                             F.struct(F.col("dist"), F.col("clabel"))))
                .alias("mb")))
    base = (agg.where(F.col("mb").isNotNull())
            .select("vec_id", "label", "a",
                    F.col("mb.clabel").alias("neighbor_label"),
                    F.col("mb.dist").alias("b")))
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (base.withColumn("s_raw", s)
            .orderBy(F.asc("s_raw"), F.asc("vec_id")).limit(20)
            .select("vec_id", "label", "neighbor_label",
                    F.round(F.col("s_raw"), 6).alias("silhouette")))


@workload(
    "doc_perplexity_unigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    tc AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1
    ),
    nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc),
    dt AS (
      SELECT doc_id, pos, tk[pos] AS token
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos
            FROM toks WHERE len(tk) >= 1)
    ),
    terms AS (
      SELECT dt.doc_id, dt.pos,
             ln(CAST(tc.c AS DOUBLE) / nt.n) AS lp
      FROM dt JOIN tc USING (token) CROSS JOIN nt
    ),
    folded AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
                         (a, x) -> a + x) AS s
      FROM terms GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           ROUND(-s / n_tokens, 6) AS cross_entropy,
           ROUND(exp(-s / n_tokens), 6) AS perplexity
    FROM folded
    """,
)
def doc_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy / perplexity under the corpus UNIGRAM
    LM (maximum-likelihood, no smoothing needed — every doc token is by
    construction in the corpus vocabulary): the classic cheap LM-score
    quality filter (CCNet/Gopher-style "perplexity against a reference
    LM" — here the reference is the corpus itself, so outliers are docs
    whose token distribution is atypical: boilerplate, gibberish, or
    off-domain).  H(doc) = −(1/n)·Σᵢ ln(c_tᵢ/N), PPL = exp(H).

    Float discipline: each token's ln(c/N) is ONE IEEE expression over
    two exact integers (identical in both engines), and the per-doc sum
    is a seeded LEFT FOLD in TOKEN-POSITION order (`F.aggregate` <->
    `list_reduce` over `ORDER BY pos`) — the transcendental-sum rule:
    never a bare SUM of logs, whose accumulation order is
    engine-dependent.  The fold is in-row (bounded by DOC LENGTH, not
    the corpus).

    Scale: one token-count collapse (partial-aggregatable), one
    token-keyed equi-join back to positions (the corpus-sized shuffle;
    no forced broadcast — a web-scale vocabulary is not broadcastable),
    one per-doc collapse.  exp/ln at the end are single calls on
    already-reduced scalars."""
    from ophidia_io_server_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    tc = (toks.select(F.explode("tk").alias("token"))
          .groupBy("token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    nt = tc.agg(F.sum("c").cast("bigint").alias("n"))
    dt = (toks.where(F.size("tk") >= 1)
          .select("doc_id", F.posexplode("tk").alias("pos0", "token"))
          .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token"))
    terms = (dt.join(tc, "token")
             .crossJoin(F.broadcast(nt))  # single-row corpus total
             .select("doc_id", "pos",
                     F.log(F.col("c").cast("double") / F.col("n"))
                     .alias("lp")))
    folded = (terms.groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                   F.aggregate(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct(F.col("pos"), F.col("lp")))),
                           lambda s: s["lp"]),
                       F.lit(0.0), lambda a, x: a + x).alias("s")))
    h = -F.col("s") / F.col("n_tokens")
    return folded.select("doc_id", "n_tokens",
                         F.round(h, 6).alias("cross_entropy"),
                         F.round(F.exp(h), 6).alias("perplexity"))
