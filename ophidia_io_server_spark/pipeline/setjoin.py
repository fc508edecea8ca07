"""Exact set-similarity join via PREFIX FILTERING — the deterministic
sibling of the MinHash/SimHash probabilistic candidate generators.

Principle (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo/Ma/Srikant WWW'07
"ScalingUp All-Pairs"; Xiao et al. WWW'08 PPJoin): order every set's
tokens by a single GLOBAL canonical order (corpus frequency ascending,
token ascending — rarest first).  Two sets with Jaccard ≥ τ must share
at least one token inside each other's first ``|s| − ⌈τ·|s|⌉ + 1``
tokens of that order (else the overlap bound ``|a∩b| ≥ ⌈τ/(1+τ)·(|a|+
|b|)⌉`` is violated).  So: index only the prefixes, equi-join on prefix
token, length-filter ``τ·|a| ≤ |b|``, verify candidates with the exact
intersection — every emitted pair carries its TRUE Jaccard, and recall
is exactly 1.0 by construction (no banding probability).

Scale shape: prefix rows ≈ (1−τ)·Σ|s| — a fraction of the token table;
the equi-join shuffles on prefix token with the frequency order making
the heaviest tokens the LEAST likely to be in prefixes (rarest-first is
the skew defense); verification joins candidates back to the token
table (pair-bounded).  No all-pairs stage anywhere.

Reference parity note: the reference engine has no set-similarity join
at all (its dialect is fragment select/join — oph_io_server_query.c);
this module is beyond-reference mandate (training-data dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.pin import pinned


def _token_prefixes(docs: DataFrame, threshold: float, text_col: str,
                    id_col: str) -> tuple[DataFrame, DataFrame]:
    """``(tk, pref)``: the pinned distinct-token table ``(doc_id, token)``
    and its prefix rows ``(doc_id, token, m)`` — each doc's first
    ``|s| − ⌈τ·|s|⌉ + 1`` tokens in the global rarest-first order, with
    ``m = |s|``."""
    if not (0 < threshold <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    tk = (docs.where(F.col(text_col).isNotNull())
          .select(F.col(id_col).alias("doc_id"),
                  F.explode(F.array_distinct(
                      F.filter(F.split(F.col(text_col), " "),
                               lambda w: w != ""))).alias("token")))
    # one token table, three consumers (freq agg, prefix build, verify)
    tk = pinned(tk, "setjoin token table: freq agg + prefix + verify")

    freq = tk.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # global canonical order: rarest first, ties lexical — a total order,
    # so every engine/partitioning derives the identical prefix.
    # NO broadcast hint on freq (r9 verdict #2): token-vocabulary
    # cardinality grows with the corpus (web scale exceeds 10^9 distinct
    # tokens), so a forced broadcast is an OOM at 100 TB; the shuffle
    # join on token is the scale-safe default and AQE still promotes it
    # to broadcast at runtime whenever the table actually fits.
    ordered = (tk.join(freq, "token")
               .withColumn("m", F.count(F.lit(1)).over(
                   Window.partitionBy("doc_id")))
               .withColumn("r", F.row_number().over(
                   Window.partitionBy("doc_id")
                   .orderBy(F.col("cnt").asc(), F.col("token").asc()))))
    # prefix length |s| - ceil(tau*|s|) + 1
    pref = ordered.where(
        F.col("r") <= F.col("m") - F.ceil(F.lit(threshold) * F.col("m"))
        + 1)
    return tk, pref


def _verified_overlaps(cand: DataFrame,
                       tk: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(ov, sz)``: every candidate ``(doc_a, doc_b)`` pair with its exact
    intersection size ``c = |a∩b|``, verified against the token table, and
    ``ma = |a|``; plus the per-doc set sizes ``(doc_id, m)``."""
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
    ta = tk.select(F.col("doc_id").alias("doc_a"), "token")
    tb = tk.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (cand.join(ta, "doc_a").join(tb, ["doc_b", "token"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    ov = inter.join(sz.select(F.col("doc_id").alias("doc_a"),
                              F.col("m").alias("ma")), "doc_a")
    return ov, sz


def prefix_jaccard_pairs(docs: DataFrame, threshold: float,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """All unordered (doc_a, doc_b, jaccard) pairs of distinct-token SETS
    with Jaccard ≥ ``threshold`` — exact, via prefix filtering.

    Jaccard is over DISTINCT whitespace tokens (set semantics, unlike the
    shingle-multiset operators).  Docs with zero tokens never pair."""
    tk, pref = _token_prefixes(docs, threshold, text_col, id_col)
    a = pref.select(F.col("doc_id").alias("doc_a"), "token",
                    F.col("m").alias("ma"))
    b = pref.select(F.col("doc_id").alias("doc_b"), "token",
                    F.col("m").alias("mb"))
    cand = (a.join(b, "token")
            .where((F.col("doc_a") < F.col("doc_b"))
                   # length filter: tau*|a| <= |b| <= |a|/tau
                   & (F.col("mb") * F.lit(threshold) <= F.col("ma"))
                   & (F.col("ma") * F.lit(threshold) <= F.col("mb")))
            .select("doc_a", "doc_b").distinct())

    ov, sz = _verified_overlaps(cand, tk)
    return (ov
            .join(sz.select(F.col("doc_id").alias("doc_b"),
                            F.col("m").alias("mb")), "doc_b")
            .withColumn("jaccard",
                        F.col("c") / (F.col("ma") + F.col("mb")
                                      - F.col("c")))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")))


def containment_pairs(docs: DataFrame, threshold: float,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """All DIRECTED (doc_a, doc_b, containment) pairs with set containment
    ``C(a→b) = |a∩b| / |a| ≥ threshold`` (a ≠ b) — exact, via the
    asymmetric prefix filter.  Containment is the asymmetric near-dup
    relation Jaccard misses: a short doc fully embedded in a long one
    scores containment 1.0 but Jaccard |a|/|b| → 0.

    Filter principle (the overlap-constraint form of Chaudhuri ICDE'06):
    the pair needs ``|a∩b| ≥ ⌈τ·|a|⌉`` tokens in common, so if none of
    a's first ``|a| − ⌈τ·|a|⌉ + 1`` tokens (in the global rarest-first
    canonical order) appears ANYWHERE in b, the bound is already
    violated — index a's prefixes against b's FULL token list (unlike
    the symmetric Jaccard join, which prefixes both sides; containment
    puts no lower bound on |b|, so b cannot be prefix-pruned).  Recall
    is 1.0 by construction; every candidate is exact-verified.

    Scale shape: prefix rows ≈ (1−τ)·Σ|s| on the a side; the b side
    indexes all tokens, so the equi-join's skew defense is ONLY the
    rarest-first prefix order on a (documented asymmetry — the heaviest
    tokens still enter b's index; a hot token is b-side fan-out).  No
    all-pairs stage; verification is candidate-bounded."""
    tk, pref = _token_prefixes(docs, threshold, text_col, id_col)
    a = pref.select(F.col("doc_id").alias("doc_a"), "token",
                    F.col("m").alias("ma"))
    b = tk.select(F.col("doc_id").alias("doc_b"), "token")
    cand = (a.join(b, "token")
            .where(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())

    ov, _ = _verified_overlaps(cand, tk)
    return (ov
            .withColumn("containment", F.col("c") / F.col("ma"))
            .where(F.col("containment") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("containment", 6).alias("containment")))
