"""Wider §2.9 primitive coverage (gsl stats, shape ops, codecs, expand) + the r8 classic-OLAP/linkage wave (skylines, PassJoin, entity resolution, SCD2, gap-fill, audit, attribution, funnels).

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import (
    exact_cents_sum,
    lineitem_fragment_cached,
    load_table,
    local_frame,
    table_ident,
)

from ophidia_io_server_spark.workloads.docs import _EMB_BASE_CTE, _SHINGLE_CTE
from ophidia_io_server_spark.workloads.base import (
    _FRAG_BOTH_CTE,
    _FRAG_QTY_CTE,
    _server,
    staged_docs_twice,
    workload,
)


# ---------------------------------------------------------------------------
# Wider §2.9 primitive coverage (gsl stats, shape ops, codecs, expand)
# ---------------------------------------------------------------------------


@workload(
    "gsl_stats_fit",
    oracle=f"""
    {_FRAG_BOTH_CTE},
    base AS (
      SELECT a.id_dim AS id_dim, a.measure AS m, b.measure AS m2,
             CAST(len(a.measure) AS DOUBLE) AS n
      FROM frag_qty a JOIN frag_price b ON a.id_dim = b.id_dim
      WHERE a.id_dim <= 400 AND len(a.measure) >= 2
    ),
    t AS (
      SELECT *,
             n * (n - 1) / 2 AS sx,
             (n - 1) * n * (2 * n - 1) / 6 AS sxx,
             list_aggregate(m, 'sum') AS sy,
             list_aggregate(list_transform(range(1, CAST(n AS BIGINT) + 1),
                                           i -> m[i] * (i - 1)), 'sum') AS sxy,
             list_aggregate(m, 'min') AS lo,
             list_aggregate(m, 'max') AS hi
      FROM base
    ),
    f AS (
      SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
      FROM t
    )
    SELECT id_dim,
           [ list_aggregate(m, 'sum') / len(m),
             (list_aggregate(list_transform(m, x -> x*x), 'sum')
              - len(m) * (list_aggregate(m, 'sum') / len(m))
                       * (list_aggregate(m, 'sum') / len(m)))
             / (len(m) - 1),
             sqrt((list_aggregate(list_transform(m, x -> x*x), 'sum')
              - len(m) * (list_aggregate(m, 'sum') / len(m))
                       * (list_aggregate(m, 'sum') / len(m)))
             / (len(m) - 1)),
             list_aggregate(m, 'min'),
             list_aggregate(m, 'max'),
             list_aggregate(m, 'sum') ] AS stats,
           [(sy - slope * sx) / n, slope] AS coeff,
           list_transform(range(0, 4), b ->
             CAST(len(list_filter(m, x ->
               x >= lo + b * ((hi - lo) / 4)
               AND (CASE WHEN b = 3 THEN x <= lo + (b + 1) * ((hi - lo) / 4)
                         ELSE x < lo + (b + 1) * ((hi - lo) / 4) END)))
               AS DOUBLE)) AS hist,
           ROUND((list_aggregate(list_transform(range(1, CAST(n AS BIGINT) + 1),
                                                i -> m[i] * m2[i]), 'sum')
                  - list_aggregate(m, 'sum') * list_aggregate(m2, 'sum') / n)
                 / sqrt((list_aggregate(list_transform(m, x -> x * x), 'sum')
                         - list_aggregate(m, 'sum') * list_aggregate(m, 'sum') / n)
                        * (list_aggregate(list_transform(m2, x -> x * x), 'sum')
                           - list_aggregate(m2, 'sum') * list_aggregate(m2, 'sum') / n)),
                 6) AS corr,
           list_transform(range(0, CAST(n AS BIGINT)),
                          i -> (sy - slope * sx) / n + slope * i) AS fitted
    FROM f ORDER BY id_dim
    """,
    explode=["stats", "coeff", "hist", "fitted"],
)
def gsl_stats_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSL stats family in one select (merged r3: gsl_stats +
    gsl_fit_hist_corr): oph_gsl_stats mask '111111'
    (mean|var|sd|min|max|sum), oph_gsl_fit_linear_coeff (closed-form least
    squares, pure Column), oph_gsl_histogram (GSL bin rule: last bin closed),
    oph_gsl_correlation (Pearson across two fragments), and (r4)
    oph_gsl_fit_linear fitted values — same closed form, so the oracle is
    bitwise-exact."""
    srv = _server(spark, sf_dir, {"frag_qty": "l_quantity", "frag_price": "l_extendedprice"})
    out = srv.execute(
        "operation=select;from=frag_qty|frag_price;from_alias=a|b;"
        "field=id_dim|oph_gsl_stats(a.measure,'111111')"
        "|oph_gsl_fit_linear_coeff(a.measure)"
        "|oph_gsl_histogram(a.measure,4)"
        "|oph_gsl_correlation(a.measure,b.measure)"
        "|oph_gsl_fit_linear(a.measure);"
        "select_alias=id_dim|stats|coeff|hist|corr|fitted;"
        "where=id_dim<=400&oph_size_array(a.measure)>=2;order=id_dim"
    )
    return out.withColumn("corr", F.round("corr", 6))


@workload(
    "gsl_quantile_fft",
    oracle=f"""
    {_FRAG_QTY_CTE},
    srt AS (
      SELECT id_dim, measure, list_sort(measure) AS s, len(measure) AS n
      FROM frag_qty WHERE id_dim <= 400
    ),
    q AS (
      SELECT id_dim, measure, s, n,
             (n - 1) * 0.25 AS h1, (n - 1) * 0.5 AS h2, (n - 1) * 0.75 AS h3
      FROM srt
    )
    SELECT id_dim,
           s[CAST(floor(h2) AS BIGINT) + 1]
             + (h2 - floor(h2)) * (s[least(CAST(floor(h2) AS BIGINT) + 2, n)]
                                   - s[CAST(floor(h2) AS BIGINT) + 1]) AS median,
           [ s[1],
             s[CAST(floor(h1) AS BIGINT) + 1]
               + (h1 - floor(h1)) * (s[least(CAST(floor(h1) AS BIGINT) + 2, n)]
                                     - s[CAST(floor(h1) AS BIGINT) + 1]),
             s[CAST(floor(h2) AS BIGINT) + 1]
               + (h2 - floor(h2)) * (s[least(CAST(floor(h2) AS BIGINT) + 2, n)]
                                     - s[CAST(floor(h2) AS BIGINT) + 1]),
             s[CAST(floor(h3) AS BIGINT) + 1]
               + (h3 - floor(h3)) * (s[least(CAST(floor(h3) AS BIGINT) + 2, n)]
                                     - s[CAST(floor(h3) AS BIGINT) + 1]),
             s[n] ] AS box,
           -- naive-DFT magnitude closed form (== numpy FFT to ~1e-10; both
           -- sides round to 6dp): |X_k| = |Σ_j x_j e^(-2πi jk/n)|
           list_transform(range(0, n), k ->
             ROUND(sqrt(
               pow(list_aggregate(list_transform(range(1, n + 1),
                     j -> measure[j] * cos(2 * pi() * k * (j - 1) / n)), 'sum'), 2)
               + pow(list_aggregate(list_transform(range(1, n + 1),
                     j -> measure[j] * sin(2 * pi() * k * (j - 1) / n)), 'sum'), 2)
             ), 6)) AS spectrum,
           list_sort(measure) AS sorted_m,
           -- sd of measure||measure: doubling keeps len>=2 so the sample-sd
           -- formula is defined even for singleton arrays; mirrors the Spark
           -- fold exactly (2s/(2n) == s/n bitwise; var clamped at 0)
           sqrt(greatest(
             (2 * list_aggregate(list_transform(measure, x -> x*x), 'sum')
              - (2 * CAST(n AS DOUBLE))
                * (list_aggregate(measure, 'sum') / n)
                * (list_aggregate(measure, 'sum') / n))
             / (2 * CAST(n AS DOUBLE) - 1), 0.0)) AS sd2,
           list_transform(measure, x -> ROUND(x, 6)) AS ifft_rt
    FROM q ORDER BY id_dim
    """,
    explode=["box", "spectrum", "sorted_m", "ifft_rt"],
)
def gsl_quantile_fft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSL order-statistics + spectral surface in one select (merged r3:
    gsl_quantile_boxplot + gsl_fft): oph_gsl_quantile, oph_gsl_boxplot, and
    the magnitude spectrum |oph_gsl_fft| checked against the naive-DFT
    closed form (rounded 6dp on both engines).  Widened r4: oph_gsl_sort,
    oph_gsl_sd (over the doubled array so singleton rows stay defined) and
    the oph_gsl_ifft(oph_gsl_fft(x)) roundtrip through
    oph_gsl_complex_get_real."""
    srv = _server(spark, sf_dir)
    out = srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_gsl_quantile(measure,0.5)|oph_gsl_boxplot(measure)"
        "|oph_gsl_complex_get_abs(oph_gsl_fft(measure))"
        "|oph_gsl_sort(measure)|oph_gsl_sd(oph_concat(measure,measure))"
        "|oph_gsl_complex_get_real(oph_gsl_ifft(oph_gsl_fft(measure)));"
        "select_alias=id_dim|median|box|spectrum|sorted_m|sd2|ifft_rt;"
        "where=id_dim<=400;order=id_dim"
    )
    return (
        out.withColumn("spectrum", F.transform("spectrum", lambda x: F.round(x, 6)))
        .withColumn("ifft_rt", F.transform("ifft_rt", lambda x: F.round(x, 6)))
    )


@workload(
    "shape_ops",
    oracle=f"""
    {_FRAG_QTY_CTE},
    base AS (SELECT id_dim, measure, len(measure) AS n FROM frag_qty
             WHERE id_dim <= 400 AND len(measure) >= 4)
    SELECT id_dim,
           list_concat(list_slice(measure, n - 1, n), list_slice(measure, 1, n - 2)) AS rot2,
           list_concat([CAST('NaN' AS DOUBLE)], list_slice(measure, 1, n - 1)) AS shift1,
           flatten(list_transform(range(1, n + 1), i -> [measure[i], measure[i] * 2])) AS inter,
           list_concat(measure, [0.0, 0.0]) || [] AS padded,
           measure || measure || list_slice(measure, 1, 2)
                   || list_transform(measure, x -> -1 * x) AS cat3,
           flatten(list_transform(range(0, CAST(ceil(n / 2.0) AS BIGINT)),
                   c -> list_concat(list_slice(measure, 2*c + 1, 2*c + 2),
                                    list_slice(list_transform(measure, x -> x * 2),
                                               2*c + 1, 2*c + 2)))) AS inter2,
           [measure[4], measure[1], measure[2]] AS picked
    FROM base ORDER BY id_dim
    """,
    explode=["rot2", "shift1", "inter", "padded", "cat3", "inter2", "picked"],
)
def shape_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rotate/shift/interlace/padding, plus (r4) the concat alias family
    oph_concat2/oph_append/oph_extend chained in one column, block-interleave
    oph_interlace2 and index-pick oph_extract — note padding to n+2 via
    oph_padding requires a literal target, so the dialect pads to size+2 with
    concat."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_rotate(measure,2)|oph_shift(measure,1)"
        "|oph_interlace(measure,oph_mul_scalar(measure,2))"
        "|oph_concat(measure,oph_mul_scalar(oph_get_subarray(oph_sum_scalar(measure,0),1,2),0))"
        "|oph_append(oph_extend(oph_concat2(measure,measure),oph_get_subarray(measure,1,2)),"
        "oph_mul_scalar(measure,-1))"
        "|oph_interlace2(measure,oph_mul_scalar(measure,2),'2,2')"
        "|oph_extract(measure,'4,1,2');"
        "select_alias=id_dim|rot2|shift1|inter|padded|cat3|inter2|picked;"
        "where=id_dim<=400&oph_size_array(measure)>=4;order=id_dim"
    )


@workload(
    "permute_tensor",
    oracle=f"""
    {_FRAG_QTY_CTE},
    base AS (SELECT id_dim, list_slice(measure, 1, 6) AS m FROM frag_qty
             WHERE id_dim <= 2000 AND len(measure) >= 6)
    SELECT id_dim,
           [m[1], m[4], m[2], m[5], m[3], m[6]] AS transposed,
           [m[1] + m[4], m[2] + m[5], m[3] + m[6]] AS col_sums,
           [m[4], m[6]] AS sub3_row2,
           [m[2], m[5]] AS sub3_col2
    FROM base ORDER BY id_dim
    """,
    explode=["transposed", "col_sums", "sub3_row2", "sub3_col2"],
)
def permute_tensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_permute (2x3 → 3x2 transpose) + oph_reduce3 (column sums of the
    2x3 row-major tensor) + (r4) oph_get_subarray3 multidimensional subsets
    (row 2 with columns {1,3}; column 2 of every row)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_permute(oph_get_subarray(measure,1,6),'2,3','2,1')"
        "|oph_reduce3(oph_get_subarray(measure,1,6),'sum',3)"
        "|oph_get_subarray3(oph_get_subarray(measure,1,6),'2,3','2','1:2:end')"
        "|oph_get_subarray3(oph_get_subarray(measure,1,6),'2,3','1:end','2');"
        "select_alias=id_dim|transposed|col_sums|sub3_row2|sub3_col2;"
        "where=id_dim<=2000&oph_size_array(measure)>=6;order=id_dim"
    )


@workload(
    "normalize_find_pad",
    oracle=f"""
    {_FRAG_QTY_CTE},
    base AS (
      SELECT id_dim, measure, len(measure) AS n,
             list_aggregate(measure, 'sum') / len(measure) AS mu,
             sqrt((list_aggregate(list_transform(measure, x -> x*x), 'sum')
                   - len(measure) * (list_aggregate(measure, 'sum') / len(measure))
                                  * (list_aggregate(measure, 'sum') / len(measure)))
                  / (len(measure) - 1)) AS sd
      FROM frag_qty WHERE id_dim <= 400 AND len(measure) >= 2
    ),
    -- 1-D 2-means (former kcluster row): split of the sorted values scored
    -- with the integer-exact SS identity, first minimum (kernel tie-break)
    ksrt AS (SELECT id_dim, list_sort(measure) AS s, len(measure) AS n FROM base),
    kscored AS (
      SELECT id_dim, s, n,
             list_transform(range(1, n), t ->
               (list_aggregate(list_transform(list_slice(s, 1, t), x -> x * x), 'sum')
                - list_aggregate(list_slice(s, 1, t), 'sum')
                  * list_aggregate(list_slice(s, 1, t), 'sum') / t)
               + (list_aggregate(list_transform(list_slice(s, t + 1, n), x -> x * x), 'sum')
                  - list_aggregate(list_slice(s, t + 1, n), 'sum')
                    * list_aggregate(list_slice(s, t + 1, n), 'sum') / (n - t))) AS sses
      FROM ksrt
    ),
    kbest AS (
      SELECT id_dim,
             [ list_aggregate(list_slice(s, 1, t), 'sum') / t,
               list_aggregate(list_slice(s, t + 1, n), 'sum') / (n - t) ] AS centroids
      FROM (SELECT id_dim, s, n,
                   list_position(sses, list_aggregate(sses, 'min')) AS t
            FROM kscored)
    )
    SELECT id_dim,
           -- sd=0 (constant array) → z-score defined as 0, same special case
           -- as the Spark kernel (functions/core.py oph_normalize); a raw
           -- 0/0 would be NaN here but 0.0 there
           list_transform(measure, x -> CASE WHEN sd = 0 THEN 0.0
                                             ELSE (x - mu) / sd END) AS normed,
           list_transform(measure, x -> CASE WHEN x > 25 THEN 1.0 ELSE 0.0 END
                                        + CASE WHEN x > 40 THEN 1.0 ELSE 0.0 END) AS quant,
           list_transform(measure, x -> CASE WHEN x = 1 THEN -1.0 ELSE x END) AS repl,
           list_filter(range(1, len(measure) + 1), i -> abs(measure[i] - 30.0) <= 5.0)
             AS found,
           list_concat(measure,
                       CASE WHEN len(measure) >= 8 THEN []
                            ELSE list_transform(range(0, 8 - len(measure)), z -> 0.0) END)
             AS padded,
           [CAST(1.0 AS DOUBLE), 2.0, 3.0] || measure AS with_header,
           centroids
    FROM base JOIN kbest USING (id_dim) ORDER BY id_dim
    """,
    explode=["normed", "quant", "repl", "found", "padded", "with_header", "centroids"],
)
def normalize_find_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise transforms in one select (merged r3: normalize_quantize +
    find_pad_ops; r4 folds in the former kcluster row — same base row set):
    oph_normalize, oph_quantize, oph_replace, oph_find (positions within
    tolerance), oph_padding to fixed length, oph_concat with an oph_sequence
    literal header, and oph_ccluster_kcluster 1-D 2-means centroids (oracle:
    closed-form best split of the sorted values)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_normalize(measure)|oph_quantize(measure,'25,40')"
        "|oph_replace(measure,1,-1)|oph_find(measure,30,5)|oph_padding(measure,8,0)"
        "|oph_concat(oph_sequence(3),measure)|oph_ccluster_kcluster(measure,2);"
        "select_alias=id_dim|normed|quant|repl|found|padded|with_header|centroids;"
        "where=id_dim<=400&oph_size_array(measure)>=2;order=id_dim"
    )


@workload(
    "cast_sequence_codec",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT id_dim,
           list_transform(measure, x -> CAST(x AS BIGINT)) AS as_long,
           range(1, len(measure) + 1) AS idxs,
           1 + ((id_dim - 1) % 4) + CAST(TRUNC((id_dim - 1.0) / (5 * 4)) AS BIGINT) * 4 AS id2,
           1 + ((id_dim - 1) % 4) AS idx1,
           1 + (CAST(TRUNC((id_dim - 1.0) / 3) AS BIGINT) % 7) AS idx2,
           measure AS roundtrip,
           list_transform(measure, x -> CAST(x AS INTEGER)) AS as_int,
           list_transform(measure, x -> CAST(CAST(x AS BIGINT) AS DOUBLE)) AS as_dbl,
           measure AS binrt,
           [CAST(42.0 AS DOUBLE)] AS vbin,
           -- oph_id3 C model (oph_query_expression_functions.c:76-135) with
           -- list='2,3' (reduced=5), block=2:
           (id_dim - 1) % 2
             + (CASE WHEN ((id_dim - 1) // 2) % 5 < 2 THEN 0 ELSE 1 END
                + ((id_dim - 1) // 2 // 5) * 2) * 2 + 1 AS id3,
           CAST(floor((id_dim - 3.0) / 4) AS BIGINT) + 1 AS subpos,
           -- oph_dump: hex of the packed little-endian float64 bytes; the
           -- IEEE bit pattern of the (integral, >=1) values is rebuilt in
           -- SQL: bits = (1023+e)<<52 | mantissa, then byte-reversed hex
           list_aggregate(
             list_transform(list_slice(measure, 1, 2), x ->
               list_aggregate(
                 list_transform(range(0, 8), k ->
                   substr(
                     lpad(lower(to_hex(
                       (1023 + CAST(floor(log2(x)) AS BIGINT)) * 4503599627370496
                       + CAST(x * power(2, 52 - floor(log2(x))) AS BIGINT)
                       - 4503599627370496
                     )), 16, '0'),
                     CAST(15 - 2*k AS BIGINT), 2)),
                 'string_agg', '')
             ), 'string_agg', '') AS dump2
    FROM frag_qty WHERE id_dim >= 1 AND id_dim <= 500 ORDER BY id_dim
    """,
    explode=["as_long", "idxs", "roundtrip", "as_int", "as_dbl", "binrt", "vbin"],
)
def cast_sequence_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_convert_l / oph_get_index_array / oph_id2 / oph_id_to_index /
    oph_id_to_index2 projected as columns (index algebra parity), plus the
    zlib codec roundtrip oph_uncompress(oph_compress(x)) == x (merged r3:
    cast_sequence_idfuncs + compress_roundtrip).  Widened r4: oph_cast to
    int, oph_convert_d back from long, the binary codecs
    oph_from_bin(oph_to_bin(x)) == x and oph_value_to_bin, and the last two
    id built-ins oph_id3 (irregular-chunk remap) and oph_id_of_subset
    (position in an arithmetic progression)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_convert_l(measure)|oph_get_index_array(measure)"
        "|oph_id2(id_dim,5,4)|oph_id_to_index(id_dim,4)|oph_id_to_index2(id_dim,3,7)"
        "|oph_uncompress(oph_compress(measure))"
        "|oph_cast(measure,'oph_int')|oph_convert_d(oph_convert_l(measure))"
        "|oph_from_bin(oph_to_bin(measure))|oph_from_bin(oph_value_to_bin(42))"
        "|oph_id3(id_dim,'2,3',2)|oph_id_of_subset(id_dim,3,4)"
        "|oph_dump(oph_get_subarray(measure,1,2));"
        "select_alias=id_dim|as_long|idxs|id2|idx1|idx2|roundtrip"
        "|as_int|as_dbl|binrt|vbin|id3|subpos|dump2;"
        "where=id_dim>=1&id_dim<=500;order=id_dim"
    )


@workload(
    "dwt_spline",
    oracle=f"""
    {_FRAG_QTY_CTE},
    base AS (SELECT id_dim, measure, list_slice(measure, 1, 4) AS m,
                    len(measure) AS n FROM frag_qty
             WHERE id_dim <= 400 AND len(measure) >= 4)
    SELECT id_dim,
           [ (m[1] + m[2]) / sqrt(2.0), (m[3] + m[4]) / sqrt(2.0),
             (m[1] - m[2]) / sqrt(2.0), (m[3] - m[4]) / sqrt(2.0) ] AS dwt,
           list_transform(range(0, 8), i ->
             measure[CAST(floor(i * (n - 1) / 7.0) AS BIGINT) + 1]
             + (i * (n - 1) / 7.0 - floor(i * (n - 1) / 7.0))
               * (measure[least(CAST(floor(i * (n - 1) / 7.0) AS BIGINT) + 2, n)]
                  - measure[CAST(floor(i * (n - 1) / 7.0) AS BIGINT) + 1])) AS resampled,
           list_transform(m, x -> ROUND(x, 6)) AS idwt_rt
    FROM base ORDER BY id_dim
    """,
    explode=["dwt", "resampled", "idwt_rt"],
)
def dwt_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wavelet + interpolation kernels in one select (merged r3: dwt_haar +
    spline_resample): one-level Haar DWT (pandas-UDF kernel) against its
    closed form, oph_gsl_spline resampling to 8 points against the
    piecewise-linear closed form, and (r4) the oph_gsl_idwt(oph_gsl_dwt(x))
    roundtrip (rounded 6dp both engines)."""
    srv = _server(spark, sf_dir)
    out = srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_gsl_dwt(oph_get_subarray(measure,1,4))"
        "|oph_gsl_spline(measure,8)"
        "|oph_gsl_idwt(oph_gsl_dwt(oph_get_subarray(measure,1,4)));"
        "select_alias=id_dim|dwt|resampled|idwt_rt;"
        "where=id_dim<=400&oph_size_array(measure)>=4;order=id_dim"
    )
    return out.withColumn("idwt_rt", F.transform("idwt_rt", lambda x: F.round(x, 6)))


@workload(
    "expand_rows",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT (id_dim - 1) * len(measure) + generate_subscripts(measure, 1) AS id_dim,
           unnest(measure) AS measure
    FROM frag_qty WHERE id_dim <= 300 AND id_dim >= 1
    ORDER BY id_dim
    """,
)
def expand_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_expand: implicit dimension → rows with re-linearized dense ids."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_expand(measure);"
        "select_alias=id_dim|measure;"
        "where=id_dim<=300&id_dim>=1;order=id_dim"
    )


@workload(
    "math_complex_ops",
    oracle=f"""
    {_FRAG_BOTH_CTE},
    base AS (
      SELECT a.id_dim AS id_dim, a.measure AS re, b.measure AS im,
             len(a.measure) AS n
      FROM frag_qty a JOIN frag_price b ON a.id_dim = b.id_dim
      WHERE a.id_dim <= 500
    )
    SELECT id_dim,
           list_transform(re, x -> ROUND(sqrt(x), 6)) AS sq,
           list_transform(re, x -> ROUND(ln(x + 1), 6)) AS lg,
           CASE WHEN re = im THEN 1.0 ELSE 0.0 END AS same,
           list_transform(range(1, n + 1), i -> greatest(re[i], im[i])) AS mx,
           flatten(list_transform(range(1, n + 1),
                                  i -> [ROUND(sqrt(re[i]*re[i] + im[i]*im[i]), 6),
                                        ROUND(atan2(im[i], re[i]), 6)])) AS polar,
           list_transform(range(1, n + 1), i -> im[i]) AS imag,
           list_transform(range(1, n + 1),
                          i -> ROUND(sqrt(re[i]*re[i] + im[i]*im[i]), 6)) AS modulus,
           list_transform(range(1, n + 1), i -> re[i] + im[i]) AS esum,
           list_transform(range(1, n + 1), i -> greatest(re[i], im[i])) AS emax,
           list_transform(range(1, n + 1), i -> least(re[i], im[i])) AS emin,
           list_transform(range(1, n + 1), i -> re[i] / im[i]) AS ediv,
           list_transform(range(1, n + 1), i -> re[i] - im[i]) AS esub,
           list_transform(range(1, n + 1), i -> re[i] - im[i]) AS esub2,
           list_transform(range(1, n + 1),
                          i -> ROUND(sqrt(re[i]*re[i] + im[i]*im[i]), 6)) AS eabs,
           list_transform(range(1, n + 1),
                          i -> ROUND(atan2(im[i], re[i]), 6)) AS earg,
           list_transform(re, x -> CASE WHEN x - 30 <> 0 THEN x ELSE 0.0 END) AS emask,
           list_transform(re, x -> CASE WHEN x - 25 > 0 THEN x ELSE 0.0 END) AS epred,
           list_transform(re, x -> 2 * (x * 3)) AS emul2,
           list_transform(range(1, n + 1),
                          i -> ROUND(atan2(im[i], re[i]), 6)) AS carg,
           list_transform(range(1, n + 1), i -> re[i]) AS realp,
           flatten(list_transform(range(1, n + 1),
                                  i -> [ROUND(re[i], 6), ROUND(im[i], 6)])) AS rect
    FROM base ORDER BY id_dim
    """,
    explode=["sq", "lg", "mx", "polar", "imag", "modulus",
             "esum", "emax", "emin", "ediv", "esub", "esub2", "eabs", "earg",
             "emask", "epred", "emul2", "carg", "realp", "rect"],
)
def math_complex_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise math + interleaved-complex family in one select (merged
    r3: math_compare_ops + complex_polar_ops; widened r4 with the whole
    element-wise binary family): oph_math named functions, oph_compare across
    fragments, oph_operation_array max, oph_sum/max/min/div/sub/abs/arg_array,
    oph_operator_array, oph_mask_array, oph_predicate2, oph_mul_scalar2, then
    interlace the two fragments into (re,im) complex, convert to polar,
    extract imag/real/arg + modulus and the polar→rect roundtrip (full gsl
    complex surface).  All JVM Column math end to end."""
    srv = _server(spark, sf_dir, {"frag_qty": "l_quantity", "frag_price": "l_extendedprice"})
    out = srv.execute(
        "operation=select;from=frag_qty|frag_price;from_alias=a|b;"
        "field=id_dim|oph_math(a.measure,'sqrt')|oph_math(oph_sum_scalar(a.measure,1),'log')"
        "|oph_compare(a.measure,b.measure)|oph_operation_array(a.measure,b.measure,'max')"
        "|oph_gsl_complex_to_polar(oph_interlace(a.measure,b.measure))"
        "|oph_gsl_complex_get_imag(oph_interlace(a.measure,b.measure))"
        "|oph_gsl_complex_get_abs(oph_interlace(a.measure,b.measure))"
        "|oph_sum_array(a.measure,b.measure)|oph_max_array(a.measure,b.measure)"
        "|oph_min_array(a.measure,b.measure)|oph_div_array(a.measure,b.measure)"
        "|oph_operator_array(a.measure,b.measure,'sub')|oph_sub_array(a.measure,b.measure)"
        "|oph_abs_array(a.measure,b.measure)|oph_arg_array(a.measure,b.measure)"
        "|oph_mask_array(a.measure,oph_sum_scalar(a.measure,-30),0)"
        "|oph_predicate2(a.measure,'x-25','>0','x','0')"
        "|oph_mul_scalar2(a.measure,2,3)"
        "|oph_gsl_complex_get_arg(oph_interlace(a.measure,b.measure))"
        "|oph_gsl_complex_get_real(oph_interlace(a.measure,b.measure))"
        "|oph_gsl_complex_to_rect(oph_gsl_complex_to_polar(oph_interlace(a.measure,b.measure)));"
        "select_alias=id_dim|sq|lg|same|mx|polar|imag|modulus"
        "|esum|emax|emin|ediv|esub|esub2|eabs|earg|emask|epred|emul2|carg|realp|rect;"
        "where=id_dim<=500;order=id_dim"
    )
    # transcendentals differ in the last ulp across libm builds → 6dp on both
    for c in ("sq", "lg", "polar", "modulus", "eabs", "earg", "carg", "rect"):
        out = out.withColumn(c, F.transform(c, lambda x: F.round(x, 6)))
    # oph_compare returns LONG (reference RET INTEGER); the oracle emits
    # DOUBLE — align dtypes so the driver's typed value-hash matches.
    return out.withColumn("same", F.col("same").cast("double"))


@workload(
    "fragment_row_windows",
    oracle=f"""
    {_FRAG_QTY_CTE},
    s AS (
      SELECT id_dim,
             -- FLOOR, not TRUNC: orderkey 0 exists and floor(-x) != trunc(-x)
             1 + CAST(FLOOR((id_dim - 1.0) / 500) AS BIGINT) AS bucket,
             list_aggregate(measure, 'sum') AS row_sum
      FROM frag_qty WHERE id_dim <= 3000
    )
    SELECT id_dim, row_sum,
           row_sum - lag(row_sum) OVER w AS delta,
           ROUND(AVG(row_sum) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS mov3
    FROM s
    WINDOW w AS (PARTITION BY bucket ORDER BY id_dim)
    ORDER BY id_dim
    """,
)
def fragment_row_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-row window functions over fragment rows (absent in the
    reference, SURVEY §2.6; Spark superset).  Windows are PARTITIONED by an
    id-range bucket — a global unpartitioned window would serialize on one
    task; bucketed windows scale and the bucket-boundary semantics are
    explicit in both engines."""
    from pyspark.sql import Window

    frag = lineitem_fragment_cached(spark, sf_dir)
    s = frag.where(F.col("id_dim") <= 3000).select(
        "id_dim",
        (1 + F.floor((F.col("id_dim") - 1) / 500)).cast("bigint").alias("bucket"),
        F.aggregate("measure", F.lit(0.0), lambda a, x: a + x).alias("row_sum"),
    )
    w = Window.partitionBy("bucket").orderBy("id_dim")
    return (
        s.select(
            "id_dim", "row_sum",
            (F.col("row_sum") - F.lag("row_sum").over(w)).alias("delta"),
            F.round(F.avg("row_sum").over(w.rowsBetween(-2, 0)), 6).alias("mov3"),
        )
    )


@workload(
    "orders_topk_per_segment",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    segn AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS seg_orders
             FROM j GROUP BY c_mktsegment)
    SELECT t.c_mktsegment, t.o_orderkey, t.rnk, t.o_totalprice, s.seg_orders
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM j
    ) t JOIN segn s USING (c_mktsegment)
    WHERE t.rnk <= 5
    ORDER BY t.c_mktsegment, t.rnk
    """,
)
def orders_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational window top-k (Spark-native superset of the reference's
    ORDER+LIMIT): top 5 orders by price per market segment.

    r5: the dim join runs through ``operators/skew.salted_join`` and the
    per-segment totals through ``salted_count_by_key`` — the skew utilities'
    CORRECTNESS contract (salting must never change results) is what the
    unchanged-oracle hash verifies.  At this dim size a broadcast is the
    faster plan (and what Catalyst picks for the plain join); salting is
    the manual fallback for hot keys on two large sides — this row pins
    result-equivalence, tests/test_skew_stress.py pins the balance."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.operators.skew import salted_count_by_key, salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    joined = salted_join(o, c, on="o_custkey")
    segn = salted_count_by_key(joined, "c_mktsegment", salts=16).withColumnRenamed(
        "n", "seg_orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .join(F.broadcast(segn), "c_mktsegment")
        .select("c_mktsegment", "o_orderkey", "rnk", "o_totalprice", "seg_orders")
    )


@workload(
    "events_sequence_patterns",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS sq
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(length(sq) AS BIGINT) AS seq_len,
      CAST((length(sq) - length(replace(sq, 'vc', ''))) // 2 AS BIGINT)
        AS n_vc,
      CAST((length(sq) - length(replace(sq, 'vcp', ''))) // 3 AS BIGINT)
        AS n_vcp
    FROM s
    """,
)
def events_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern counting (MATCH_RECOGNIZE-lite): each user's
    event history collapses to an initials string in deterministic
    (ts, event_id) order; contiguous funnel occurrences (view→click,
    view→click→purchase) are counted by non-overlapping literal
    substring matches — engine-neutral (no regex-dialect dependence,
    and the patterns cannot self-overlap since the initials differ).
    One groupBy; per-user state is bounded by that user's history, so
    the plan parallelizes per key at any scale (hot-key histories would
    ride the same salting/bucketing escape hatches as the other
    per-user-timeline operators)."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            "ts", "event_id",
            F.substring("event_type", 1, 1).alias("ini")))).alias("h"))
        .select(
            "user_id",
            F.array_join(F.transform("h", lambda x: x["ini"]), "").alias("sq"))
    )
    n_of = lambda pat: F.expr(
        f"(length(sq) - length(replace(sq, '{pat}', ''))) div {len(pat)}"
    ).cast("bigint")
    return seq.select(
        "user_id", F.length("sq").cast("bigint").alias("seq_len"),
        n_of("vc").alias("n_vc"), n_of("vcp").alias("n_vcp"))


@workload(
    "events_multitouch_attribution",
    oracle="""
    WITH v AS (SELECT user_id, ts AS view_ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS pid, ts AS purchase_ts,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT p.user_id, v.view_ts, p.pid, p.purchase_ts, p.cents
          FROM p JOIN v ON v.user_id = p.user_id
           AND v.view_ts >= p.purchase_ts - INTERVAL 2 HOUR
           AND v.view_ts < p.purchase_ts),
    n AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_touches
          FROM j GROUP BY pid)
    SELECT j.user_id, j.view_ts, j.purchase_ts, j.cents, n.n_touches,
           ROUND(j.cents / (100.0 * n.n_touches), 6) AS credit
    FROM j JOIN n USING (pid)
    """,
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's revenue split
    equally across the same user's views in the preceding 2 h.  The
    inequality join rides the BUCKETED interval equi-join
    (``operators/temporal.interval_join`` — purchases become
    [ts−2h, ts) intervals, views hash to one bucket each; no BNLJ), and
    the per-purchase touch count is a window over the join output.
    Credit = exact integer cents / (100·n) — one double division per
    row, deterministic across engines.  The oracle is the literal
    inequality join."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.operators.temporal import interval_join

    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"),
        F.col("ts").alias("purchase_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("start_ts"),
        F.col("ts").alias("end_ts"))
    j = interval_join(v, p, on="user_id", ts_col="ts",
                      start_col="start_ts", end_col="end_ts")
    w = Window.partitionBy("pid")
    return (
        j.withColumn("n_touches", F.count(F.lit(1)).over(w).cast("bigint"))
        .select("user_id", F.col("ts").alias("view_ts"), "purchase_ts",
                "cents", "n_touches",
                F.round(F.col("cents") / (F.lit(100.0) * F.col("n_touches")),
                        6).alias("credit"))
    )


@workload(
    "events_scd2_intervals",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_type = 'signup'
    ),
    m AS (
      SELECT *, CASE WHEN lag(k) OVER w IS DISTINCT FROM k THEN 1 ELSE 0 END
                AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seg
      FROM m
    ),
    g AS (
      SELECT user_id, seg, MIN(k) AS k, MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, seg
    )
    SELECT user_id, k, valid_from,
           lead(valid_from) OVER w2 AS valid_to, n_events,
           (lead(valid_from) OVER w2) IS NULL AS is_current
    FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension-history build from an event log: per-user
    validity intervals of the JSON attribute ``props.k`` over signup
    events (``operators/temporal.scd2_intervals``) — null-safe change
    detection, conditional-running-sum run ids, lead-closed intervals,
    ``is_current`` on the open run.  JSON extraction stays JVM-side
    (``get_json_object``); every window is per-user, so the plan has no
    global ordering stage at any scale."""
    from ophidia_io_server_spark.operators.temporal import scd2_intervals

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "signup")
    e = ev.select(
        "user_id", "ts", "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"))
    return (
        scd2_intervals(e, ["user_id"], "ts", "k", order_cols=["event_id"])
        .select("user_id", "k", "valid_from", "valid_to", "n_events",
                "is_current")
    )


@workload(
    "orders_constraint_audit",
    oracle="""
    WITH fk1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS nv
      FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS _pk FROM customer) p
        ON o.o_custkey = p._pk
      WHERE o.o_custkey IS NOT NULL
    ),
    fk2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS nv
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS _pk FROM orders) p
        ON l.l_orderkey = p._pk
      WHERE l.l_orderkey IS NOT NULL
    ),
    u1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS nv
           FROM orders),
    u2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                       AS BIGINT) AS nv
           FROM lineitem),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0
                                    END), 0) AS BIGINT) AS nv
           FROM orders),
    av AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NULL
                                         OR o_orderstatus NOT IN ('F','O','P')
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS nv
           FROM orders),
    pr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0
                                    END), 0) AS BIGINT) AS nv
           FROM orders)
    SELECT 'fk_orders_custkey_customer' AS constraint_name, n_rows,
           nv AS n_violations, nv = 0 AS ok FROM fk1
    UNION ALL SELECT 'fk_lineitem_orderkey_orders', n_rows, nv, nv = 0 FROM fk2
    UNION ALL SELECT 'unique_orders_orderkey', n_rows, nv, nv = 0 FROM u1
    UNION ALL SELECT 'unique_lineitem_orderkey_linenumber', n_rows, nv, nv = 0
      FROM u2
    UNION ALL SELECT 'not_null_o_custkey', n_rows, nv, nv = 0 FROM nn
    UNION ALL SELECT 'accepted_values_o_orderstatus', n_rows, nv, nv = 0 FROM av
    UNION ALL SELECT 'positive_o_totalprice', n_rows, nv, nv = 0 FROM pr
    """,
)
def orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (Deequ / dbt-tests family) over the
    star schema: two referential-integrity checks, two key-uniqueness
    checks (the lineitem one FAILS by design — the synthetic table has
    duplicate (l_orderkey, l_linenumber) pairs, a real finding the audit
    must report, not mask), completeness, accepted values, and a value
    predicate.  Every check is a single-pass aggregate
    (``operators/audit.py``); the FK checks join against distinct parent
    keys (AQE broadcasts dimension-sized parents)."""
    from ophidia_io_server_spark.operators.audit import (
        audit,
        fk_check,
        fused_scan_checks,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    fks = audit([
        ("fk_orders_custkey_customer",
         fk_check(o, ["o_custkey"], c, ["c_custkey"])),
        ("fk_lineitem_orderkey_orders",
         fk_check(l, ["l_orderkey"], o, ["o_orderkey"])),
    ])
    # every scan-only orders check rides ONE aggregate pass (one scan),
    # ditto lineitem's uniqueness check
    o_scan = fused_scan_checks(
        o,
        violations={
            "not_null_o_custkey": F.col("o_custkey").isNull(),
            "accepted_values_o_orderstatus":
                ~F.col("o_orderstatus").isin(["F", "O", "P"])
                | F.col("o_orderstatus").isNull(),
            "positive_o_totalprice": F.col("o_totalprice") <= 0,
        },
        unique_keys={"unique_orders_orderkey": ["o_orderkey"]},
    )
    l_scan = fused_scan_checks(
        l, unique_keys={"unique_lineitem_orderkey_linenumber":
                        ["l_orderkey", "l_linenumber"]})
    return (fks.unionByName(o_scan).unionByName(l_scan)
            .select("constraint_name", "n_rows", "n_violations", "ok"))


@workload(
    "events_gapfill_interpolate",
    oracle="""
    WITH obs0 AS (
      SELECT user_id,
             CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                            date_trunc('hour', ts)) AS BIGINT) AS h_idx,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'click' AND user_id < 50
      GROUP BY 1, 2
    ),
    obs AS (SELECT *, cents * 1.0 / (100 * n) AS v FROM obs0
            WHERE h_idx >= 0 AND h_idx < 168),
    spine AS (
      SELECT u.user_id, g.h_idx
      FROM (SELECT DISTINCT user_id FROM obs) u
      CROSS JOIN (SELECT unnest(range(0, 168)) AS h_idx) g
    ),
    j AS (
      SELECT s.user_id, s.h_idx, o.v, o.n
      FROM spine s LEFT JOIN obs o USING (user_id, h_idx)
    ),
    w AS (
      SELECT user_id, h_idx, v, COALESCE(n, 0) AS n,
        last_value(v IGNORE NULLS) OVER pw AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h_idx END IGNORE NULLS)
          OVER pw AS pi,
        first_value(v IGNORE NULLS) OVER nw AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h_idx END IGNORE NULLS)
          OVER nw AS ni
      FROM j
      WINDOW pw AS (PARTITION BY user_id ORDER BY h_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             nw AS (PARTITION BY user_id ORDER BY h_idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
      TIMESTAMP '2024-01-01 00:00:00' + h_idx * INTERVAL 1 HOUR AS hour_start,
      n,
      CASE WHEN v IS NOT NULL THEN 'obs'
           WHEN pi IS NOT NULL AND ni IS NOT NULL THEN 'interp'
           WHEN pi IS NOT NULL THEN 'locf' ELSE 'nocb' END AS fill_kind,
      ROUND(CASE WHEN v IS NOT NULL THEN v
                 WHEN pi IS NOT NULL AND ni IS NOT NULL
                   THEN pv + (nv - pv) * (CAST(h_idx - pi AS DOUBLE)
                                          / CAST(ni - pi AS DOUBLE))
                 WHEN pi IS NOT NULL THEN pv ELSE nv END, 6) AS v_filled
    FROM w
    """,
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user hourly click-value series
    aligned onto the first week's dense hourly grid, gaps filled by
    linear interpolation (LOCF/NOCB at the edges), tagged by fill kind.
    The operator (``operators/timeseries.gap_fill_interpolate``) works
    in the integer INDEX domain so every weight is an exact small-int
    ratio — deterministic across engines — and every window is per-key
    (no global ordering stage at any scale).  Hourly values enter on the
    exact cents grid (order-free integer sums) before the one double
    division."""
    from ophidia_io_server_spark.operators.timeseries import gap_fill_interpolate

    t0 = "timestamp_ntz'2024-01-01 00:00:00'"
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "click") & (F.col("user_id") < 50))
    obs = (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(exact_cents_sum("value").alias("cents"),
             F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("h_idx", F.expr(f"timestampdiff(HOUR, {t0}, h)").cast("bigint"))
        .where((F.col("h_idx") >= 0) & (F.col("h_idx") < 168))
        .withColumn("v", F.col("cents") / (F.lit(100) * F.col("n")))
        .select("user_id", "h_idx", "v", "n")
    )
    out = gap_fill_interpolate(obs, ["user_id"], "h_idx", "v", n_steps=168)
    return out.select(
        "user_id",
        F.expr(f"{t0} + make_dt_interval(0, h_idx)").alias("hour_start"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        "fill_kind",
        F.round("v_filled", 6).alias("v_filled"),
    )


@workload(
    "part_fuzzy_name_pairs",
    oracle="""
    WITH d AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n
               FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM d a JOIN d b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def part_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity self-join (spelling-variant detection over
    a dimension vocabulary): distinct part names within Levenshtein
    distance 2, with occurrence counts.  The oracle is the literal
    all-pairs definition; the operator (``pipeline/strsim.
    edit_distance_self_join``) is PassJoin (Li et al., PVLDB 2011):
    pigeonhole segment index + constant-fanout substring probes +
    banded-threshold verify — O(n·τ²) shuffled rows, never O(n²) pairs,
    which is what makes a fuzzy join feasible over a 10⁸-string
    vocabulary at 100 TB.  Oracle validity note: DuckDB's levenshtein is
    BYTE-based vs Spark's codepoint-based — equivalent here because part
    names are ASCII; the operator's unicode (codepoint) semantics are
    pinned by the hypothesis differential instead."""
    from ophidia_io_server_spark.pipeline.strsim import edit_distance_self_join

    p = load_table(spark, sf_dir, "part")
    # counts joins both pair endpoints — pin so the part scan runs once
    counts = (p.groupBy("p_name").agg(F.count("*").cast("bigint").alias("n"))
              .localCheckpoint())
    pairs = edit_distance_self_join(p, "p_name", tau=2)
    return (
        pairs
        .join(counts.select(F.col("p_name").alias("a"),
                            F.col("n").alias("n_a")), "a")
        .join(counts.select(F.col("p_name").alias("b"),
                            F.col("n").alias("n_b")), "b")
        .select(F.col("a").alias("name_a"), F.col("b").alias("name_b"),
                "dist", "n_a", "n_b")
    )


@workload(
    "part_name_entity_resolution",
    oracle="""
    WITH RECURSIVE d AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n
                         FROM part GROUP BY p_name),
    cp AS (SELECT a.p_name AS na, b.p_name AS nb
           FROM d a JOIN d b ON a.p_name < b.p_name
           WHERE levenshtein(a.p_name, b.p_name) <= 2),
    edges AS (SELECT na AS u, nb AS v FROM cp
              UNION ALL SELECT nb, na FROM cp),
    reach(u, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
    ),
    lab AS (SELECT u AS name, MIN(lbl) AS cluster_id FROM reach GROUP BY u),
    allnames AS (
      SELECT d.p_name AS name, d.n,
             COALESCE(l.cluster_id, d.p_name) AS cluster_id
      FROM d LEFT JOIN lab l ON d.p_name = l.name
    ),
    canon AS (SELECT cluster_id, name AS canonical FROM (
        SELECT cluster_id, name,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n DESC, name) AS rn
        FROM allnames) WHERE rn = 1),
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM allnames GROUP BY cluster_id)
    SELECT a.name, a.cluster_id, c.canonical, a.n, s.cluster_size
    FROM allnames a JOIN canon c USING (cluster_id) JOIN sz s USING (cluster_id)
    """,
)
def part_name_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage over the part-name vocabulary:
    PassJoin fuzzy pairs (τ=2) → min-label connected components
    (``pipeline/dedup.dup_clusters`` — the same transitive-closure engine
    the near-dup dedup family uses) → canonical representative per
    cluster = the most frequent spelling (deterministic name tie-break).
    Fuzzy matching is never transitive pair-wise, so the closure is the
    semantically required step — and both building blocks are the
    bounded-shuffle versions (no all-pairs, diameter-bounded rounds)."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.dedup import dup_clusters
    from ophidia_io_server_spark.pipeline.strsim import edit_distance_self_join

    p = load_table(spark, sf_dir, "part")
    d = p.groupBy("p_name").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = edit_distance_self_join(p, "p_name", tau=2)
    lab = dup_clusters(pairs.select(F.col("a").alias("doc_a"),
                                    F.col("b").alias("doc_b")))
    allnames = (
        d.join(lab.select(F.col("doc_id").alias("p_name"), "cluster_id"),
               "p_name", "left")
        .select(F.col("p_name").alias("name"), "n",
                F.coalesce("cluster_id", "p_name").alias("cluster_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n").desc(), F.col("name").asc())
    canon = (allnames.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1)
             .select("cluster_id", F.col("name").alias("canonical")))
    sz = allnames.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    return (allnames.join(canon, "cluster_id").join(sz, "cluster_id")
            .select("name", "cluster_id", "canonical", "n", "cluster_size"))


@workload(
    "orders_pareto_frontier",
    oracle="""
    SELECT p.o_orderkey, p.o_totalprice, p.o_orderdate
    FROM orders p
    WHERE NOT EXISTS (
      SELECT 1 FROM orders q
      WHERE q.o_totalprice >= p.o_totalprice AND q.o_orderdate <= p.o_orderdate
        AND (q.o_totalprice > p.o_totalprice OR q.o_orderdate < p.o_orderdate)
    )
    """,
)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (Börzsönyi et al., ICDE 2001) over
    orders: the record-setting orders — no other order is both at least
    as expensive and at least as early (strict on one).  The oracle is
    the LITERAL quadratic NOT-EXISTS dominance definition; the operator
    (``operators/skyline.skyline_2d``) is the distributed 2-phase sorted
    scan: per-x best-y aggregation + range exchange + per-partition
    running best + ≤P-row prefix carry-in — no pair volume, no
    single-partition global window."""
    from ophidia_io_server_spark.operators.skyline import skyline_2d

    o = load_table(spark, sf_dir, "orders")
    return (skyline_2d(o, "o_totalprice", "o_orderdate")
            .select("o_orderkey", "o_totalprice", "o_orderdate"))


@workload(
    "orders_pareto_3d",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT p.o_orderkey, p.o_totalprice, p.o_orderdate, p.prio
    FROM o p
    WHERE NOT EXISTS (
      SELECT 1 FROM o q
      WHERE q.o_totalprice >= p.o_totalprice
        AND q.o_orderdate <= p.o_orderdate AND q.prio <= p.prio
        AND (q.o_totalprice > p.o_totalprice
             OR q.o_orderdate < p.o_orderdate OR q.prio < p.prio)
    )
    """,
)
def orders_pareto_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D Pareto frontier (maximize price, minimize date, minimize
    priority number) over 1997 orders — the d>2 skyline, where the 2-D
    sorted-scan trick no longer applies.  The operator
    (``operators/skyline.skyline_nd``) is the distributed local-skyline
    / merge scheme: vectorized per-batch skylines (each pass removes
    only dominated rows, never frontier rows), iterated with shrinking
    partitioning, budget-checked exact final pass.  Timestamps enter as
    epoch seconds (order-isomorphic, exactly representable in double).
    Oracle = the literal 3-way NOT-EXISTS dominance definition."""
    from ophidia_io_server_spark.operators.skyline import skyline_nd

    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
    base = o.select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        F.expr("timestampdiff(SECOND, timestamp_ntz'1970-01-01 00:00:00',"
               " o_orderdate)").cast("bigint").alias("date_s"))
    sky = skyline_nd(base, {"o_totalprice": "max", "date_s": "min",
                            "prio": "min"})
    return sky.select("o_orderkey", "o_totalprice", "o_orderdate", "prio")


@workload(
    "curation_split_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
              UNION ALL SELECT doc_b, doc_a FROM cpairs),
    -- transitive closure -> min reachable label == connected-component min
    reach(u, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
    ),
    lab AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u),
    alldocs AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    ),
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM alldocs GROUP BY cluster_id),
    -- benchmark decontamination: word 8-grams shared with the eval subset
    tok8 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    sh8 AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 7, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                 || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
                 || ' ' || ws[i+7]
             )) AS g8
      FROM tok8
    ),
    -- COALESCE: with zero eval docs at a small SF, list(g8) aggregates to
    -- NULL and every n_eval_grams_hit would go NULL — the Spark side
    -- degrades to 0 hits, so the oracle must too
    evg AS (SELECT COALESCE(list_distinct(flatten(list(g8))), []) AS gl
            FROM sh8 WHERE doc_id % 89 = 0),
    cont AS (
      SELECT s.doc_id,
             CAST(len(list_intersect(s.g8, evg.gl)) AS BIGINT) AS n_eval_grams_hit
      FROM sh8 s CROSS JOIN evg
    ),
    -- concat-then-chunk sequence packing (budget 256 tokens, 4 SQL shards)
    pk AS (
      SELECT doc_id,
             CAST(doc_id % 4 AS BIGINT) AS pack_shard,
             CAST(SUM(len(ws)) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING)
                  - len(ws) AS BIGINT) AS tok_start
      FROM tok8
    ),
    -- 2-gram repetition stats (multiset, not distinct-shingled)
    rep_raw AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(ws) >= 2
                               THEN list_transform(range(1, len(ws)),
                                                   i -> ws[i] || ' ' || ws[i+1])
                               ELSE [] END) AS gram
            FROM tok8)
      GROUP BY doc_id, gram
    ),
    rep AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_2grams,
             CAST(MAX(c) AS BIGINT) AS top2_cnt,
             CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup2_cnt
      FROM rep_raw GROUP BY doc_id
    ),
    -- duplicate-line signals (Gopher filters)
    lns AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls
      FROM documents
    ),
    linesig AS (
      SELECT doc_id,
             CASE WHEN len(ls) <= 0 THEN 0.0
                  ELSE ROUND((len(ls) - len(list_distinct(ls))) * 1.0 / len(ls), 4)
             END AS dup_line_frac,
             CASE WHEN list_aggregate(list_transform(ls, l -> length(l)), 'sum') <= 0
                       OR len(ls) <= 0 THEN 0.0
                  ELSE ROUND(
                    list_aggregate(list_transform(list_distinct(ls), d ->
                      CASE WHEN len(list_filter(ls, l -> l = d)) > 1
                           THEN len(list_filter(ls, l -> l = d)) * length(d)
                           ELSE 0 END), 'sum')
                    * 1.0 / list_aggregate(list_transform(ls, l -> length(l)), 'sum'), 4)
             END AS dup_line_char_frac
      FROM lns
    )
    SELECT a.doc_id, a.cluster_id, s.cluster_size,
           a.doc_id = a.cluster_id AS is_canonical,
           TRUE AS split_stable, TRUE AS split_in_range, TRUE AS fractions_ok,
           TRUE AS sample_stable, TRUE AS strat_ok, TRUE AS sample_rate_ok,
           TRUE AS shuffle_pos_stable, TRUE AS shuffle_is_perm,
           TRUE AS pack_ff_ok,
           a.doc_id % 89 = 0 AS is_eval,
           c.n_eval_grams_hit,
           (NOT a.doc_id % 89 = 0) AND c.n_eval_grams_hit > 0 AS contaminated,
           COALESCE(r.n_2grams, 0) AS n_2grams,
           COALESCE(r.top2_cnt, 0) AS top2_cnt,
           CASE WHEN COALESCE(r.n_2grams, 0) <= 0 THEN 0.0
                ELSE ROUND(r.top2_cnt * 1.0 / r.n_2grams, 4) END AS top2_frac,
           CASE WHEN COALESCE(r.n_2grams, 0) <= 0 THEN 0.0
                ELSE ROUND(COALESCE(r.dup2_cnt, 0) * 1.0 / r.n_2grams, 4) END AS dup2_frac,
           ln.dup_line_frac, ln.dup_line_char_frac,
           p.pack_shard,
           p.tok_start // 256 AS seq_in_shard,
           p.tok_start % 256 AS seq_offset
    FROM alldocs a
    JOIN sz s ON a.cluster_id = s.cluster_id
    JOIN cont c ON a.doc_id = c.doc_id
    LEFT JOIN rep r ON a.doc_id = r.doc_id
    JOIN linesig ln ON a.doc_id = ln.doc_id
    JOIN pk p ON a.doc_id = p.doc_id
    ORDER BY a.doc_id
    """,
)
def curation_split_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation operators, driver-verified (r4):

    1. Near-dup cluster resolution (pipeline/dedup.py resolve_duplicates):
       min-label connected components over the verified MinHash pair graph +
       canonical-keeper flag.  The oracle recomputes the components with a
       recursive transitive-closure CTE over the exact-Jaccard pair set, so
       cluster ids, sizes and keeper flags hash-bind exactly.
    2. Deterministic hash split (pipeline/sampling.py hash_split): the split
       decision is a pure function of (seed, doc_id), so the oracle cannot
       recompute Spark's xxhash64 — instead the INVARIANTS that make the
       operator correct are computed inside Spark as booleans and the oracle
       emits literal TRUEs (same pattern as sketch_approx_stats):
       ``split_stable`` (identical assignment under a different partition
       layout — the retry/layout property df.randomSplit lacks),
       ``split_in_range`` (every row assigned a real split), and
       ``fractions_ok`` (per-split mass within 5% of the 80/10/10 weights).
       r5 extends the same pattern to the rest of pipeline/sampling.py:
       ``sample_stable`` (hash_sample membership layout-independent),
       ``sample_rate_ok`` (global keep-rate near the fraction),
       ``strat_ok`` (stratified_sample: 0.0-fraction stratum excluded,
       1.0-fraction stratum kept whole, unlisted strata ≡ plain Bernoulli
       at the default fraction — an exact identity, no tolerance), and
       ``shuffle_pos_stable`` / ``shuffle_is_perm`` (deterministic_shuffle
       is a layout-independent exact permutation).
    3. Benchmark decontamination (pipeline/decontaminate.py): docs sharing
       a word 8-gram with the eval subset (doc_id % 89 == 0 plays the
       benchmark) are flagged; the oracle recomputes the distinct-gram
       intersection in SQL, so flags and hit counts hash-bind exactly.
    4. Repetition signals (pipeline/text.py): Gopher-style duplicate-line
       fraction, duplicate-line-character fraction, and 2-gram repetition
       stats (top fraction, duplicated-occurrence fraction) — all mirrored
       in SQL closed form.
    5. Sequence packing (pipeline/packing.py pack_concat_chunks): GPT-style
       concat-then-chunk assignment (budget 256) using the plain-SQL shard
       expression ``doc_id % 4`` so the window arithmetic is reproducible
       in the oracle verbatim.
    """
    from ophidia_io_server_spark.pipeline.decontaminate import contamination_flags
    from ophidia_io_server_spark.pipeline.dedup import minhash_lsh_pairs, resolve_duplicates
    from ophidia_io_server_spark.pipeline.packing import (
        pack_concat_chunks,
        pack_first_fit,
        pack_next_fit,
    )
    from ophidia_io_server_spark.pipeline.sampling import (
        deterministic_shuffle,
        hash_sample,
        hash_split,
        stratified_sample,
    )
    from ophidia_io_server_spark.pipeline.text import (
        dup_line_char_frac_col,
        dup_line_frac_col,
        ngram_repetition,
        token_count_col,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.5,
                              memo_key=table_ident(sf_dir, "documents"))
    resolved = resolve_duplicates(docs, pairs).select(
        "doc_id", "cluster_id", "cluster_size", "is_canonical")

    ids = docs.select("doc_id")
    weights = [0.8, 0.1, 0.1]
    s1 = hash_split(ids, weights)
    s2 = hash_split(ids.repartition(13), weights).withColumnRenamed("split", "split2")
    splits = s1.join(s2, "doc_id")
    w_of = F.when(F.col("split") == 0, 0.8).otherwise(0.1)
    per = s1.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    tot = s1.agg(F.count(F.lit(1)).alias("t"))
    frac_ok = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("dev", F.abs(F.col("n") / F.col("t") - w_of))
        .agg((F.max("dev") <= F.lit(0.05)).alias("fractions_ok"))
    )
    # r5: deterministic sampling / stratified / shuffle invariants (same
    # oracle-literal-TRUE pattern — the oracle cannot recompute xxhash64,
    # so Spark computes the properties that MAKE the operators correct):
    # - sample_stable: Bernoulli membership identical under another layout
    # - sample_rate_ok: global keep-rate near the requested fraction
    # - strat_ok (per doc): a 0.0-fraction stratum is excluded, a
    #   1.0-fraction stratum kept whole, and unlisted strata behave exactly
    #   like plain hash_sample at the default fraction (uniform map ≡
    #   Bernoulli — a crisp identity, no tolerance)
    # - shuffle_pos_stable: the permutation position of every doc is
    #   layout-independent; shuffle_is_perm: positions are exactly 1..n
    src_ids = docs.select("doc_id", "source")
    samp1 = hash_sample(ids, 0.4).select("doc_id", F.lit(1).alias("m1"))
    samp2 = hash_sample(ids.repartition(7), 0.4).select("doc_id", F.lit(1).alias("m2"))
    plain = hash_sample(src_ids, 0.4).select("doc_id", F.lit(1).alias("mp"))
    strat = stratified_sample(src_ids, {"src0": 0.0, "src1": 1.0},
                              default_fraction=0.4).select("doc_id", F.lit(1).alias("ms"))
    sampflags = (
        ids.join(samp1, "doc_id", "left").join(samp2, "doc_id", "left")
        .join(plain, "doc_id", "left").join(strat, "doc_id", "left")
        .join(src_ids, "doc_id")
        .select(
            "doc_id",
            (F.coalesce("m1", F.lit(0)) == F.coalesce("m2", F.lit(0))
             ).alias("sample_stable"),
            F.when(F.col("source") == "src0", F.col("ms").isNull())
             .when(F.col("source") == "src1", F.col("ms").isNotNull())
             .otherwise(F.coalesce("ms", F.lit(0)) == F.coalesce("mp", F.lit(0)))
             .alias("strat_ok"),
        )
    )
    rate_ok = (
        samp1.agg(F.count(F.lit(1)).alias("k")).crossJoin(F.broadcast(tot))
        .agg((F.max(F.abs(F.col("k") / F.col("t") - 0.4)) <= F.lit(0.08)
              ).alias("sample_rate_ok"))
    )
    # observe the operator's ACTUAL output order (monotonically_increasing_id
    # stamped after the orderBy: ascending within partitions, partition index
    # follows the range exchange) — re-deriving the sort formula in a window
    # here would verify the formula against itself, not deterministic_shuffle
    def _shuffle_pos(df, name):
        return (
            deterministic_shuffle(df)
            .withColumn("_mid", F.monotonically_increasing_id())
            .withColumn(name, F.row_number().over(
                Window.orderBy("_mid")).cast("bigint"))
            .drop("_mid")
        )

    sh1 = _shuffle_pos(ids, "pos")
    sh2 = _shuffle_pos(ids.repartition(11), "pos2")
    shflags = sh1.join(sh2, "doc_id").select(
        "doc_id", (F.col("pos") == F.col("pos2")).alias("shuffle_pos_stable"))
    perm_ok = sh1.agg(
        ((F.max("pos") == F.count(F.lit(1)))
         & (F.count_distinct(F.col("pos")) == F.count(F.lit(1)))
         ).alias("shuffle_is_perm"))
    # r5: no-split packing invariants (the pandas first-fit/next-fit kernels
    # are not SQL-expressible, so their correctness contract rides the same
    # boolean pattern): pack_ff_ok = layout-stable assignment AND every
    # non-oversize sequence within budget AND first-fit needs no more
    # sequences than next-fit (the discipline's defining inequality)
    tok = docs.select("doc_id", token_count_col(F.col("text")).alias("n_tokens"))
    ffa = pack_first_fit(tok, budget=256, n_buckets=8)
    ffb = pack_first_fit(tok.repartition(9), budget=256, n_buckets=8)
    nfa = pack_next_fit(tok, budget=256, n_buckets=8)
    ffcols = ["pack_bucket", "seq_in_bucket", "seq_fill", "oversize"]
    ff_stable = (
        ffa.select("doc_id", *ffcols)
        .join(ffb.select("doc_id", *[F.col(c).alias(f"{c}2") for c in ffcols]), "doc_id")
        .agg(F.min(
            (F.col("pack_bucket") == F.col("pack_bucket2"))
            & (F.col("seq_in_bucket") == F.col("seq_in_bucket2"))
            & (F.col("seq_fill") == F.col("seq_fill2"))
            & (F.col("oversize") == F.col("oversize2"))
        ).alias("stable"))
    )
    ff_budget = (
        ffa.groupBy("pack_bucket", "seq_in_bucket")
        .agg(F.sum("n_tokens").alias("tk"), F.count(F.lit(1)).alias("cnt"),
             F.max(F.col("oversize").cast("int")).alias("ov"))
        .agg(F.min((F.col("tk") <= 256)
                   | ((F.col("cnt") == 1) & (F.col("ov") == 1))).alias("budget_ok"))
    )
    ff_tighter = (
        ffa.agg(F.count_distinct(F.struct("pack_bucket", "seq_in_bucket")).alias("nff"))
        .crossJoin(nfa.agg(
            F.count_distinct(F.struct("pack_bucket", "seq_in_bucket")).alias("nnf")))
        .select((F.col("nff") <= F.col("nnf")).alias("tighter"))
    )
    pack_ff = (
        ff_stable.crossJoin(ff_budget).crossJoin(ff_tighter)
        .select((F.col("stable") & F.col("budget_ok") & F.col("tighter")
                 ).alias("pack_ff_ok"))
    )
    cont = contamination_flags(docs, F.pmod(F.col("doc_id"), F.lit(89)) == 0, n=8)
    rep = ngram_repetition(docs, n=2)
    packed = pack_concat_chunks(
        docs.select("doc_id", token_count_col(F.col("text")).alias("n_tokens")),
        budget=256, shard_expr=F.pmod(F.col("doc_id"), F.lit(4)), n_shards=4,
    ).select("doc_id", "pack_shard", "seq_in_shard", "seq_offset")
    linesig = docs.select(
        "doc_id",
        dup_line_frac_col(F.col("text")).alias("dup_line_frac"),
        dup_line_char_frac_col(F.col("text")).alias("dup_line_char_frac"),
    )
    return (
        resolved.join(splits, "doc_id")
        .crossJoin(F.broadcast(frac_ok))
        .join(cont, "doc_id")
        .join(rep, "doc_id")
        .join(linesig, "doc_id")
        .join(packed, "doc_id")
        .join(sampflags, "doc_id")
        .join(shflags, "doc_id")
        .crossJoin(F.broadcast(rate_ok))
        .crossJoin(F.broadcast(perm_ok))
        .crossJoin(F.broadcast(pack_ff))
        .select(
            "doc_id", "cluster_id", "cluster_size", "is_canonical",
            (F.col("split") == F.col("split2")).alias("split_stable"),
            ((F.col("split") >= 0) & (F.col("split") <= len(weights) - 1)
             ).alias("split_in_range"),
            "fractions_ok",
            "sample_stable", "strat_ok", "sample_rate_ok",
            "shuffle_pos_stable", "shuffle_is_perm", "pack_ff_ok",
            "is_eval", "n_eval_grams_hit", "contaminated",
            "n_2grams", "top2_cnt", "top2_frac", "dup2_frac",
            "dup_line_frac", "dup_line_char_frac",
            "pack_shard", "seq_in_shard", "seq_offset",
        )
    )


@workload(
    "ann_l2_topk",
    oracle=f"""
    WITH {_EMB_BASE_CTE},
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             list_aggregate(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - b.v[i]) * (qv[i] - b.v[i])), 'sum') AS d
      FROM q JOIN base b ON b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(ROUND(d, 9), 6) AS dist
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ROUND(d, 9), neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def ann_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-k via the bounded scan-and-merge kernel
    (`pipeline/pq.py:exact_l2_topk`): per-batch numpy distances computed as
    a strict left fold (cumsum) so the oracle's ``list_aggregate`` sum is
    bitwise-identical, per-batch top-k, sorted-aggregation merge."""
    from ophidia_io_server_spark.pipeline.pq import exact_l2_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = exact_l2_topk(emb, F.col("vec_id") < 10, k=5)
    return out.withColumn("dist", F.round("dist", 6))


@workload(
    "ann_pq_invariants",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS codes_ok, TRUE AS ranks_ok, TRUE AS recall_ok
    FROM embeddings
    """,
)
def ann_pq_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (`pipeline/pq.py`: sample-trained codebooks,
    Arrow-batched encode, ADC scan with per-batch top-k) verified by the
    invariant-boolean pattern: every vector encodes into range, ADC ranks
    are distance-monotone, and recall@5 against the exact-L2 baseline beats
    20× the random-guess floor on the (worst-case, unclustered) synthetic
    embeddings.  The whole pipeline is deterministic (fixed sample order,
    init, iteration count; argmin ties to lowest index)."""
    import numpy as np

    from ophidia_io_server_spark.pipeline.pq import (exact_l2_topk, pq_encode,
                                                     pq_topk, train_pq)

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=16, ncent=16, sample=4096, iters=10)
    enc = pq_encode(emb, books)
    n = emb.count()
    codes_ok = bool(
        enc.where(
            (F.size("codes") != 16)
            | F.exists("codes", lambda c: (c < 0) | (c >= 16))
        ).count() == 0
        and enc.count() == n)
    pq = pq_topk(emb, F.col("vec_id") < 10, books, k=5).cache()
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy("rank")
    ranks_ok = bool(
        pq.withColumn("prev", F.lag("approx_dist").over(w))
        .where(F.col("prev").isNotNull() & (F.col("approx_dist") < F.col("prev")))
        .count() == 0)
    exact = exact_l2_topk(emb, F.col("vec_id") < 10, k=5)
    hits = pq.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")).count()
    total = exact.count()
    recall_ok = bool(total > 0 and hits / total >= 0.2)
    pq.unpersist()
    return local_frame(
        spark,
        [(int(n), codes_ok, ranks_ok, recall_ok)],
        "n_vectors long, codes_ok boolean, ranks_ok boolean, recall_ok boolean")

@workload(
    "stream_curation",
    oracle="""
    WITH dd AS (
      SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ), m AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS BIGINT) AS n_tokens
      FROM dd
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens >= 40 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(CASE WHEN n_tokens >= 40 THEN n_tokens ELSE 0 END)
             AS BIGINT) AS kept_tokens
    FROM m
    """,
)
def stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation: the documents table staged TWICE (every doc a
    duplicate) is re-ingested as a file stream; the quality projection (the
    same pure-Column shape as the batch operators) and a content-hash
    ``dropDuplicates`` run INCREMENTALLY, and the aggregate over the
    deduplicated stream must equal the batch computation over distinct
    texts.  availableNow + unwatermarked dedup state here (bounded by the
    staged corpus); the unbounded-stream variant is
    ``streaming/ingest.stateful_dedup_stream`` (watermark-bounded state),
    exercised by the events streaming rows."""
    import os

    from ophidia_io_server_spark.pipeline.text import token_count_col
    from ophidia_io_server_spark.streaming.ingest import run_available_now

    path = staged_docs_twice(spark, sf_dir)
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema).parquet(path)
        .withColumn("h", F.md5("text"))
        .dropDuplicates(["h"])
        .select(
            "doc_id",
            token_count_col(F.col("text")).alias("n_tokens"),
        )
    )
    per_doc = run_available_now(stream, f"curation_{os.path.basename(path)}",
                                output_mode="append")
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_tokens") >= 40, 1).otherwise(0))
         .cast("bigint").alias("n_keep"),
        F.sum(F.when(F.col("n_tokens") >= 40, F.col("n_tokens")).otherwise(0))
         .cast("bigint").alias("kept_tokens"),
    )

@workload(
    "events_retention_cohorts",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        / 7) AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ), cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    ), sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY cohort_week
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.cohort_size,
           ROUND(COUNT(*) * 1.0 / s.cohort_size, 4) AS retention
    FROM wk w JOIN cohort c USING (user_id)
              JOIN sizes s ON s.cohort_week = c.cohort_week
    GROUP BY c.cohort_week, week_offset, s.cohort_size
    ORDER BY c.cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix — the classic product-analytics rollup:
    users grouped by first-activity week, the (cohort, week-offset) cells
    counting how many stayed active.  Shape: distinct (user, week) pairs →
    per-user min (two groupBys sharing the user partitioning) → broadcast
    cohort-size join — no window over the event stream, no skew beyond the
    user key."""
    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.select(
            "user_id",
            F.floor(F.datediff(F.col("ts").cast("date"),
                               F.lit("2024-01-01").cast("date")) / 7)
             .cast("bigint").alias("week"),
        )
        .distinct()
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size"))
    return (
        wk.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week"))
                 .cast("bigint").alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active", "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 4)
             .alias("retention"),
        )
    )

@workload(
    "ann_ivfpq_invariants",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS ranks_ok, TRUE AS results_complete, TRUE AS recall_ok
    FROM embeddings
    """,
)
def ann_ivfpq_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (`pipeline/pq.py`: coarse quantizer + PQ on
    residuals, single-scan assign+encode+ADC-score) under the
    invariant-boolean contract: distance-monotone ranks, a full result set
    per query, and recall@5 vs the exact-L2 baseline ≥ 25× the random-guess
    floor on unclustered embeddings (measured 0.40-0.50 across SFs;
    residual quantization beats plain PQ's 0.32-0.42 at the same code
    budget).  Deterministic end to end."""
    from pyspark.sql import Window

    from ophidia_io_server_spark.pipeline.pq import (exact_l2_topk,
                                                     ivfpq_topk, train_ivfpq)

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    C, B = train_ivfpq(emb, nlist=16, m=16, ncent=16, sample=4096, iters=10)
    pred = F.col("vec_id") < 10
    res = ivfpq_topk(emb, pred, C, B, k=5, nprobe=4).cache()
    w = Window.partitionBy("query_id").orderBy("rank")
    ranks_ok = bool(
        res.withColumn("prev", F.lag("approx_dist").over(w))
        .where(F.col("prev").isNotNull()
               & (F.col("approx_dist") < F.col("prev"))).count() == 0)
    nq = emb.where(pred).count()
    results_complete = bool(res.count() == nq * 5)
    exact = exact_l2_topk(emb, pred, k=5)
    hits = res.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")).count()
    recall_ok = bool(hits / (nq * 5) >= 0.25)
    res.unpersist()
    return local_frame(
        spark,
        [(int(n), ranks_ok, results_complete, recall_ok)],
        "n_vectors long, ranks_ok boolean, results_complete boolean, "
        "recall_ok boolean")

@workload(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase,
           ROUND((SELECT COUNT(*) FROM s2) * 1.0
                 / (SELECT COUNT(*) FROM s1), 4) AS view_to_click,
           ROUND((SELECT COUNT(*) FROM s3) * 1.0
                 / (SELECT COUNT(*) FROM s2), 4) AS click_to_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, strictly
    time-increasing per user).  The ORACLE is the textbook three-stage
    conditional-min formulation (3 joins); the ENGINE does it in ONE
    shuffle: per-user sorted event list folded left-to-right, the
    accumulator carrying the first qualifying timestamp of each step —
    per-user event counts are bounded, so the collect_list is safe at any
    corpus width."""
    ev = load_table(spark, sf_dir, "events")
    lst = (
        # NTZ→LTZ cast is value-preserving under the UTC session pin (the
        # same argument as the sessionize epoch-micros fast path)
        ev.select("user_id",
                  F.struct(F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                           F.col("event_type").alias("e")).alias("s"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("evs"))
    )
    nil = F.lit(None).cast("bigint")
    zero = F.struct(nil.alias("t1"), nil.alias("t2"), nil.alias("t3"))
    folded = lst.select(
        "user_id",
        F.aggregate(
            "evs", zero,
            lambda a, e: F.struct(
                F.when(a["t1"].isNull() & (e["e"] == "view"), e["t"])
                 .otherwise(a["t1"]).alias("t1"),
                F.when(a["t2"].isNull() & a["t1"].isNotNull()
                       & (e["e"] == "click") & (e["t"] > a["t1"]), e["t"])
                 .otherwise(a["t2"]).alias("t2"),
                F.when(a["t3"].isNull() & a["t2"].isNotNull()
                       & (e["e"] == "purchase") & (e["t"] > a["t2"]), e["t"])
                 .otherwise(a["t3"]).alias("t3"),
            ),
        ).alias("f"),
    )
    return folded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("f.t1").isNotNull().cast("int")).cast("bigint").alias("n_view"),
        F.sum(F.col("f.t2").isNotNull().cast("int")).cast("bigint").alias("n_click"),
        F.sum(F.col("f.t3").isNotNull().cast("int")).cast("bigint").alias("n_purchase"),
    ).select(
        "n_users", "n_view", "n_click", "n_purchase",
        F.round(F.col("n_click") / F.col("n_view"), 4).alias("view_to_click"),
        F.round(F.col("n_purchase") / F.col("n_click"), 4).alias("click_to_purchase"),
    )

@workload(
    "dedup_exact_canonical",
    oracle=r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
             AS canonical_hash,
           MIN(doc_id) AS rep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1 ORDER BY canonical_hash
    """,
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over CANONICALIZED text (lowercase, punctuation
    stripped, whitespace collapsed — the CCNet normalize-before-hash
    practice): catches case/punctuation/spacing variants byte-exact
    hashing misses."""
    from ophidia_io_server_spark.pipeline.dedup import exact_duplicates_canonical

    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates_canonical(docs)


