"""3.H — scalar function surface (string / date / math / array / map / JSON /
cast / hash).

All row-level, codegen-fused, shuffle-free. Transcendental outputs (ln, pow)
are rounded to 6 decimals on both sides: JVM and C libm may differ in the last
ulp, and rounding absorbs it (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import table
from recsys_spark_spark.registry import query


@query(
    "q_str_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       substring(p_name, 1, 12) AS name_prefix,
       concat(p_brand, ':', p_type) AS brand_type,
       trim(p_name) AS name_trim,
       CAST(length(p_name) AS BIGINT) AS name_len,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
FROM part
""",
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: core string functions over the part catalog."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@query(
    "q_str_match",
    oracle=r"""
SELECT p_partkey, p_brand,
       CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS BIGINT) AS brand_num,
       split_part(p_name, ' ', 1) AS first_word,
       (p_type LIKE '%ECO%') AS is_eco
FROM part
WHERE p_brand LIKE 'Brand#1%'
""",
)
def q_str_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: LIKE / regexp_extract / split."""
    p = table(spark, sf_dir, "part")
    return p.where(F.col("p_brand").like("Brand#1%")).select(
        "p_partkey",
        "p_brand",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.col("p_type").like("%ECO%").alias("is_eco"),
    )


@query(
    "q_date_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(day(o_orderdate) AS BIGINT) AS o_day,
       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow
FROM orders
""",
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3: date parts, arithmetic, truncation. ISO day-of-week is used on both
    sides (Spark weekday()+1 == DuckDB isodow) — plain dayofweek conventions
    differ between engines (SURVEY.md §7.5)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).cast("long").alias("days_since"),
        F.date_add("o_orderdate", 30).alias("due_date"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("iso_dow"),
    )


@query(
    "q_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(abs(l_discount - 0.05), 6) AS abs_disc,
       ROUND(sqrt(l_quantity), 6) AS sqrt_qty,
       ROUND(ln(l_extendedprice), 6) AS ln_price,
       ROUND(pow(l_discount, 2), 6) AS disc_sq,
       CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_ceil_k,
       CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_floor_k,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
FROM lineitem
""",
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: math functions — the CF cosine/IUF building blocks (sqrt, ln).

    Examined in the sf1 probe and deliberately left: spread() was tried and
    REVERTED on measurement — sf1 noop 7.5 -> 7.3 s (a wash: the keyless
    repartition's sort-before-repartition of 6M rows costs what the widened
    projection saves; rounded math expressions are too cheap per row). The
    ~7.5x sf1 noop ratio is row-mass-linear compute over a 10x-row table
    with a table-sized output — documented-as-output, not a plan defect."""
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.pow("l_discount", 2), 6).alias("disc_sq"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("long").alias("price_ceil_k"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_floor_k"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
    )


@query(
    "q_array_funcs",
    oracle="""
SELECT doc_id, t.token,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       array_to_string(string_split(text, ' ')[1:3], '-') AS first3
FROM documents, unnest(string_split(text, ' ')) AS t(token)
WHERE doc_id < 50
""",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: split→array, explode, size, array_distinct, slice over documents."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.explode(toks).alias("token"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
    )


@query(
    "q_map_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
FROM events
""",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: map construction + lookup. Spark side goes through a real MapType
    (str_to_map); the oracle uses DuckDB's JSON path since DuckDB MAP
    literals differ (SURVEY.md §3.H6)."""
    ev = table(spark, sf_dir, "events")
    m = F.expr("str_to_map(regexp_replace(props, '[{}\" ]', ''), ',', ':')")
    return ev.select(
        "event_id",
        m.getItem("k").cast("long").alias("k_val"),
        F.map_contains_key(m, F.lit("k")).alias("has_k"),
    )


@query(
    "q_json_funcs",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       ROUND(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_k
FROM events
GROUP BY 1
""",
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7: JSON extraction (get_json_object + from_json) feeding an agg."""
    ev = table(spark, sf_dir, "events")
    k1 = F.get_json_object("props", "$.k").cast("long")
    parsed = F.from_json("props", "k int")  # schema'd variant of the same path
    return (
        ev.select("event_type", k1.alias("k"), parsed.getField("k").alias("k2"))
        # eqNullSafe: a row whose props lacks 'k' yields null from BOTH
        # extraction paths; plain == would drop it (null==null is null)
        # while the oracle's COUNT(*)/AVG keep it.
        .where(F.col("k").eqNullSafe(F.col("k2")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k") / F.count(F.lit(1)).cast("double"), 6).alias("avg_k"),
        )
    )


@query(
    "q_cast_coalesce",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(substring(CAST(o_orderkey AS VARCHAR), 1, 3) AS BIGINT) AS key_prefix,
       CAST(o_orderdate AS DATE) AS order_date,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
       COALESCE(NULLIF(o_totalprice, 0.0), -1.0) AS price_or_sentinel
FROM orders
""",
)
def q_cast_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8: cast chains, coalesce, nullif (null plumbing)."""
    o = table(spark, sf_dir, "orders")
    key_str = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        key_str.alias("key_str"),
        F.substring(key_str, 1, 3).cast("long").alias("key_prefix"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_label"),
        F.coalesce(F.nullif("o_totalprice", F.lit(0.0)), F.lit(-1.0)).alias("price_or_sentinel"),
    )


@query(
    "q_hash_funcs",
    oracle="""
SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256
FROM documents
""",
)
def q_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9: deterministic content hashing — the exact-dedup primitive (J1)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
    )


@query(
    "q_agg_percentile_exact",
    oracle="""
SELECT p_brand,
       ROUND(quantile_cont(p_retailprice, 0.5), 6) AS median_price,
       ROUND(quantile_cont(p_retailprice, 0.9), 6) AS p90_price,
       ROUND(quantile_cont(p_retailprice, 0.99), 6) AS p99_price,
       COUNT(*) AS n_parts
FROM part
GROUP BY p_brand
""",
)
def q_agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9b: EXACT percentiles (median/p90/p99) per brand — the precise
    complement to q_agg_stats' approx sketch (rows-only). Spark's
    `percentile` and DuckDB's `quantile_cont` share the same definition
    (linear interpolation at rank (n−1)·q over the sorted group), so the
    result is exact-oracle-checkable; both sides round at 1e-6 to absorb
    the one interpolation multiply.

    Exact percentile requires the group's values together (sort-based
    aggregate, one shuffle keyed by brand) — the deliberate trade vs the
    mergeable approx sketch; at 100 TB use this for bounded-cardinality
    groups and percentile_approx when groups don't fit an executor."""
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.round(F.percentile("p_retailprice", 0.5), 6).alias("median_price"),
        F.round(F.percentile("p_retailprice", 0.9), 6).alias("p90_price"),
        F.round(F.percentile("p_retailprice", 0.99), 6).alias("p99_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


# --------------------------------------------------------------------------
# M87: semi-structured VariantType (Spark 4) over JSON payloads
# --------------------------------------------------------------------------


@query(
    "q_json_variant",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM events
GROUP BY 1
""",
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10: Spark 4 VariantType — event payloads parsed ONCE into the
    binary variant encoding (parse_json), then path-extracted with typed
    casts (variant_get) including a missing-path probe. The
    semi-structured column story at scale: variant parse happens at
    ingest, every downstream extraction is a cheap binary traversal
    instead of a per-query JSON re-parse (get_json_object, the H7 path,
    re-parses the string on every call).

    All extracted values are integers, so the aggregate is exact and the
    DuckDB oracle (json_extract_string + cast) matches bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get(F.col("v"), "$.k", "bigint").alias("k"),
        F.try_variant_get(F.col("v"), "$.missing", "bigint").alias("m"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
    )


@query(
    "q_array_lambda",
    oracle="""
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       ROUND(list_sum(list_transform(list_filter(embedding, x -> x > 0),
                                     x -> CAST(x AS DOUBLE))) * 1e6, 0) / 1e6
         AS pos_mass,
       ROUND(list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
                                     p -> CAST(p[1] AS DOUBLE) * p[2])) * 1e6, 0) / 1e6
         AS dot_reversed,
       ROUND(CAST(list_max(embedding) AS DOUBLE) * 1e6, 0) / 1e6 AS vmax,
       (len(list_filter(embedding, x -> x > 0.2)) > 0) AS has_big
FROM embeddings
""",
)
def q_array_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10: higher-order lambda functions over array columns — the
    JVM-side vector toolbox (transform / filter / exists / aggregate /
    zip_with) exercised as a first-class surface, the same primitives the
    similarity family composes for its no-Python-UDF dot products
    (llm/similarity.py). Per row: positive-component count and mass
    (filter ∘ transform ∘ aggregate), the dot product with the REVERSED
    vector (zip_with ∘ reverse — a genuinely paired lambda), the max
    component, and an exists-style predicate.

    All row-local and codegen-fused — zero shuffles at any scale. Float
    lambdas accumulate in doubles in ARRAY ORDER on both engines (the
    fold is sequential per row, not a reduction tree), so values are
    bit-stable; one 6dp display rounding absorbs float→double widening
    differences."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    dbl = lambda x: x.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        (
            F.round(
                F.aggregate(
                    F.filter(v, lambda x: x > 0),
                    F.lit(0.0),
                    lambda acc, x: acc + dbl(x),
                )
                * 1e6
            )
            / 1e6
        ).alias("pos_mass"),
        (
            F.round(
                F.aggregate(
                    F.zip_with(v, F.reverse(v), lambda a, b: dbl(a) * dbl(b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * 1e6
            )
            / 1e6
        ).alias("dot_reversed"),
        (F.round(dbl(F.array_max(v)) * 1e6) / 1e6).alias("vmax"),
        F.exists(v, lambda x: x > 0.2).alias("has_big"),
    )
