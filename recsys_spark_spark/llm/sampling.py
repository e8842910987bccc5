"""3.M sampling — reproducible, content-addressed dataset sampling.

A training-data pipeline needs samples that are (a) deterministic across
reruns and engines (no RNG state, no seed drift between Spark versions),
(b) stable under data growth (a row's sample membership never changes when
other rows arrive), and (c) shuffle-free. Content-addressed bucketing gives
all three: bucket = md5(key) mod 100 is a pure per-row expression — the 10%
sample of 100 TB is a filtered scan, not a job.

The hash must be engine-portable for the oracle: Spark hash() is Murmur3 and
DuckDB hash() differs, so both sides use the first 8 hex digits of md5 (same
trick as llm/dedup.py simhash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import spread, table
from recsys_spark_spark.functions.determinism import dround, rlong
from recsys_spark_spark.registry import query

SAMPLE_PCT = 10
TRAIN_PCT = 80
PER_CLASS = 20


def _md5_bucket(col: F.Column) -> F.Column:
    """Deterministic bucket 0..99 from the md5 of a key's string form."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % 100)


_BUCKET_SQL = "CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


@query(
    "q_sample_hash",
    oracle=f"""
WITH bucketed AS (
  SELECT doc_id, lang, n_chars,
         {_BUCKET_SQL.format(key="doc_id")} AS bucket
  FROM documents
)
SELECT doc_id, lang, n_chars, bucket,
       CASE WHEN bucket < {TRAIN_PCT} THEN 'train' ELSE 'test' END AS split
FROM bucketed
WHERE bucket < {SAMPLE_PCT} OR bucket >= {100 - (100 - TRAIN_PCT) // 2}
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed sampling + split assignment in one pass: every row
    gets a stable bucket (md5(doc_id) mod 100); the filter keeps the 10%
    dev sample plus the top test tail. Pure row-local expressions — at
    100 TB this is a single filtered scan with no shuffle, and membership
    is reproducible forever."""
    d = table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id", "lang", "n_chars", _md5_bucket(F.col("doc_id")).alias("bucket")
    )
    return b.where(
        (F.col("bucket") < SAMPLE_PCT) | (F.col("bucket") >= 100 - (100 - TRAIN_PCT) // 2)
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        "bucket",
        F.when(F.col("bucket") < TRAIN_PCT, "train").otherwise("test").alias("split"),
    )


@query(
    "q_sample_balanced",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang,
         {_BUCKET_SQL.format(key="doc_id")} AS bucket
  FROM documents
)
SELECT doc_id, lang, rnk FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS BIGINT) AS rnk
  FROM keyed
) WHERE rnk <= {PER_CLASS}
""",
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: exactly PER_CLASS docs per language,
    chosen in content-hash order (pseudorandom but deterministic and
    growth-stable up to bucket boundaries). One window per class partition —
    at scale the per-class top-N is partition-parallel with the rank
    pushdown (WindowGroupLimit) pruning each partition to N rows."""
    d = table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", "lang", _md5_bucket(F.col("doc_id")).alias("bucket"))
    w = Window.partitionBy("lang").orderBy("bucket", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= PER_CLASS)
        .select("doc_id", "lang", "rnk")
    )


# --------------------------------------------------------------------------
# M72: domain-weighted corpus mixing
# --------------------------------------------------------------------------

# Per-source keep rate (percent). Formula-generated so both the Spark query
# and the oracle interpolate from the SAME dict — editing it cannot
# desynchronize them. Rates span 10..95 to exercise both down- and
# up-weighted domains.
MIX_RATES = {f"src{i}": 10 + (i * 17) % 86 for i in range(20)}

_MIX_CASE_SQL = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in MIX_RATES.items()
) + " ELSE 0 END"


@query(
    "q_corpus_mix",
    oracle=f"""
WITH bucketed AS (
  SELECT doc_id, source, n_chars,
         {_BUCKET_SQL.format(key="doc_id")} AS bucket,
         {_MIX_CASE_SQL} AS rate
  FROM documents
)
SELECT doc_id, source, bucket, CAST(rate AS BIGINT) AS rate
FROM bucketed WHERE bucket < rate
""",
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M72: domain-weighted corpus mixing — the data-mixture step of a
    pre-training pipeline: each source (domain) is down-/up-weighted to a
    target keep-rate, membership decided by the row's content-addressed
    bucket (md5(doc_id) mod 100 < rate(source)).

    Properties a mixture job needs at 100 TB, all structural here: the
    decision is a pure per-row expression (filtered scan, no shuffle, no
    RNG state); membership is stable under corpus growth (a doc's bucket
    never changes); rates are auditable (emitted per row); and re-weighting
    is a re-run with a different dict, not a new shuffle. The rate table is
    a broadcast-sized literal CASE on both sides."""
    d = table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in MIX_RATES.items()
        ],
        F.lit(0),
    )
    b = d.select(
        "doc_id",
        "source",
        _md5_bucket(F.col("doc_id")).alias("bucket"),
        rate.cast("long").alias("rate"),
    )
    return b.where(F.col("bucket") < F.col("rate"))


# --------------------------------------------------------------------------
# M73: stratified train/val/test split
# --------------------------------------------------------------------------

SPLIT_VAL_PCT = 10
SPLIT_TEST_PCT = 10


@query(
    "q_split_train_test",
    oracle=f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN {_BUCKET_SQL.format(key="doc_id")} < {100 - SPLIT_VAL_PCT - SPLIT_TEST_PCT} THEN 'train'
              WHEN {_BUCKET_SQL.format(key="doc_id")} < {100 - SPLIT_TEST_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY 1, 2
""",
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M73: deterministic stratified 80/10/10 split with a per-stratum
    audit (docs + chars per language x split). Content-addressed
    assignment means a document's split NEVER changes as the corpus grows —
    the property that prevents silent train/test leakage across dataset
    versions (the failure mode q_dedup_contamination detects after the
    fact, prevented here by construction). The audit aggregate is the
    output; the split itself is a shuffle-free per-row expression."""
    d = table(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 100 - SPLIT_VAL_PCT - SPLIT_TEST_PCT, "train")
        .when(bucket < 100 - SPLIT_TEST_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# M84: deterministic weighted sampling (priority / A-ES form)
# --------------------------------------------------------------------------

WEIGHTED_K = 25
_FINE_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
)


@query(
    "q_sample_weighted",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ({_FINE_BUCKET_SQL.format(key="doc_id")} + 0.5) / 1e6 AS u
  FROM documents
), prio AS (
  SELECT doc_id, source, n_chars,
         ROUND(ln(u) / n_chars, 9) AS priority
  FROM keyed
)
SELECT doc_id, source, n_chars, priority,
       CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS BIGINT) AS rnk
FROM prio QUALIFY rnk <= {WEIGHTED_K}
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M84: weighted sampling without replacement, Efraimidis-Spirakis
    priority form — each row gets priority u^(1/w) (ranked equivalently by
    ln(u)/w), the top-K by priority IS a weighted sample with w = n_chars
    (longer docs proportionally likelier). u is content-addressed
    (md5(doc_id) over 1e6 buckets, +0.5 to stay off ln(0)), so the sample
    is deterministic across engines and reruns AND stable under corpus
    growth — the reservoir-sampling replacement for distributed pipelines:
    no sequential reservoir state, just a per-row expression + top-K
    (TakeOrderedAndProject, never a full sort). ln is rounded at 1e-9 on
    both sides before ranking (same ulp discipline as TF-IDF's idf) with
    doc_id as the total tie-break."""
    d = table(spark, sf_dir, "documents")
    u = (
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
                "long"
            )
            % 1000000
        )
        + 0.5
    ) / F.lit(1e6)
    prio = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("priority"),
    )
    w = Window.orderBy(F.col("priority").desc(), "doc_id")
    return (
        prio.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= WEIGHTED_K)
    )


# --------------------------------------------------------------------------
# M90: deterministic negative sampling (training-pair generation)
# --------------------------------------------------------------------------

NEG_K = 5  # negatives kept per user
NEG_CANDIDATES = 15  # candidate draws per user (headroom for seen/collisions)


# Shared CTE chain ending in `negs` (u, neg_item, rnk <= NEG_K) — one
# definition for BOTH the q_sample_negatives oracle and q_training_triples'.
NEG_CTES = f"""
WITH seen AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), n_items AS (
  SELECT COUNT(*) AS n FROM part
), cand AS (
  SELECT s.u, gs.k,
         CAST(('0x' || substring(md5(s.u || '-' || gs.k), 1, 8)) AS BIGINT)
           % n_items.n AS cand_i
  FROM (SELECT DISTINCT u FROM seen) s,
       generate_series(1, {NEG_CANDIDATES}) gs(k),
       n_items
), fresh AS (
  SELECT c.u, c.cand_i, MIN(c.k) AS first_k
  FROM cand c
  LEFT JOIN seen ON seen.u = c.u AND seen.i = c.cand_i
  WHERE seen.i IS NULL
  GROUP BY 1, 2
), negs AS (
  SELECT u, cand_i, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT u, cand_i,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY first_k, cand_i) AS rnk
    FROM fresh
  ) WHERE rnk <= {NEG_K}
)"""


@query(
    "q_sample_negatives",
    oracle=NEG_CTES
    + """
SELECT u AS user_id, cand_i AS neg_item, rnk FROM negs
""",
)
def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M90: deterministic negative sampling — K catalog items per user the
    user has NEVER interacted with, drawn by content-addressed hashing
    (md5(user||draw) mod |catalog|), de-duplicated, seen-filtered, kept in
    draw order. The training-pair generator for BPR/two-tower losses,
    without RNG state: the same user always gets the same negatives, on
    any engine, at any partitioning, across reruns — which makes training
    data diffable and leakage auditable.

    Scale shape: the candidate fan-out is a constant ×{NEG_CANDIDATES}
    explode of the user table; the seen-filter is a user-keyed anti-join
    (the composite-key shape) on the SAME u partitioning as the draw; the
    final per-user top-K is a rank-pushdown window. Nothing scans the
    catalog per user — the draw is arithmetic on |catalog|, a 1-row
    broadcast."""
    negs = negatives_ranked(spark, sf_dir)
    return negs.select(
        F.col("u").alias("user_id"), F.col("cand_i").alias("neg_item"), "rnk"
    )


def negatives_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked per-user negatives (u, cand_i, rnk<=NEG_K) — the Spark twin
    of NEG_CTES' `negs`, shared by q_sample_negatives and
    q_training_triples."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    seen = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    n_items = F.broadcast(table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n")))
    cand = (
        seen.select("u")
        .distinct()
        .select("u", F.explode(F.sequence(F.lit(1), F.lit(NEG_CANDIDATES))).alias("k"))
        .crossJoin(n_items)
        .select(
            "u",
            "k",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("-", F.col("u"), F.col("k"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("cand_i"),
        )
    )
    fresh = (
        cand.join(
            seen.withColumnRenamed("i", "cand_i"), ["u", "cand_i"], "left_anti"
        )
        .groupBy("u", "cand_i")
        .agg(F.min("k").alias("first_k"))
    )
    w = Window.partitionBy("u").orderBy("first_k", "cand_i")
    return (
        fresh.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= NEG_K)
        .select("u", "cand_i", "rnk")
    )


# --------------------------------------------------------------------------
# M95: BPR training triples (user, positive, negative)
# --------------------------------------------------------------------------


@query(
    "q_training_triples",
    oracle=NEG_CTES
    + f"""
, fs AS (
  SELECT o_custkey AS u, l_partkey AS i, MIN(o_orderdate) AS m
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), pos AS (
  SELECT u, i AS pos_item,
         CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY m, i) AS BIGINT) AS rp
  FROM fs
)
SELECT pos.u AS user_id, pos.pos_item, negs.cand_i AS neg_item, pos.rp
FROM pos JOIN negs
  ON negs.u = pos.u AND negs.rnk = ((pos.rp - 1) % {NEG_K}) + 1
""",
)
def q_training_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M95: BPR/two-tower training triples — every positive (user, item)
    edge paired with one of the user's deterministic negatives, cycling
    through the K negatives by positive rank so the pairing is itself
    reproducible. The end of the recsys training-data path: sequence
    models consume q_seq_windows, pairwise losses consume these triples,
    and both inherit the negatives' no-leakage guarantee (plus its
    disjointness test).

    Scale shape: positives are ranked by one user-keyed window over the
    first-seen aggregate; the pairing join is user-keyed on the same
    partitioning (negatives are K rows per user — never amplifying);
    output is positives-sized. All columns exact integers.

    The first-seen (u, i, min orderdate) table is THE shared derived table
    of the recsys path — q_cf_incremental_cooc and q_seq_windows consume the
    same persisted cf.itemcf._first_seen, so this query reuses it rather
    than re-deriving the orders⋈lineitem aggregate (one definition, one
    materialization)."""
    from recsys_spark_spark.cf.itemcf import _first_seen

    fs = _first_seen(spark, sf_dir)
    wp = Window.partitionBy("u").orderBy("m", "i")
    pos = fs.select(
        "u",
        F.col("i").alias("pos_item"),
        F.row_number().over(wp).cast("long").alias("rp"),
    )
    negs = negatives_ranked(spark, sf_dir)
    return (
        pos.join(
            negs,
            (pos.u == negs.u)
            & (negs.rnk == ((pos.rp - 1) % NEG_K) + 1),
        )
        .select(
            pos.u.alias("user_id"),
            "pos_item",
            F.col("cand_i").alias("neg_item"),
            "rp",
        )
    )


# --------------------------------------------------------------------------
# M99: exact stratified sampling (per-stratum quota, content-addressed)
# --------------------------------------------------------------------------

STRAT_PCT = 20  # keep ceil(20%) of each stratum


@query(
    "q_stratified_sample_exact",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000000 AS draw
  FROM documents
), ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id)
              AS BIGINT) AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM keyed
)
SELECT doc_id, lang, rnk
FROM ranked
WHERE rnk <= (n_lang * {STRAT_PCT} + 99) // 100
""",
)
def q_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M99: EXACT stratified sampling — exactly ceil({STRAT_PCT}% · n_g)
    documents from every lang stratum, not the in-expectation rate of
    q_sample_hash/q_sample_balanced. Selection order within a stratum is
    the content-addressed draw (md5(doc_id) over 1e6 buckets, doc_id
    tiebreak), so the sample is pseudorandom, reproducible, and STABLE
    under corpus growth in the same way as the other samplers: a document's
    draw never changes, so it only leaves the sample when enough
    lower-draw documents join its stratum.

    Scale shape: one lang-keyed window computes both the rank and the
    stratum size (same partitioning, one exchange); the quota filter is a
    rank predicate, so WindowGroupLimit-style pruning applies per stratum.
    ceil is integer arithmetic ((n·pct + 99) DIV 100) on both engines —
    no float thresholds to diverge."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 1_000_000
        ).alias("draw"),
    )
    w = Window.partitionBy("lang").orderBy("draw", "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
    )
    return ranked.where(
        F.col("rnk") <= F.expr(f"(n_lang * {STRAT_PCT} + 99) DIV 100")
    ).select("doc_id", "lang", "rnk")


# --------------------------------------------------------------------------
# M113: Poisson bootstrap — the distributed resampling scheme
# --------------------------------------------------------------------------

BOOT_REPLICATES = 20
# Inverse-CDF thresholds for Poisson(1) on a 32-bit hash-uniform:
# floor(P(X <= k) * 2^32) for k = 0..4 (draws capped at 5; dropped tail
# mass < 1e-4). Integer literals, so the weight assignment is exact and
# identical on both engines.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


def _pois_case_sql(v: str) -> str:
    arms = " ".join(
        f"WHEN {v} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {arms} ELSE 5 END"


@query(
    "q_sample_bootstrap",
    oracle=f"""
WITH drawn AS (
  SELECT gs.r AS replicate_id,
         {_pois_case_sql("CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '-' || CAST(gs.r AS VARCHAR)), 1, 8)) AS BIGINT)")} AS w,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders, unnest(generate_series(1, {BOOT_REPLICATES})) AS gs(r)
)
SELECT replicate_id,
       CAST(SUM(w) AS BIGINT) AS n_drawn,
       (ROUND(CAST(SUM(w * cents) AS DOUBLE) / (100 * SUM(w)) * 1e6, 0) / 1e6)
         AS mean_total
FROM drawn GROUP BY 1
""",
)
def q_sample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M113: Poisson bootstrap over orders — {BOOT_REPLICATES} resampled
    estimates of the mean order total, the spread of which is the
    bootstrap standard error. THE distributed form of the bootstrap
    (Chamandy et al., 'Estimating uncertainty for massive data streams',
    Google 2012; Kleiner et al.'s BLB is the blocked variant): instead of
    materializing n draws per replicate (a global shuffle per replicate),
    each row independently contributes Poisson(1) copies — a pure row-local
    weight, since Binomial(n, 1/n) → Poisson(1) at scale.

    Determinism: the weight is inverse-CDF over the 32-bit md5-uniform of
    (orderkey, replicate) against precomputed integer thresholds — no RNG
    state, reproducible forever, growth-stable as rows are added (same
    content-addressing contract as every sampler in this module). Plan:
    one row-local {BOOT_REPLICATES}x fan-out, one {BOOT_REPLICATES}-group
    aggregate with map-side partials; integer num/den keep each estimate
    insertion-order independent.

    sf1 probe: the 20x explode + per-copy md5
    is pure per-row CPU bound to the single-row-group scan's 1-4 tasks
    (sf1 noop 26.1 s / 7.4x on a 32-core session) — spread() the base scan
    first; identity at scale (guarded), and the content-addressed weights
    make the result partitioning-independent by construction."""
    o = spread(spark, table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"))
    drawn = o.select(
        "o_orderkey",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_REPLICATES))).alias("replicate_id"),
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).select(
        "replicate_id",
        "cents",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col("o_orderkey"), F.col("replicate_id"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("v"),
    )
    w = F.lit(5)
    for k, t in reversed(list(enumerate(_POIS_T))):
        w = F.when(F.col("v") < t, F.lit(k)).otherwise(w)
    weighted = drawn.withColumn("w", w)
    return weighted.groupBy("replicate_id").agg(
        F.sum("w").alias("n_drawn"),
        dround(
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / (F.lit(100) * F.sum("w")),
            6,
        ).alias("mean_total"),
    )


# --------------------------------------------------------------------------
# M126: temperature-scaled corpus mixing (the multilingual sampling rule)
# --------------------------------------------------------------------------

MIX_ALPHA_X10 = 7   # temperature alpha = 0.7 (mT5 / XLM-R standard)
MIX_BUDGET_PCT = 20  # total sample budget as % of the corpus


@query(
    "q_corpus_mix_temperature",
    oracle=f"""
WITH sizes AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         SUM(POW(n_docs, {MIX_ALPHA_X10} / 10.0)) AS z
  FROM sizes
),
rates AS (
  SELECT s.lang, s.n_docs,
         CAST(ROUND(LEAST(1.0,
             ({MIX_BUDGET_PCT} / 100.0) * t.n_total
             * POW(s.n_docs, {MIX_ALPHA_X10} / 10.0) / (t.z * s.n_docs)
           ) * 1e6, 0) AS BIGINT) AS keep_ppm
  FROM sizes s CROSS JOIN tot t
)
SELECT d.doc_id, d.lang, r.keep_ppm,
       CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % 1000000 AS bucket
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 1000000 < r.keep_ppm
""",
)
def q_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M126: temperature-scaled multilingual sampling (the mT5/XLM-R rule,
    Xue et al. 2021 §3.1): languages are sampled with probability
    proportional to n^alpha (alpha = {MIX_ALPHA_X10 / 10}), boosting
    low-resource languages relative to their raw share, under a total
    budget of {MIX_BUDGET_PCT}% of the corpus. Membership is
    content-addressed (md5 ppm bucket vs the per-language keep rate) —
    reproducible forever, growth-stable, no RNG (the q_corpus_mix
    discipline with a temperature numerator instead of fixed rates).

    Determinism: the keep rate's pow/division chain runs on identical
    exact-integer inputs on both engines and is rounded once to integer
    ppm; the per-doc filter is then pure integer comparison. Scale shape:
    language sizes are a tiny broadcast aggregate; the filter is a
    row-local expression over one scan — a 100 TB corpus mixes in one
    pass with no shuffle."""
    d = table(spark, sf_dir, "documents")
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    alpha = MIX_ALPHA_X10 / 10.0
    tot = sizes.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow("n_docs", F.lit(alpha))).alias("z"),
    )
    rates = sizes.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        rlong(
            F.least(
                F.lit(1.0),
                F.lit(MIX_BUDGET_PCT / 100.0)
                * F.col("n_total")
                * F.pow("n_docs", F.lit(alpha))
                / (F.col("z") * F.col("n_docs")),
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("keep_ppm"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return (
        d.join(F.broadcast(rates.select("lang", "keep_ppm")), "lang")
        .select("doc_id", "lang", "keep_ppm", bucket.alias("bucket"))
        .where(F.col("bucket") < F.col("keep_ppm"))
    )


# --------------------------------------------------------------------------
# M162: bootstrap confidence interval (composes the Poisson bootstrap)
# --------------------------------------------------------------------------

from recsys_spark_spark.registry import ORACLES as _ORACLES

BOOT_Z95 = 1.959963984540054  # Phi^-1(0.975), one literal for both engines


@query(
    "q_stat_bootstrap_ci",
    oracle=f"""
WITH reps AS ({{BOOT}}),
m AS (
  SELECT CAST(ROUND(mean_total * 100, 0) AS BIGINT) AS mc FROM reps
),
s AS (
  SELECT COUNT(*) AS b, CAST(SUM(mc) AS BIGINT) AS s1,
         CAST(SUM(mc * mc) AS BIGINT) AS s2,
         MIN(mc) AS lo, MAX(mc) AS hi
  FROM m
)
SELECT CAST(b AS BIGINT) AS n_replicates,
       ROUND(CAST(s1 AS DOUBLE) / b / 100 * 1e6, 0) / 1e6 AS boot_mean,
       ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / b)) / (b - 1)) / 100 * 1e6, 0) / 1e6 AS boot_se,
       ROUND((CAST(s1 AS DOUBLE) / b - {BOOT_Z95!r} * sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / b)) / (b - 1))) / 100 * 1e6, 0) / 1e6 AS ci95_lo,
       ROUND((CAST(s1 AS DOUBLE) / b + {BOOT_Z95!r} * sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / b)) / (b - 1))) / 100 * 1e6, 0) / 1e6 AS ci95_hi,
       ROUND(lo / 100.0 * 1e6, 0) / 1e6 AS rep_min,
       ROUND(hi / 100.0 * 1e6, 0) / 1e6 AS rep_max
FROM s
""",
)
def q_stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M162: bootstrap standard error + 95% normal-interval CI for the mean
    order total, composed directly from q_sample_bootstrap's
    {BOOT_REPLICATES} deterministic Poisson replicates (Chamandy'12's
    uncertainty step: the spread of the replicate estimates IS the
    sampling distribution). Emits the replicate mean, bootstrap SE,
    z-interval bounds (one shared z literal in both plans), and the
    replicate envelope.

    Shape: the replicate table is {BOOT_REPLICATES} rows — everything
    after the bootstrap's own one-pass aggregate is constant work.
    Exactness: replicate means quantize to exact cent integers before
    the (B, Σ, Σ²) fold, so the SE closed form sees identical integers
    on both engines. The engine side CALLS the registered bootstrap
    builder; the oracle SPLICES the registered bootstrap oracle verbatim
    (one definition of the resampler, the q_feature_store discipline)."""
    reps = q_sample_bootstrap(spark, sf_dir)
    m = reps.select(rlong(F.col("mean_total") * 100).cast("long").alias("mc"))
    s = m.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("mc").alias("s1"),
        F.sum(F.col("mc") * F.col("mc")).alias("s2"),
        F.min("mc").alias("lo"),
        F.max("mc").alias("hi"),
    )
    bd = F.col("b")
    s1d = F.col("s1").cast("double")
    mean_c = s1d / bd
    se_c = F.sqrt((F.col("s2").cast("double") - s1d * (s1d / bd)) / (bd - 1))
    return s.select(
        bd.cast("long").alias("n_replicates"),
        (rlong(mean_c / 100 * 1e6) / 1e6).alias("boot_mean"),
        (rlong(se_c / 100 * 1e6) / 1e6).alias("boot_se"),
        (rlong((mean_c - BOOT_Z95 * se_c) / 100 * 1e6) / 1e6).alias("ci95_lo"),
        (rlong((mean_c + BOOT_Z95 * se_c) / 100 * 1e6) / 1e6).alias("ci95_hi"),
        (rlong(F.col("lo") / 100.0 * 1e6) / 1e6).alias("rep_min"),
        (rlong(F.col("hi") / 100.0 * 1e6) / 1e6).alias("rep_max"),
    )


# Splice the registered bootstrap oracle verbatim into the CI oracle (same
# no-silent-no-op guard as llm/retrieval.py's CTE splice).
assert "{BOOT}" in _ORACLES["q_stat_bootstrap_ci"], "CI oracle placeholder missing"
_ORACLES["q_stat_bootstrap_ci"] = _ORACLES["q_stat_bootstrap_ci"].replace(
    "{BOOT}", _ORACLES["q_sample_bootstrap"].strip()
)
assert "{BOOT}" not in _ORACLES["q_stat_bootstrap_ci"]
assert "drawn" in _ORACLES["q_stat_bootstrap_ci"], "bootstrap splice no-opped"
