"""3.J dedup — exact and near-duplicate detection over `documents`.

The 100 TB dedup ladder:
  J1 exact    — md5 groupBy: one shuffle on a 16-byte key, trivially scalable.
  J2 near/SQL — token-set Jaccard restricted to *blocked* candidate pairs
                (same lang + same n_chars). Blocking is what keeps near-dup
                sub-quadratic; the block key is the knob (at 100 TB you'd use
                length buckets + a cheap signature instead of exact length).
  J2b n-gram  — word-bigram-shingle Jaccard over the same blocks: order-
                sensitive, so it separates true near-dups from token-reorder
                collisions that set-Jaccard scores 1.0.
  J2d embed   — embedding-cosine near-dup within coarse cells (label = the
                IVF/cluster assignment at scale): all-pairs only inside a
                cell, never globally.
  J3 MinHash  — MLlib MinHashLSH banded approximate join: the real scale
                path, O(n·bands) candidates instead of O(n²).
  J3b exact   — the same banded MinHash algorithm with an explicit
                deterministic hash family: seed-free, engine-portable, and
                therefore exact-oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import checkpoint, memo, spread, state_partitions, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.llm.similarity import _scaled_dot
from recsys_spark_spark.registry import query


@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: exact dedup — keep the smallest doc_id per content hash."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- duplicate-mass cap: collapse exact copies, pair classes, expand -------
#
# Exact copies make every pair operator quadratic in the copy count: c
# copies of one text in a block are c²/2 candidate pairs, each paying the
# full token or signature work, and a real corpus has mega-duplicated
# boilerplate. The pair operators below therefore run on one representative
# per exact-copy class and expand the result back to document pairs.
#
# Exactness: a class key fixes the text (md5(text) or the text itself), and
# identical text has identical tokens, shingles, lengths and signatures. So
# a pair of members drawn from two classes has exactly the score of the
# representatives' pair, and a pair inside one class is a pair of identical
# texts, whose score is a constant (Jaccard 1.0, distance 0.0). The pair
# work is class-sized; the expansion is output-sized, and those pairs exist.


def _exact_dup_groups(d: DataFrame, *key: str) -> tuple[DataFrame, DataFrame]:
    """Collapse exact copies of `d` (doc_id plus columns) into classes of
    equal `key` columns. Returns (groups, mem): groups holds one row per
    class, with the key, the MIN doc_id as representative, that document's
    value of every other column of `d`, and the multiplicity m; mem is the
    member map (rep, doc_id), one row per document."""
    carry = [c for c in d.columns if c != "doc_id" and c not in key]
    groups = d.groupBy(*key).agg(
        F.min("doc_id").alias("doc_id"),
        *[F.min_by(c, "doc_id").alias(c) for c in carry],
        F.count(F.lit(1)).alias("m"),
    )
    mem = d.join(
        groups.select(*key, F.col("doc_id").alias("rep")), list(key)
    ).select("rep", "doc_id")
    return groups, mem


def _text_classes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """_exact_dup_groups over `documents` keyed by (md5(text), lang,
    n_chars): the blocks of the near-dup operators are class-constant."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    return _exact_dup_groups(d.withColumn("h", F.md5("text")), "h", "lang", "n_chars")


def _expand_pairs(rep_pairs: DataFrame, mem: DataFrame, within: float) -> DataFrame:
    """Class pairs (d1, d2, score) plus the member map (rep, doc_id) ->
    document pairs (d1 < d2, score): each cross-class member pair takes its
    classes' score, each within-class pair the constant `within`."""
    score = rep_pairs.columns[2]
    ma = mem.select(F.col("rep").alias("d1"), F.col("doc_id").alias("da"))
    mb = mem.select(F.col("rep").alias("d2"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(ma, "d1")
        .join(mb, "d2")
        .select(F.least("da", "db").alias("d1"), F.greatest("da", "db").alias("d2"), score)
    )
    wa = mem.select("rep", F.col("doc_id").alias("d1"))
    wb = mem.select("rep", F.col("doc_id").alias("d2"))
    same = (
        wa.join(wb, "rep")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.lit(within).alias(score))
    )
    return cross.unionAll(same)


@query(
    "q_dedup_near_sql",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
), cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok t1 ON t1.doc_id = c.d1
  JOIN tok t2 ON t2.doc_id = c.d2 AND t2.token = t1.token
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(n_common / (s1.n + s2.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE n_common / (s1.n + s2.n - n_common) >= 0.9
""",
)
def q_dedup_near_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: blocked token-Jaccard near-dup candidates (threshold 0.9).

    Runs on the exact-copy classes (_exact_dup_groups); the class pairs of
    one (lang, n_chars) block go through the token-Jaccard verifier
    (_jaccard_edges). Identical texts always share a token (split() yields
    at least one, as DuckDB string_split does), so every within-class pair
    is in the oracle at jaccard 1.0."""
    groups, mem = _text_classes(spark, sf_dir)
    a = groups.select(F.col("doc_id").alias("d1"), "lang", "n_chars")
    b = groups.select(F.col("doc_id").alias("d2"), "lang", "n_chars")
    cand = a.join(b, ["lang", "n_chars"]).where(F.col("d1") < F.col("d2")).select("d1", "d2")
    return _expand_pairs(_jaccard_edges(groups, cand), mem, 1.0)


@query(
    "q_dedup_ngram",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, s
  FROM toks, unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS u(s)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d1
  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(n_common / (s1.n + s2.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
""",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2b: word-bigram-shingle Jaccard over blocked candidate pairs.

    Order-sensitive near-dup: documents with identical token *sets* but
    shuffled order (which set-Jaccard J2 scores 1.0) share few bigram
    shingles. Same (lang, n_chars) blocking as J2 keeps it sub-quadratic;
    shingling is a per-row array transform (no shuffle), the candidate join
    and intersection are both block-keyed.

    Runs on the exact-copy classes (_exact_dup_groups). A document with
    fewer than two tokens has no shingle and so no pair in the oracle, even
    with its own copies: only classes with a shingle are expanded."""
    groups, mem = _text_classes(spark, sf_dir)
    toks = groups.select("doc_id", F.split("text", " ").alias("t"))
    # sequence(1, size-1) descends when size < 2 — guard to an empty list
    # (matches DuckDB generate_series, which is empty when stop < start).
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    sh = toks.select("doc_id", F.explode(F.array_distinct(bigrams)).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = groups.select(F.col("doc_id").alias("d1"), "lang", "n_chars")
    b = groups.select(F.col("doc_id").alias("d2"), "lang", "n_chars")
    cand = a.join(b, ["lang", "n_chars"]).where(F.col("d1") < F.col("d2")).select("d1", "d2")
    s1 = sh.select(F.col("doc_id").alias("d1"), "s")
    s2 = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        cand.join(s1, "d1")
        .join(s2, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    rep_pairs = (
        inter.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )
    shingled = mem.join(sizes.select(F.col("doc_id").alias("rep")), "rep")
    return _expand_pairs(rep_pairs, shingled, 1.0)


_EMBED_DEDUP_TAU = 0.2
_EMBED_DEDUP_TOPK = 5

_EMBED_DEDUP_ORACLE = f"""
WITH ve AS (
  SELECT vec_id, label, gs.i, CAST(embedding[gs.i] AS DOUBLE) AS vx
  FROM embeddings, generate_series(1, 64) gs(i)
), pair_sums AS (
  SELECT a.label, a.vec_id AS v1, b.vec_id AS v2,
         SUM(CAST(ROUND(a.vx * b.vx * 1e12, 0) AS BIGINT)) AS dot_s
  FROM ve a JOIN ve b ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
), norms AS (
  SELECT vec_id, SUM(CAST(ROUND(vx * vx * 1e12, 0) AS BIGINT)) AS n_s
  FROM ve GROUP BY 1
), scored AS (
  SELECT label, v1, v2,
         ROUND((dot_s / 1e12) / (SQRT(na.n_s / 1e12) * SQRT(nb.n_s / 1e12)), 6) AS cosine
  FROM pair_sums
  JOIN norms na ON na.vec_id = v1
  JOIN norms nb ON nb.vec_id = v2
)
SELECT label, v1, v2, cosine, rnk FROM (
  SELECT label, v1, v2, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY cosine DESC, v1, v2) AS BIGINT) AS rnk
  FROM scored WHERE cosine >= {_EMBED_DEDUP_TAU}
) WHERE rnk <= {_EMBED_DEDUP_TOPK}
"""


@query("q_dedup_embedding", oracle=_EMBED_DEDUP_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2d: embedding-cosine near-dup — top near-dup pairs per coarse cell.

    All-pairs cosine is computed only *within* a cell (the `label` column;
    at 100 TB this is the IVF/k-means cell id, so per-cell work is bounded
    and the join never goes global). Pairs over the threshold are ranked per
    cell; the zip_with/aggregate scaled-integer dot keeps the fold JVM-side
    and bit-identical across engines and partitionings.

    Duplicate-mass cap (an sf1 probe measured **80.4×** for 10× data — the
    repo's worst densification: exact-duplicate vectors multiply the
    within-cell pair count by copies², each pair paying a 64-lane dot
    fold). The dot/cosine work now runs on ONE representative per
    (label, embedding) class (bitwise-identical vectors ⇒ identical dot,
    norm, cosine), and the top-K head makes the expansion BOUNDED, not just
    output-sized:

      * records: rep-pair rows (cnt = m1·m2) + self rows for m ≥ 2 groups
        (cosine exactly 1.0 — x/(√x·√x) is within 2 ulps of 1 on both
        engines, far inside the 6dp rounding step; cnt = C(m,2) via
        integer div);
      * class prefilter: a cosine class survives iff the expanded mass of
        strictly-higher classes is < K (whole classes kept, so boundary
        ties stay exact);
      * member heads: per group only the K+1 (cross) / K+2 (self) smallest
        vec_ids generate pairs. Exactness: a record's pairs that can enter
        the global top-K are its lexicographically smallest ≤ K (within a
        cosine class the global order is (v1, v2), and a record's own
        pairs are totally ordered), and the head set always generates a
        record's K smallest pairs — any pair it skips has ≥ K+1
        strictly-smaller same-record pairs. Hence every pair preceding a
        true top-K pair is itself top-K and therefore generated, so
        candidate row_number == true row_number on every emitted row.

    Work per cell is unique-vector-sized; a mega-duplicated vector (m in
    the millions) costs one integer and K+2 head rows instead of C(m,2)
    dot folds. Oracle unchanged (doc-level SQL over raw embeddings)."""
    e = table(spark, sf_dir, "embeddings")
    k = _EMBED_DEDUP_TOPK
    wg = Window.partitionBy("label", "embedding")
    e2 = e.select("label", "vec_id", "embedding").withColumn(
        "gid", F.min("vec_id").over(wg)
    )
    mem = e2.select("label", "gid", "vec_id")
    wm = Window.partitionBy("gid").orderBy("vec_id")
    mem_head = mem.withColumn("mrn", F.row_number().over(wm)).where(
        F.col("mrn") <= k + 2
    )
    g = (
        e2.withColumn("m", F.count(F.lit(1)).over(wg))
        .where(F.col("vec_id") == F.col("gid"))
        .select("label", "gid", "embedding", "m")
    )
    norms = g.select(
        "gid", (_scaled_dot(F.col("embedding"), F.col("embedding")) / F.lit(1e12)).alias("n")
    )
    a = g.select(
        "label", F.col("gid").alias("g1"), F.col("embedding").alias("e1"),
        F.col("m").alias("m1"),
    )
    b = g.select(
        "label", F.col("gid").alias("g2"), F.col("embedding").alias("e2"),
        F.col("m").alias("m2"),
    )
    na = norms.select(F.col("gid").alias("g1"), F.col("n").alias("n1"))
    nb = norms.select(F.col("gid").alias("g2"), F.col("n").alias("n2"))
    cross = (
        a.join(b, "label")
        .where(F.col("g1") < F.col("g2"))
        .select(
            "label", "g1", "g2", "m1", "m2",
            (_scaled_dot(F.col("e1"), F.col("e2")) / F.lit(1e12)).alias("dot"),
        )
        .join(F.broadcast(na), "g1")
        .join(F.broadcast(nb), "g2")
        .select(
            "label", "g1", "g2",
            F.round(F.col("dot") / (F.sqrt("n1") * F.sqrt("n2")), 6).alias("cosine"),
            (F.col("m1") * F.col("m2")).alias("cnt"),
        )
        .where(F.col("cosine") >= _EMBED_DEDUP_TAU)
    )
    selfs = g.where(F.col("m") >= 2).select(
        "label", F.col("gid").alias("g1"), F.col("gid").alias("g2"),
        F.lit(1.0).alias("cosine"),
        F.expr("(m * (m - 1)) div 2").alias("cnt"),
    )
    records = cross.unionAll(selfs)
    cls = records.groupBy("label", "cosine").agg(F.sum("cnt").alias("ccnt"))
    wc = (
        Window.partitionBy("label")
        .orderBy(F.col("cosine").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_cls = (
        cls.withColumn("higher", F.coalesce(F.sum("ccnt").over(wc), F.lit(0)))
        .where(F.col("higher") < k)
        .select("label", "cosine")
    )
    kept = records.join(kept_cls, ["label", "cosine"])
    h1 = mem_head.where(F.col("mrn") <= k + 1).select(
        F.col("gid").alias("g1"), F.col("vec_id").alias("va")
    )
    h2 = mem_head.where(F.col("mrn") <= k + 1).select(
        F.col("gid").alias("g2"), F.col("vec_id").alias("vb")
    )
    cross_pairs = (
        kept.where(F.col("g1") != F.col("g2"))
        .join(h1, "g1")
        .join(h2, "g2")
        .select(
            "label",
            F.least("va", "vb").alias("v1"),
            F.greatest("va", "vb").alias("v2"),
            "cosine",
        )
    )
    s1 = mem_head.select(F.col("gid").alias("g1"), F.col("vec_id").alias("va"))
    s2 = mem_head.select(F.col("gid").alias("g1"), F.col("vec_id").alias("vb"))
    self_pairs = (
        kept.where(F.col("g1") == F.col("g2"))
        .join(s1, "g1")
        .join(s2, "g1")
        .where(F.col("va") < F.col("vb"))
        .select(
            "label", F.col("va").alias("v1"), F.col("vb").alias("v2"), "cosine"
        )
    )
    allp = cross_pairs.unionAll(self_pairs)
    w = Window.partitionBy("label").orderBy(F.col("cosine").desc(), "v1", "v2")
    return (
        allp.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("label", "v1", "v2", "cosine", "rnk")
    )


@query("q_dedup_minhash_lsh")  # rows-only: LSH banding is seed-dependent
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: MinHash-LSH near-dup at scale — shingle→minhash→band→bucket join
    via MLlib's seeded MinHashLSH.

    Runs on the exact-copy classes of `text` (_exact_dup_groups): exact
    copies land in every bucket together, and MLlib's bucket self-join
    grows as copies² inside a single task (one 5-10 min task in every sf0.1
    sweep before the collapse). Within-class pairs are at distance 0.0,
    always inside the 0.2 threshold.

    Fitting CountVectorizer on the classes rather than the documents
    changes term frequencies and so the vocabulary order, which permutes
    the seeded MinHash values: candidate recall for non-identical pairs
    differs from a document-level fit, so row counts are not comparable
    with one. The behavioral contract is the recall gate
    (tests/test_recall.py::test_mllib_minhash_lsh_recall, >= 0.9 against
    an independent exact-Jaccard truth set)."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, Tokenizer
    from pyspark.ml.functions import vector_to_array

    g, mem = _exact_dup_groups(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "text"
    )
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(
        g.select("doc_id", "text")
    )
    cv = CountVectorizer(inputCol="tokens", outputCol="features", binary=True, minDF=1.0)
    model = cv.fit(toks)
    vecs = model.transform(toks).select("doc_id", "tokens", "features")
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    lsh_model = lsh.fit(vecs)
    # Banded candidate join spelled out instead of approxSimilarityJoin —
    # SAME MLlib hashing (seeded fit/transform, identical buckets), same
    # output, radically less work. approxSimilarityJoin builds
    # `explode(hashes) ⋈ explode(hashes)` then `.distinct()` then filters
    # on its keyDistance UDF; Catalyst pushes
    # that deterministic UDF filter BELOW the distinct into the join
    # condition, so the Jaccard UDF runs once per raw bucket COLLISION —
    # measured 122.5M evaluations at sf0.1 for 2.96M distinct candidates
    # (41×), 356 s of CPU in a single task (the bytes-tiny rep aggregate
    # also left the whole chain on ONE AQE-coalesced partition). Here the
    # candidate pairs are reduced to distinct (d1, d2) FIRST, and the
    # distance — identical arithmetic to MinHashLSH.keyDistance: 1 −
    # |A∩B|/|A∪B| over the binary-feature index sets, which for this
    # untruncated vocabulary are exactly the distinct-token sets — is
    # computed once per candidate from broadcast-joined token sets. The
    # rep set is also spread across the session's parallelism (the 0.8 MB
    # aggregate otherwise serializes the hashing + join on one task).
    par = spark.sparkContext.defaultParallelism
    ex = (
        lsh_model.transform(vecs.repartition(par))
        .select("doc_id", F.posexplode("hashes").alias("entry", "hv"))
        .select("doc_id", "entry", vector_to_array("hv")[0].alias("h"))
    )
    ea = ex.select(F.col("doc_id").alias("d1"), "entry", "h")
    eb = ex.select(F.col("doc_id").alias("d2"), "entry", "h")
    cand = (
        ea.join(eb, ["entry", "h"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    # Distance representation: array_intersect/array_distinct per candidate
    # measured 439.5 s wall / ~14,000 s CPU for the 12.4M distinct
    # candidates at sf0.1 (~1 ms/pair — the per-call hash-set build
    # dominates), vs 9.3 s for candidate generation itself. When the fitted
    # vocabulary fits in 64 bits — known on the driver from
    # len(model.vocabulary); 31 at every test SF of this template corpus —
    # each distinct-token set is a bitmask and the SAME integers |A∩B| /
    # |A∪B| are bit_count(m1&m2) / bit_count(m1|m2): identical doubles out
    # of the identical division, at ~ns/pair. Bit 63 is the sign bit of the
    # long (py4j passes no literal above 2^63 - 1). Vocabularies wider than
    # 64 keep the array path.
    vocab = model.vocabulary
    if len(vocab) <= 64:
        vmap = F.create_map(
            *[
                F.lit(x)
                for i, tok in enumerate(vocab)
                for x in (tok, 1 << i if i < 63 else -(1 << 63))
            ]
        )
        mask = F.aggregate(
            F.array_distinct("tokens"),
            F.lit(0).cast("long"),
            lambda acc, t: acc.bitwiseOR(F.element_at(vmap, t)),
        )
        tok_sets = vecs.select("doc_id", mask.alias("ts"))
        inter = F.bit_count(F.col("ta").bitwiseAND(F.col("tb")))
        union = F.bit_count(F.col("ta").bitwiseOR(F.col("tb")))
    else:
        tok_sets = vecs.select("doc_id", F.array_distinct("tokens").alias("ts"))
        inter = F.size(F.array_intersect("ta", "tb"))
        union = F.size("ta") + F.size("tb") - inter
    ta = F.broadcast(tok_sets.select(F.col("doc_id").alias("d1"), F.col("ts").alias("ta")))
    tb = F.broadcast(tok_sets.select(F.col("doc_id").alias("d2"), F.col("ts").alias("tb")))
    dist = F.lit(1.0) - inter / union
    rep_pairs = (
        cand.join(ta, "d1")
        .join(tb, "d2")
        .where(dist < 0.2)
        .select("d1", "d2", F.round(dist, 6).alias("jaccard_dist"))
    )
    return _expand_pairs(rep_pairs, mem, 0.0)


@query(
    "q_dedup_simhash",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(token), 25, 8)) AS BIGINT) AS h
  FROM tok
), bits AS (
  SELECT doc_id, gs.b AS bit,
         CASE WHEN SUM(CASE WHEN (h >> CAST(gs.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bitval
  FROM hashed, generate_series(0, 15) gs(b)
  GROUP BY doc_id, gs.b
)
SELECT doc_id, CAST(SUM(bitval * CAST(pow(2, bit) AS BIGINT)) AS BIGINT) AS simhash16
FROM bits GROUP BY 1
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2c: 16-bit SimHash fingerprint per document (Charikar 2002).

    Token hash must be engine-portable: Spark hash() is Murmur3(seed 42) and
    DuckDB hash() differs, so both sides use the last 8 hex digits of
    md5(token) as a 32-bit integer. Near-dup docs then differ in few bits
    (hamming distance over simhash16 — a bucket-join key at scale).

    sf1 probe: the tokenize+md5 fan-out is pure
    per-row CPU bound to the single-row-group scan's 1-2 tasks (sf1 noop
    15.4 s, 9.9× for 10× data on a 32-core session) — spread() round-robins
    the doc scan across the session first; identity at scale (guarded).
    """
    d = table(spark, sf_dir, "documents")
    tok = spread(spark, d.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 25, 8), 16, 10).cast("long").alias("h"),
    )
    bits = (
        hashed.join(F.broadcast(spark.range(0, 16).select(F.col("id").cast("int").alias("bit"))))
        .groupBy("doc_id", "bit")
        .agg(
            F.when(
                F.sum(F.when(F.expr("(h >> bit) & 1 = 1"), 1).otherwise(-1)) >= 0, 1
            )
            .otherwise(0)
            .alias("bitval")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.col("bitval") * F.pow(2, "bit").cast("long")).cast("long").alias("simhash16")
    )


@query(
    "q_dedup_near_bucketed",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
), cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 32 AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok t1 ON t1.doc_id = c.d1
  JOIN tok t2 ON t2.doc_id = c.d2 AND t2.token = t1.token
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(n_common / (s1.n + s2.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE n_common / (s1.n + s2.n - n_common) >= 0.9
""",
)
def q_dedup_near_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2c: token-Jaccard near-dup with length-BUCKET blocking — closes J2's
    recall hole (exact n_chars equality misses near-dups whose length differs
    by even one character).

    Semantics: pairs with equal lang, |n_chars difference| <= 32, Jaccard >=
    0.9. The |diff| <= 32 predicate is NOT evaluated all-pairs: each doc is
    assigned bucket floor(n_chars/32), the probe side additionally emits
    bucket+1, and the equi-join on (lang, bucket) covers every qualifying
    pair (length diff <= 32 implies bucket diff <= 1) — sub-quadratic and
    shuffle-keyed exactly like the other blocked dedup variants; the exact
    length predicate then prunes within blocks. Canonical (least, greatest)
    ordering + distinct collapses the double coverage of same-bucket pairs.

    Runs on the exact-copy classes (_exact_dup_groups): an sf1 probe
    measured **37.9×** for 10× data as exact copies densified the length
    buckets. Within-class pairs have |n_chars diff| = 0 and jaccard 1.0."""
    groups, mem = _text_classes(spark, sf_dir)
    return _expand_pairs(_near_dup_edges(groups), mem, 1.0)


def _token_mask_cols(tokcol: str) -> list:
    """256-bit token-bitmask aggregate columns mk0..mk3 (4 longs, bit
    pmod(xxhash64(tok), 256)) — the shared prefilter primitive of the
    exact dedup/similarity verifiers: a token's bit is set in a doc's mask
    iff the doc contains the token, so popcount identities give sound
    bounds on intersection/union without touching the token arrays."""
    return [
        F.bit_or(
            F.expr(
                f"CASE WHEN pmod(xxhash64({tokcol}), 256) DIV 64 = {w} "
                f"THEN shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({tokcol}), 64) AS INT)) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias(f"mk{w}")
        for w in range(4)
    ]


def _mask_prefilter(cand: DataFrame, meta: DataFrame, keep) -> DataFrame:
    """Candidate pairs (d1, d2, ...) joined to both sides' row of `meta`
    (doc_id, mk0..mk3 from _token_mask_cols, and other columns; column c
    joins as c1 and c2), keeping those where `keep(pu)` holds. pu =
    popcount(m1|m2) counts the bits either doc sets, and each bit needs a
    token of A∪B, so pu <= |A∪B|: a threshold on the union bounds pu, and
    only provable non-pairs are pruned."""
    m1, m2 = (
        meta.select(
            *[F.col(c).alias(f"d{s}" if c == "doc_id" else f"{c}{s}") for c in meta.columns]
        )
        for s in (1, 2)
    )
    pu = sum(F.bit_count(F.col(f"mk{w}1").bitwiseOR(F.col(f"mk{w}2"))) for w in range(4))
    return cand.join(m1, "d1").join(m2, "d2").where(keep(pu))


def _jaccard_edges(d: DataFrame, cand: DataFrame) -> DataFrame:
    """The candidate pairs (d1 < d2) of `d` (doc_id, text) whose
    distinct-token Jaccard is >= 0.9, as (d1, d2, jaccard rounded to 6dp).

    Size + 256-bit-bitmask prefilter before the exact token intersect. Both
    prunes are NECESSARY conditions for J = c/(n1+n2-c) >= 0.9 (integer
    arithmetic, c = |A∩B| <= min(n1,n2)):
      * size:  J >= 0.9 ⟺ 19c >= 9(n1+n2) ⟹ 10·min(n1,n2) >= 9·max(n1,n2);
      * mask:  10c >= 9u ⟹ 10(n1+n2) >= 19u >= 19·pu (u = |A∪B|).
    Survivors take the unchanged exact intersect, so the edge set and the
    rounded jaccard are byte-identical. At the fixture token counts (~23
    distinct tokens/doc vs 256 bits) mask collisions are rare: measured at
    sf0.1 on the bucketed candidates, 405,168 -> 101,806 survivors (75%
    pruned; 67,800 true edges) before any token fan-out."""
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    meta = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *_token_mask_cols("token")
    )
    pre = _mask_prefilter(
        cand,
        meta,
        lambda pu: (F.least("n1", "n2") * 10 >= F.greatest("n1", "n2") * 9)
        & ((F.col("n1") + F.col("n2")) * 10 >= pu * 19),
    ).select("d1", "d2", "n1", "n2")
    # An explicit width-pinned repartition on d1 before the token fan-out
    # was tried and reverted on measurement: it demoted the token joins
    # from broadcast to shuffle (stage CPU 19 s -> 60 s) and its wider
    # partitioning leaked into the downstream label-propagation checkpoints
    # (6 extra 66-task tiny stages per round).
    t1 = tok.select(F.col("doc_id").alias("d1"), "token")
    t2 = tok.select(F.col("doc_id").alias("d2"), "token")
    inter = (
        pre.join(t1, "d1")
        .join(t2, ["d2", "token"])
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return inter.where(jac >= 0.9).select("d1", "d2", F.round(jac, 6).alias("jaccard"))


def _near_dup_edges(d: DataFrame) -> DataFrame:
    """The J2c length-bucketed token-Jaccard edges of any (doc_id, lang,
    n_chars, text) frame — shared by the pair query and the cluster
    builder."""
    base = d.select("doc_id", "lang", "n_chars", (F.col("n_chars") / 32).cast("long").alias("bkt"))
    probe = base.select(
        "doc_id", "lang", "n_chars", F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bkt")
    )
    x = probe.select(
        F.col("doc_id").alias("xd"), "lang", F.col("n_chars").alias("xn"), "bkt"
    )
    y = base.select(F.col("doc_id").alias("yd"), "lang", F.col("n_chars").alias("yn"), "bkt")
    cand = (
        x.join(y, ["lang", "bkt"])
        .where(
            (F.col("xd") != F.col("yd"))
            & (F.abs(F.col("xn") - F.col("yn")) <= 32)
        )
        .select(
            F.least("xd", "yd").alias("d1"),
            F.greatest("xd", "yd").alias("d2"),
        )
        .distinct()
    )
    return _jaccard_edges(d, cand)


_CLUSTER_EDGES_CTE = """tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
), cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 32 AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok t1 ON t1.doc_id = c.d1
  JOIN tok t2 ON t2.doc_id = c.d2 AND t2.token = t1.token
  GROUP BY 1, 2
), edges AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE n_common / (s1.n + s2.n - n_common) >= 0.9
)"""


@query(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_CLUSTER_EDGES_CTE},
sym AS (
  SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id,
       CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster,
       (a = LEAST(a, MIN(b))) AS is_rep
FROM reach GROUP BY a
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2d: near-dup connected components — the 'keep one per cluster' step a
    training-data dedup pipeline runs after pair finding.

    Clusters are connected components of the J2c near-dup graph (bucketed
    token-Jaccard >= 0.9); each doc gets the MIN doc_id of its component as
    cluster id, and the representative (is_rep) is the doc that equals it.

    Iterative min-label propagation: every node starts with its own id; each
    round takes the min of its label and its neighbors' labels; converges in
    O(component diameter) rounds. This is the scalable CC algorithm — each
    round is one shuffle-keyed join + aggregate, no driver-side graph, and
    the label frame is checkpointed per round so lineage (and the
    re-execution cost of the whole upstream near-dup pipeline) does not grow
    with iterations. The driver-side loop-with-convergence-check is the
    standard Spark pattern for iterative algorithms (same shape MLlib uses);
    the per-round count() action is one tiny aggregate. The DuckDB oracle
    states the fixpoint declaratively via a recursive CTE — dup clusters are
    small by construction (the cap is component size, not corpus size), so
    the closure stays bounded.

    Runs on the exact-copy classes (_exact_dup_groups): an sf1 probe
    measured 26.5× for 10× data as c copies in a bucket cost c²/2
    candidate pairs and a clique of propagation edges. The edges are the
    classes' near-dup edges plus a STAR edge from each representative to
    each other member (an exact J=1 pair in the document graph). A
    duplicate clique and its star have the same connected components, and
    because every representative is its class's MIN doc_id, the
    component-min labels are unchanged. The node set is unchanged too: a
    doc has degree ≥ 1 iff it has a copy or its representative has a
    near-dup edge."""
    groups, mem = _text_classes(spark, sf_dir)
    star = mem.where(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("d1"), F.col("doc_id").alias("d2")
    )
    return connected_components(_near_dup_edges(groups).select("d1", "d2").unionAll(star))


def connected_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation + pointer jumping over an undirected edge list
    (d1, d2) → (doc_id, cluster, is_rep) for every node with degree >= 1.

    Each round does (a) a neighbor step — every node takes the min of its
    own label and its neighbors' labels — and (b) a pointer-jump step —
    label(x) ← label(label(x)) — so the component minimum spreads along
    label chains exponentially: O(log diameter) rounds instead of
    O(diameter) (at sf0.1 the pure neighbor loop took 11
    rounds of ~8 scheduler-bound stages each; with jumping it converges in
    4). Both steps only ever REPLACE a label with a smaller same-component
    label, and the loop exits on a no-change round, which in particular
    means the neighbor step alone changed nothing — exactly the fixpoint
    condition of the original algorithm, so the result is byte-identical.

    Checkpointed state (sym, per-round labels) is coalesced to a
    byte-derived partition budget (catalog.state_partitions: 64 MB per
    partition, 1 locally, ~320 for a 20 GB edge set) — the
    KB-sized label frame otherwise re-materializes on the session's full
    shuffle width every round, paying dozens of task launches for
    microseconds of work. A round is one checkpoint: the half-step is not
    materialized on its own, and the changed-count is an ``Observation`` on
    the checkpointed step (the round's old label is carried as a column),
    so the convergence check runs no job of its own.
    `max_rounds` is a safety bound; hitting it raises instead of returning
    silently-wrong labels. Property-tested against a union-find reference
    in tests/test_cf_property.py.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    sym = checkpoint(
        edges.union(edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
    )
    p = state_partitions(sym.count(), row_bytes=16)
    sym = checkpoint(sym.coalesce(p))
    # nodes that appear in at least one dup pair; singletons are not clusters
    labels = checkpoint(
        sym.select(F.col("d1").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .coalesce(p)
    )
    for _ in range(max_rounds):
        neigh = (
            sym.join(labels, sym.d2 == labels.doc_id)
            .groupBy(F.col("d1").alias("doc_id"))
            .agg(F.min("label").alias("nl"))
        )
        half = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("label"),
        )
        # pointer jump on the half-step: follow my label's label (labels only
        # decrease and stay within the component, so l2 <= label and the
        # least() is a safety identity when the join misses). Both sides of
        # the join read the same exchanges of `half`.
        ptr = half.select(F.col("doc_id").alias("_pk"), F.col("label").alias("_l2"))
        moved = Observation()
        step = checkpoint(
            half.join(ptr, half.label == ptr._pk, "left")
            .select(
                "doc_id",
                "_old",
                F.least(F.col("label"), F.coalesce("_l2", F.col("label"))).alias("label"),
            )
            .coalesce(p)
            .observe(moved, F.count(F.when(F.col("label") != F.col("_old"), 1)).alias("n"))
        )
        changed = moved.get["n"]
        labels = step.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds "
            f"({changed} labels still changing); raise max_rounds — returning "
            "here would yield wrong cluster labels"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster"),
        (F.col("doc_id") == F.col("label")).alias("is_rep"),
    )


# --- J3b: exact-oracled MinHash-LSH (deterministic hash family) -------------
#
# MLlib's MinHashLSH (q_dedup_minhash_lsh above) is seed-dependent, so the
# driver can only rows-check it. This variant implements the identical
# shingle→minhash→band→bucket-join algorithm with an explicit, engine-portable
# hash family, making the *scale path itself* exact-oracle-verifiable:
#   shingle hash  s = last-8-hex(md5(shingle)) mod p        (p = 2^31 − 1)
#   h_i(s)        = (a_i·s + b_i) mod p,  a_i = (i·2654435761 + 1) mod p,
#                                         b_i = i·40503 + 7
#   signature     = [min_s h_i(s)]  for i in 0..15
#   bands         = 4 bands × 4 rows; bucket key = md5("m_j,m_j+1,m_j+2,m_j+3")
# All arithmetic stays < 2^63 ((p−1)² ≈ 2^62), so both engines compute it
# exactly. Candidates = pairs sharing ≥1 band bucket — O(n·bands), never O(n²).

_MH_P = 2_147_483_647
_MH_K = 16
_MH_BAND = 4

_MINHASH_EXACT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, s
  FROM toks, unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS u(s)
), hashed AS (
  SELECT doc_id, CAST(('0x' || substring(md5(s), 25, 8)) AS BIGINT) % {_MH_P} AS sm
  FROM sh
), minh AS (
  SELECT doc_id, CAST(gs.i AS BIGINT) AS i,
         MIN(((gs.i * 2654435761 + 1) % {_MH_P} * sm + (gs.i * 40503 + 7)) % {_MH_P}) AS mh
  FROM hashed, generate_series(0, {_MH_K - 1}) gs(i)
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, CAST(i // {_MH_BAND} AS BIGINT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bucket
  FROM minh GROUP BY 1, 2
), shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sig AS (
  SELECT c.d1, c.d2, SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS n_eq
  FROM shared c
  JOIN minh m1 ON m1.doc_id = c.d1
  JOIN minh m2 ON m2.doc_id = c.d2 AND m2.i = m1.i
  GROUP BY 1, 2
)
SELECT s.d1, s.d2, sh2.n_shared_bands,
       ROUND(n_eq / {_MH_K}.0, 6) AS est_jaccard
FROM sig s JOIN shared sh2 ON sh2.d1 = s.d1 AND sh2.d2 = s.d2
"""


@memo
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, mh): the 16-lane MinHash signature table, persisted.

    Signatures feed three branches (banding + both sides of the per-pair
    agreement join); without the persist each branch replays the whole
    shingle→md5→16-lane-min chain. Shingling is row-local; the 16 hash
    lanes fan out via a broadcast of a 16-row range (the only nested-loop
    join in the chain — over 16 rows); the signature build is one shuffle
    keyed by doc_id."""
    # spread the single-row-group corpus scan — shingling + md5 + the
    # 16-lane fan-out otherwise run single-core on the scan's one task
    # (4.3 s 1-task stage at sf0.1; identity on a real multi-file table).
    return _mh_signature_frame(spark, spread(spark, table(spark, sf_dir, "documents")))


def _mh_signature_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """16-lane MinHash signatures for any (doc_id, text, ...) frame — the
    deterministic hash family shared by the doc-level pair query and the
    representative-level contamination audit."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    sh = toks.select("doc_id", F.explode(F.array_distinct(bigrams)).alias("s"))
    hashed = sh.select(
        "doc_id",
        (F.conv(F.substring(F.md5("s"), 25, 8), 16, 10).cast("long") % _MH_P).alias("sm"),
    )
    lanes = F.broadcast(spark.range(0, _MH_K).select(F.col("id").alias("i")))
    return (
        hashed.join(lanes)
        .select(
            "doc_id",
            "i",
            (
                ((F.col("i") * 2654435761 + 1) % _MH_P * F.col("sm")
                 + (F.col("i") * 40503 + 7)) % _MH_P
            ).alias("h"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("h").alias("mh"))
    )


def _mh_pairs_frame(sigs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs + signature-agreement est_jaccard over a
    signature frame — the q_dedup_minhash_exact chain, factored so it can
    run on exact-duplicate REPRESENTATIVES (duplicate-mass cap) as well as
    raw documents."""
    bands = (
        sigs.withColumn("band", (F.col("i") / _MH_BAND).cast("long"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "mh"))),
                        lambda x: x["mh"].cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket")
        )
    )
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "bucket")
    shared = (
        a.join(b, ["band", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    m1 = sigs.select(F.col("doc_id").alias("d1"), "i", F.col("mh").alias("mh1"))
    m2 = sigs.select(F.col("doc_id").alias("d2"), "i", F.col("mh").alias("mh2"))
    return (
        shared.join(m1, "d1")
        .join(m2, ["d2", "i"])
        .groupBy("d1", "d2", "n_shared_bands")
        .agg(F.sum(F.when(F.col("mh1") == F.col("mh2"), 1).otherwise(0)).alias("n_eq"))
        .select(
            "d1",
            "d2",
            "n_shared_bands",
            F.round(F.col("n_eq") / float(_MH_K), 6).alias("est_jaccard"),
        )
    )


@query("q_dedup_minhash_exact", oracle=_MINHASH_EXACT_ORACLE)
def q_dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3b: MinHash-LSH with a deterministic hash family — the banded
    candidate-generation scale path (same algorithm as MLlib's MinHashLSH)
    made exactly reproducible and therefore exact-oracle-checked.

    Plan shape at 100 TB: the persisted signature table (see
    minhash_signatures) feeds banding — a keyed aggregate — and the
    candidate join is keyed by (band, bucket): O(n·bands) rows, never
    all-pairs. Everything downstream (signature agreement) touches only
    candidate pairs, and n_shared_bands rides the grouping keys instead of
    a second scan of the candidate table. No MLlib, no seed, no Python UDF
    — the whole chain is hash-agg + hash-join."""
    return _mh_pairs_frame(minhash_signatures(spark, sf_dir))


_CONTAM_TAU = 0.5

_CONTAMINATION_ORACLE = f"""
WITH pairs AS ({_MINHASH_EXACT_ORACLE}),
src AS (SELECT doc_id, source FROM documents),
labeled AS (
  SELECT LEAST(s1.source, s2.source) AS src1,
         GREATEST(s1.source, s2.source) AS src2
  FROM pairs p
  JOIN src s1 ON s1.doc_id = p.d1
  JOIN src s2 ON s2.doc_id = p.d2
  WHERE p.est_jaccard >= {_CONTAM_TAU!r}
)
SELECT src1, src2, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN src1 <> src2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
FROM labeled GROUP BY 1, 2
"""


@query("q_dedup_contamination", oracle=_CONTAMINATION_ORACLE)
def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3c: cross-source contamination matrix — for every (source, source)
    pair, how many near-duplicate document pairs span it. THE pre-training
    audit query: a benchmark/eval source sharing near-dups with a train
    source means leakage, and per-source-pair counts localize which ingest
    feeds overlap. Built on the deterministic banded-MinHash candidates
    (q_dedup_minhash_exact) so the matrix is exact-oracled.

    Runs on the exact-copy classes of (md5(text), source)
    (_exact_dup_groups): a bucket holding c copies of one boilerplate text
    still yields c²/2 candidate pairs, measured 17.8× wall-clock for 10×
    data at sf1. The matrix rebuilds from multiplicities, with no member
    join: a class pair (r1, r2) stands for m1·m2 doc pairs, and a class
    with m copies for C(m, 2) within-class pairs (est_jaccard = 1 ≥ τ).
    Referents: tests/test_new_ops_worked.py (fixed fixture) and the
    doc-level pair table in tests/test_duplicate_mass_stress.py."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    reps, _ = _exact_dup_groups(d.withColumn("h", F.md5("text")), "h", "source")
    rep_pairs = _mh_pairs_frame(_mh_signature_frame(spark, reps)).where(
        F.col("est_jaccard") >= _CONTAM_TAU
    )
    meta = reps.select("doc_id", "source", "m")
    s1 = meta.select(
        F.col("doc_id").alias("d1"), F.col("source").alias("_s1"),
        F.col("m").alias("_m1"),
    )
    s2 = meta.select(
        F.col("doc_id").alias("d2"), F.col("source").alias("_s2"),
        F.col("m").alias("_m2"),
    )
    cross = (
        rep_pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.least("_s1", "_s2").alias("src1"),
            F.greatest("_s1", "_s2").alias("src2"),
            (F.col("_m1") * F.col("_m2")).alias("cnt"),
        )
    )
    within = reps.where(F.col("m") >= 2).select(
        F.col("source").alias("src1"),
        F.col("source").alias("src2"),
        # integer `div`, not `/`: Spark's `/` is DOUBLE division, exact only
        # while m·(m−1) < 2^53 (~m ≤ 9.4e7) — a mega-duplicated boilerplate
        # text can exceed that; `div` stays exact to 2^63
        F.expr("(m * (m - 1)) div 2").cast("long").alias("cnt"),
    )
    return (
        cross.unionAll(within)
        .groupBy("src1", "src2")
        .agg(
            F.sum("cnt").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("src1") != F.col("src2"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_cross"),
        )
    )


# --------------------------------------------------------------------------
# M191: C4-style duplicated-span audit (per-doc share of corpus-dup spans)
# --------------------------------------------------------------------------

_SPAN_N = 8
_SPAN_DROP_TAU = 0.5


@query(
    "q_text_span_dedup",
    oracle=f"""
WITH ve AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, UNNEST(generate_series(1, len(t) - {_SPAN_N} + 1)) AS i
  FROM ve WHERE len(t) >= {_SPAN_N}
),
spans AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i + {_SPAN_N} - 1], ' ')) AS h
  FROM idx
),
cnt AS (SELECT h, COUNT(*) AS nd FROM spans GROUP BY 1),
per_doc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM spans s JOIN cnt c USING (h) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.n_dup_spans AS DOUBLE) / p.n_spans * 1e6, 0) / 1e6
       END AS dup_share,
       COALESCE(p.n_dup_spans, 0) * 2 >= COALESCE(p.n_spans, 0) * 1
         AND COALESCE(p.n_spans, 0) > 0 AS drop_doc
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M191: duplicated-span audit, the C4 dedup rule (Raffel et al. 2020
    removed any three-sentence span occurring more than once in the
    corpus) re-expressed over {_SPAN_N}-token rolling spans (this corpus
    has no sentence punctuation). Per document: how many of its distinct
    spans also occur in ANOTHER document, the share, and the drop flag at
    {_SPAN_DROP_TAU} — the span-level complement of the doc-level dedup
    ladder (exact/near/MinHash pairs): boilerplate detection INSIDE
    otherwise-unique documents.

    Shape: spans explode row-locally (token-linear, spans carried as md5
    longs-on-strings, never the raw text); ONE span-hash-keyed aggregate
    counts document frequency; the rejoin rides the same span-hash keys
    and the rollup the doc keys. No pair join anywhere — cost is
    O(total tokens), not O(docs²); the span-frequency table is the only
    shuffle payload.

    Exactness: integer counts and one 6dp display division; the drop flag
    compares integers cross-multiplied (n_dup·2 >= n_spans) so no float
    threshold is involved."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    span_idx = F.when(
        F.size("t") >= _SPAN_N,
        F.sequence(F.lit(1), F.size("t") - _SPAN_N + 1),
    ).otherwise(F.array().cast("array<int>"))
    spans = (
        toks.select(
            "doc_id",
            F.explode(span_idx).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("t", F.col("i"), _SPAN_N), " ")).alias("h"),
        )
        .distinct()
    )
    cnt = spans.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        spans.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(rlong(F.col("n_dup_spans").cast("double") / F.col("n_spans") * 1e6) / 1e6)
            .alias("dup_share"),
            (
                (F.coalesce("n_dup_spans", F.lit(0)) * 2 >= F.coalesce("n_spans", F.lit(0)) * 1)
                & (F.coalesce("n_spans", F.lit(0)) > 0)
            ).alias("drop_doc"),
        )
    )


# --------------------------------------------------------------------------
# M192: n-gram benchmark-contamination check (GPT-3 style decontamination)
# --------------------------------------------------------------------------

_CONTAM_NGRAM_N = 8
_BENCH_SOURCE = "src0"  # the held-out "benchmark" ingest feed


@query(
    "q_text_contamination_ngram",
    oracle=f"""
WITH ve AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, source, t, UNNEST(generate_series(1, len(t) - {_CONTAM_NGRAM_N} + 1)) AS i
  FROM ve WHERE len(t) >= {_CONTAM_NGRAM_N}
),
grams AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(t[i:i + {_CONTAM_NGRAM_N} - 1], ' ')) AS h
  FROM idx
),
bench AS (SELECT DISTINCT h FROM grams WHERE source = '{_BENCH_SOURCE}'),
train AS (SELECT doc_id, source, h FROM grams WHERE source <> '{_BENCH_SOURCE}'),
hits AS (
  SELECT t.doc_id, t.source, COUNT(*) AS n_hits
  FROM train t JOIN bench b USING (h) GROUP BY 1, 2
),
per_doc AS (
  SELECT tr.source, tr.doc_id, COALESCE(h.n_hits, 0) AS n_hits
  FROM (SELECT DISTINCT doc_id, source FROM train) tr
  LEFT JOIN hits h USING (doc_id, source)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(n_hits) AS BIGINT) AS n_gram_hits
FROM per_doc GROUP BY 1
""",
)
def q_text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M192: exact n-gram benchmark contamination — the GPT-3 appendix-C /
    PaLM decontamination method: flag a training document when any of its
    {_CONTAM_NGRAM_N}-grams appears verbatim in the held-out benchmark
    feed ({_BENCH_SOURCE!r}). Complements q_dedup_contamination (MinHash
    NEAR-dup across all source pairs) with the exact-substring test the
    published eval-hygiene protocols actually specify — near-dup misses
    short verbatim quotes; n-gram membership catches them. Per-source
    rollup: docs, contaminated docs, total gram hits.

    Shape: the benchmark gram set is ONE semi-join-shaped keyed join
    (never a pair join): train grams ⋈ benchmark grams on the md5 key —
    at 100 TB the benchmark side is small (eval suites are MBs) and
    broadcasts; everything else is row-local explode + keyed counts,
    O(total tokens). All integers; no rounding anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.split("text", " ").alias("t"))
    span_idx = F.when(
        F.size("t") >= _CONTAM_NGRAM_N,
        F.sequence(F.lit(1), F.size("t") - _CONTAM_NGRAM_N + 1),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        toks.select(
            "doc_id",
            "source",
            F.explode(span_idx).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            "source",
            F.md5(F.array_join(F.slice("t", F.col("i"), _CONTAM_NGRAM_N), " ")).alias("h"),
        )
        .distinct()
    )
    bench = grams.where(F.col("source") == _BENCH_SOURCE).select("h").distinct()
    train = grams.where(F.col("source") != _BENCH_SOURCE)
    hits = (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_doc = (
        train.select("doc_id", "source")
        .distinct()
        .join(hits, ["doc_id", "source"], "left")
        .select("doc_id", "source", F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0)).cast("long").alias("n_contaminated"),
        F.sum("n_hits").cast("long").alias("n_gram_hits"),
    )


# --------------------------------------------------------------------------
# M201: exact set-similarity join via prefix filtering (AllPairs/PPJoin)
# --------------------------------------------------------------------------

SSJ_TAU_NUM = 19   # tau = 19/20 = 0.95 as an exact rational — all size and
SSJ_TAU_DEN = 20   # similarity bounds below stay in integer arithmetic
SSJ_MIN_TOKENS = 10  # near-dup floors doc length: tiny token sets make
#                      trivially-high Jaccard pairs that no pipeline wants

_SSJ_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
  FROM documents
),
dd AS (
  SELECT doc_id, lang, tset, len(tset) AS n FROM d WHERE len(tset) >= {SSJ_MIN_TOKENS}
),
toks AS (SELECT doc_id, lang, n, unnest(tset) AS t FROM dd),
dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1),
ranked AS (
  SELECT k.doc_id, k.lang, k.n, k.t,
         ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY f.df, k.t) AS pos
  FROM toks k JOIN dfreq f USING (t)
),
prefix AS (
  SELECT doc_id, lang, n, t FROM ranked
  WHERE pos <= n - (({SSJ_TAU_NUM} * n + {SSJ_TAU_NUM}) // {SSJ_TAU_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2
  FROM prefix a JOIN prefix b
    ON a.t = b.t AND a.lang = b.lang AND a.doc_id < b.doc_id
   AND b.n * {SSJ_TAU_DEN} >= a.n * {SSJ_TAU_NUM}
   AND b.n * {SSJ_TAU_NUM} <= a.n * {SSJ_TAU_DEN}
),
verified AS (
  SELECT c.d1, c.d2, c.n1, c.n2,
         CAST(len(list_intersect(x.tset, y.tset)) AS BIGINT) AS inter
  FROM cand c JOIN dd x ON x.doc_id = c.d1 JOIN dd y ON y.doc_id = c.d2
)
SELECT d1, d2, inter, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       (inter * 1000000) // (n1 + n2 - inter) AS jacc_ppm
FROM verified
WHERE inter * {SSJ_TAU_DEN} >= (n1 + n2 - inter) * {SSJ_TAU_NUM}
"""


@query("q_sim_setjoin_prefix", oracle=_SSJ_ORACLE)
def q_sim_setjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M201: EXACT set-similarity self-join (token-set Jaccard >= 0.95,
    same-language, >= {SSJ_MIN_TOKENS}-token docs) via prefix filtering —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08). The lossless counterpart to the lossy blockers in this
    module: J2/J2b block on (lang, n_chars) and can MISS pairs; MinHash
    (J3/J3b) is probabilistic. Prefix filtering provably yields every
    pair with J >= tau: order each doc's tokens by ascending global
    document frequency (rarest first), keep only the first
    n - ceil(tau*n) + 1 as the "prefix"; two sets with J >= tau MUST
    share a prefix token, so the candidate join touches prefixes only.
    The size filter tau*|a| <= |b| <= |a|/tau (also lossless) prunes
    further. Losslessness vs the naive all-pairs join is pinned in
    tests/test_new_ops_worked.py at the smoke SF.

    Scale shape: the global token ordering is one token-keyed count (the
    df table — mergeable, vocabulary-sized); prefix extraction is a
    doc-partitioned window (state = one doc's tokens); the candidate
    join is keyed on (prefix token, lang) — rare tokens by construction,
    so per-key fan-out stays small on a Zipfian corpus (rare tokens ARE
    the prefix); verification fetches the two token ARRAYS by doc key
    and intersects ROW-LOCALLY (array_intersect), never exploding
    candidates back to token rows. No all-pairs product anywhere.

    Exactness: every bound is integer arithmetic on exact rationals
    (tau = {SSJ_TAU_NUM}/{SSJ_TAU_DEN}); ceil(tau*n) is the integer
    identity (a*n + a) div b; similarity itself is reported as exact
    integer parts-per-million (inter*1e6 div union) — no float appears
    anywhere in the operator.

    Duplicate-mass cap: exact duplicates make ≥τ pairs grow as copies²,
    and at sf1 the measured cost was 13.5× for 10× data as boilerplate
    densified. The expensive stages (df count,
    prefix window, candidate join, array intersection) now run on ONE
    REPRESENTATIVE per distinct (lang, token-set) — identical sets have
    identical n, prefixes and intersections, so the verified rep pairs
    expand EXACTLY to the full doc-pair output through output-sized member
    joins: cross-group (a∈g1, b∈g2) pairs inherit the rep pair's
    inter/jacc, within-group pairs are identical sets (inter = n,
    jacc_ppm = 1000000). Output rows still grow as copies² — they must,
    the pairs exist — but the candidate/verify WORK is unique-set-sized.
    PPJoin's prefix guarantee holds for ANY consistent global token order,
    so computing df over representatives keeps losslessness (pinned vs the
    naive all-pairs join in tests/test_new_ops_worked.py)."""
    # spread the single-split corpus scan BEFORE tokenize + the class-key
    # md5: six 1-task stages totalling ~60 s at sf0.1 re-derived this
    # subtree single-threaded. Identity at cluster scale (see catalog.spread).
    d = spread(spark, table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    docs = d.withColumn("n", F.size("tset").cast("long")).where(
        F.col("n") >= SSJ_MIN_TOKENS
    )
    # gid keys a (lang, token-set) equivalence class; lang is baked into the
    # hash so the lang-blind member joins below cannot cross languages
    keyed = docs.withColumn(
        "gid",
        F.md5(F.concat("lang", F.lit("|"), F.array_join(F.array_sort("tset"), " "))),
    )
    dd = keyed.groupBy("lang", "gid").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("tset", "doc_id").alias("tset"),
        F.min("n").alias("n"),
    )
    mem = keyed.select("gid", "doc_id")
    toks = dd.select("doc_id", "lang", "n", F.explode("tset").alias("t"))
    dfreq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "t")
    ranked = toks.join(dfreq, "t").withColumn("pos", F.row_number().over(w))
    prefix_len = F.expr(
        f"n - (({SSJ_TAU_NUM} * n + {SSJ_TAU_NUM}) div {SSJ_TAU_DEN}) + 1"
    )
    prefix = ranked.where(F.col("pos") <= prefix_len).select("doc_id", "lang", "n", "t")
    a = prefix.select(
        F.col("doc_id").alias("d1"), "lang", F.col("n").alias("n1"), "t"
    )
    b = prefix.select(
        F.col("doc_id").alias("d2"), "lang", F.col("n").alias("n2"), "t"
    )
    cand = (
        a.join(b, ["t", "lang"])
        .where(
            (F.col("d1") < F.col("d2"))
            & (F.col("n2") * SSJ_TAU_DEN >= F.col("n1") * SSJ_TAU_NUM)
            & (F.col("n2") * SSJ_TAU_NUM <= F.col("n1") * SSJ_TAU_DEN)
        )
        .select("d1", "d2", "n1", "n2")
        .distinct()
    )
    # 256-bit-bitmask prune before the exact intersect (guide §3.2): at
    # tau = 0.95 the prefix is only ~ceil(0.05n)+1 tokens and this corpus's
    # "rare" tokens still collide across similar-length docs, so the candidate join is weakly selective — measured at sf0.1,
    # 367,162 candidates of which only 1,646 (0.45%) pass the exact
    # verify. The c common tokens set at most pu := popcount(m1|m2) <=
    # |A∪B| bits, and J >= NUM/DEN ⟺ c·(NUM+DEN) >= NUM·(n1+n2), so
    # (n1+n2)·DEN >= pu·(NUM+DEN) is NECESSARY — only provable non-pairs
    # are pruned and survivors take the unchanged exact intersect (the
    # losslessness test pins the result against the naive all-pairs join).
    masksd = toks.groupBy("doc_id").agg(*_token_mask_cols("t"))
    cand = _mask_prefilter(
        cand,
        masksd,
        lambda pu: (F.col("n1") + F.col("n2")) * SSJ_TAU_DEN >= pu * (SSJ_TAU_NUM + SSJ_TAU_DEN),
    ).select("d1", "d2", "n1", "n2")
    x = dd.select(
        F.col("doc_id").alias("d1"), F.col("tset").alias("ts1"),
        F.col("gid").alias("gid1"),
    )
    y = dd.select(
        F.col("doc_id").alias("d2"), F.col("tset").alias("ts2"),
        F.col("gid").alias("gid2"),
    )
    verified = (
        cand.join(x, "d1")
        .join(y, "d2")
        .withColumn(
            "inter", F.size(F.array_intersect("ts1", "ts2")).cast("long")
        )
    )
    union = F.col("n1") + F.col("n2") - F.col("inter")
    rep_pairs = verified.where(
        F.col("inter") * SSJ_TAU_DEN >= union * SSJ_TAU_NUM
    ).select(
        "gid1",
        "gid2",
        "inter",
        "n1",
        "n2",
        F.expr("(inter * 1000000) div (n1 + n2 - inter)").alias("jacc_ppm"),
    )
    # expand rep pairs back to doc pairs (output-sized member joins): the
    # smaller doc_id leads, carrying its group's n on the matching side
    ma = mem.select(F.col("gid").alias("gid1"), F.col("doc_id").alias("da"))
    mb = mem.select(F.col("gid").alias("gid2"), F.col("doc_id").alias("db"))
    lt = F.col("da") < F.col("db")
    cross_pairs = (
        rep_pairs.join(ma, "gid1")
        .join(mb, "gid2")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "inter",
            F.when(lt, F.col("n1")).otherwise(F.col("n2")).alias("n1"),
            F.when(lt, F.col("n2")).otherwise(F.col("n1")).alias("n2"),
            "jacc_ppm",
        )
    )
    # within-group pairs: identical token sets, inter = n, jacc = 1 exactly
    wa = mem.select("gid", F.col("doc_id").alias("d1"))
    wb = mem.select("gid", F.col("doc_id").alias("d2"))
    within_pairs = (
        wa.join(wb, "gid")
        .where(F.col("d1") < F.col("d2"))
        .join(dd.select("gid", "n"), "gid")
        .select(
            "d1",
            "d2",
            F.col("n").alias("inter"),
            F.col("n").alias("n1"),
            F.col("n").alias("n2"),
            F.lit(1000000).cast("long").alias("jacc_ppm"),
        )
    )
    return cross_pairs.unionAll(within_pairs)


# --------------------------------------------------------------------------
# M217: exact containment join — which documents are token-subsumed elsewhere
# --------------------------------------------------------------------------

CONTAIN_MIN_TOKENS = 15


@query(
    "q_dedup_containment",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS t
  FROM documents
),
sets AS MATERIALIZED (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n,
         list(t ORDER BY t) AS ts
  FROM tok GROUP BY 1, 2
),
df AS (
  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tok GROUP BY 1, 2
),
rare AS (
  SELECT doc_id, lang, t FROM (
    SELECT k.doc_id, k.lang, k.t,
           ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY d.dfreq, k.t) AS rn
    FROM tok k JOIN df d ON d.lang = k.lang AND d.t = k.t
  ) WHERE rn = 1
),
cand AS (
  SELECT r.doc_id AS a_doc, b.doc_id AS b_doc
  FROM rare r
  JOIN sets sa ON sa.doc_id = r.doc_id AND sa.n >= {CONTAIN_MIN_TOKENS}
  JOIN tok b ON b.lang = r.lang AND b.t = r.t AND b.doc_id <> r.doc_id
),
hits AS (
  SELECT c.a_doc, c.b_doc, sa.lang, sa.n
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.a_doc
  JOIN sets sb ON sb.doc_id = c.b_doc
  WHERE len(list_intersect(sa.ts, sb.ts)) = sa.n
)
SELECT a_doc AS doc_id, lang, n AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_containers,
       CAST(MIN(b_doc) AS BIGINT) AS min_container,
       CAST(MAX(b_doc) AS BIGINT) AS max_container
FROM hits GROUP BY 1, 2, 3
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M217: exact token-set containment audit — for each document with
    >= {CONTAIN_MIN_TOKENS} distinct tokens, how many same-language
    documents fully CONTAIN its token set (A ⊆ B), with the id range of
    the containers. The asymmetric sibling of q_sim_setjoin_prefix's
    Jaccard join: containment catches quote/boilerplate subsumption that
    symmetric similarity misses (a short doc inside a long one has low
    Jaccard but containment 1).

    The prefix-filter degenerates beautifully at t = 1: a containee's
    prefix is exactly ONE token — its globally RAREST (df-ascending,
    token tie-break) — because any superset must contain it. Candidate
    generation is therefore one equi-join keyed on (lang, rarest-token),
    and candidates per containee equal that token's document frequency —
    the rarest token is the cheapest possible index probe (Bayardo
    WWW'07 §3's size bound, specialized to containment). Verification is
    one row-local sorted-array intersect (|A ∩ B| = |A|); the result is
    containee-keyed, never pair-materialized. All bounds are exact
    integers — no similarity floats anywhere.

    Duplicate-mass cap (the first sf1 probe measured **58.6×** for 10× data
    — the repo's worst densification: exact copies multiply every
    rarest-token document frequency AND every copy trivially contains
    every other copy). The probe/verify machinery now runs on
    ONE representative per (lang, token-set) class; the per-doc output
    reconstructs exactly from group aggregates: a member of a
    multiplicity-m group is contained by its m−1 copies plus every
    member of every strictly-containing group (Σ m_B), and the
    min/max container ids come from the containing groups' min/max plus
    the own group's min/max-excluding-self (second-min/second-max when
    the member IS the extremum). Verified against a brute-force subset
    referent on a duplicate fixture in tests/test_new_ops_worked.py."""
    # spread the single-split corpus scan BEFORE tokenize+md5: the class-key
    # hash runs per doc in every branch that re-derives `docs`, and on one
    # task it serializes (seven 1-task stages, ~45 s task time measured at
    # sf0.1). Identity at cluster scale.
    d = spread(spark, table(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id",
        "lang",
        F.array_sort(
            F.array_distinct(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        ).alias("ts"),
    ).withColumn("gid", F.md5(F.concat("lang", F.lit("|"), F.array_join("ts", " "))))
    g1 = docs.groupBy("gid", "lang").agg(
        F.min("doc_id").alias("gmin"),
        F.max("doc_id").alias("gmax"),
        F.count(F.lit(1)).alias("m"),
        F.min_by("ts", "doc_id").alias("ts"),
    )
    # second-smallest / second-largest member id (for the member == extremum
    # case); one extra keyed agg — never a per-group member list
    g2 = (
        docs.join(g1.select("gid", "gmin", "gmax"), "gid")
        .groupBy("gid")
        .agg(
            F.min(F.when(F.col("doc_id") > F.col("gmin"), F.col("doc_id"))).alias("gmin2"),
            F.max(F.when(F.col("doc_id") < F.col("gmax"), F.col("doc_id"))).alias("gmax2"),
        )
    )
    groups = g1.join(g2, "gid").withColumn("n", F.size("ts").cast("long"))
    gtok = groups.select("gid", "lang", F.explode("ts").alias("t"))
    # 256-bit token bitmask per group (guide §1.2/§3.2) — bit
    # pmod(xxhash64(t), 256), packed into 4 longs. Sound non-containment
    # prefilter: if A has a token whose bit is NOT set in B's mask, that
    # token cannot be in B, so A ⊄ B — only true negatives are pruned and
    # survivors still take the exact sorted-array intersect, so the result
    # is byte-identical. The verify stage was the repo's worst remaining
    # CPU burner (1,320 s executor CPU at sf0.1: per-candidate
    # array_intersect builds a hash set over ~100-token string arrays for
    # 2.68M candidates, ~98% of which fail); the mask check is four long
    # ANDs, and most failing pairs share only the one probed rare token, so
    # dozens of their remaining tokens each get an independent ~68% chance
    # of hitting a clear bit. Degrades gracefully: a huge document
    # saturates its mask and simply passes to the exact check.
    masks = gtok.groupBy("gid").agg(*_token_mask_cols("t"))
    dfreq = gtok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("dfreq"))
    wr = Window.partitionBy("gid").orderBy("dfreq", "t")
    rare = (
        gtok.join(F.broadcast(dfreq), ["lang", "t"])
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("gid", "lang", "t")
    )
    amask = masks.select(
        F.col("gid").alias("a_gid"),
        *[F.col(f"mk{w}").alias(f"am{w}") for w in range(4)],
    )
    # cand carries the a-side mask + size instead of the full token array:
    # the 2.68M-row candidate stream stays fixed-width, and ts_a joins back
    # only for the prefilter survivors.
    cand = (
        rare.join(
            groups.where(F.col("n") >= CONTAIN_MIN_TOKENS).select(
                F.col("gid").alias("a_gid"),
                F.col("n").alias("n_a"),
            ),
            (F.col("gid") == F.col("a_gid")),
        )
        .join(amask, "a_gid")
        .join(
            gtok.select(
                F.col("gid").alias("b_gid"),
                F.col("lang").alias("b_lang"),
                F.col("t").alias("b_t"),
            ),
            (F.col("b_lang") == F.col("lang"))
            & (F.col("b_t") == F.col("t"))
            & (F.col("b_gid") != F.col("a_gid")),
        )
        .select("a_gid", "n_a", "am0", "am1", "am2", "am3", "b_gid")
    )
    bside = (
        groups.select(
            F.col("gid").alias("b_gid"), F.col("ts").alias("ts_b"),
            F.col("n").alias("n_b"),
            F.col("m").alias("m_b"), F.col("gmin").alias("gmin_b"),
            F.col("gmax").alias("gmax_b"),
        )
        .join(
            masks.select(
                F.col("gid").alias("b_gid"),
                *[F.col(f"mk{w}").alias(f"bm{w}") for w in range(4)],
            ),
            "b_gid",
        )
    )
    pre = cand.join(bside, "b_gid").where(
        # |A| <= |B| is necessary for A ⊆ B (was not checked before), and
        # the mask test proves non-containment without touching the arrays.
        (F.col("n_a") <= F.col("n_b"))
        & F.expr("(am0 & ~bm0) = 0")
        & F.expr("(am1 & ~bm1) = 0")
        & F.expr("(am2 & ~bm2) = 0")
        & F.expr("(am3 & ~bm3) = 0")
    )
    hits = (
        pre.join(
            groups.select(F.col("gid").alias("a_gid"), F.col("ts").alias("ts_a")),
            "a_gid",
        )
        .where(F.size(F.array_intersect("ts_a", "ts_b")) == F.col("n_a"))
        .groupBy(F.col("a_gid").alias("gid"))
        .agg(
            F.sum("m_b").alias("cnt_b"),
            F.min("gmin_b").alias("min_b"),
            F.max("gmax_b").alias("max_b"),
        )
    )
    per_group = (
        groups.where(F.col("n") >= CONTAIN_MIN_TOKENS)
        .join(hits, "gid", "left")
        .select(
            "gid", "lang", "n", "m", "gmin", "gmax", "gmin2", "gmax2",
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"), "min_b", "max_b",
        )
    )
    mem = docs.select("gid", "doc_id")
    own_min = F.when(F.col("m") < 2, F.lit(None).cast("long")).otherwise(
        F.when(F.col("doc_id") == F.col("gmin"), F.col("gmin2")).otherwise(
            F.col("gmin")
        )
    )
    own_max = F.when(F.col("m") < 2, F.lit(None).cast("long")).otherwise(
        F.when(F.col("doc_id") == F.col("gmax"), F.col("gmax2")).otherwise(
            F.col("gmax")
        )
    )
    return (
        mem.join(per_group, "gid")
        .withColumn("n_containers", F.col("m") - 1 + F.col("cnt_b"))
        .where(F.col("n_containers") >= 1)
        .select(
            "doc_id",
            "lang",
            F.col("n").alias("n_tokens"),
            F.col("n_containers").cast("long").alias("n_containers"),
            F.least(own_min, F.col("min_b")).cast("long").alias("min_container"),
            F.greatest(own_max, F.col("max_b")).cast("long").alias("max_container"),
        )
    )
