"""3.J text analysis — tokens, TF-IDF, corpus stats, language-ID, quality.

All pure DataFrame ops (explode + hash-agg + window): tokenization is a
column expression, never a UDF; every aggregate is keyed by (doc|lang|term) so
the plan is one shuffle per stage at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import checkpoint, memo, spread, table
from recsys_spark_spark.registry import query
from recsys_spark_spark.functions.determinism import dround, rlong


@query(
    "q_text_tokens",
    oracle="""
WITH tf AS (
  SELECT lang, t.token, COUNT(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1, 2
)
SELECT lang, token, cnt, rnk FROM (
  SELECT lang, token, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS BIGINT) AS rnk
  FROM tf
) WHERE rnk <= 5
""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: term frequencies — top-5 tokens per language."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token"))
    return tf.withColumn("rnk", F.row_number().over(w).cast("long")).where(F.col("rnk") <= 5)


@query(
    "q_text_token_count",
    oracle=r"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_re_tokens,
       CAST((SELECT SUM(CAST(CEIL(len(u.t) / 4.0) AS BIGINT))
             FROM unnest(string_split(text, ' ')) AS u(t)) AS BIGINT) AS n_bpe_est
FROM documents
""",
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8b: per-document token counting three ways — whitespace split, a
    BPE-ish regex (letter runs | digit runs | single punctuation, the
    GPT-2-style pre-tokenizer shape), and a subword-budget estimate
    (Σ ceil(len/4), the ~4-chars-per-token rule used for LLM cost sizing).

    All three are per-row column expressions (split / regexp_extract_all /
    aggregate over the token array) — zero shuffles, embarrassingly parallel
    at any scale. The regex is restricted to constructs with identical
    semantics in Java regex and RE2 so the DuckDB oracle is exact."""
    d = table(spark, sf_dir, "documents")
    bpe_est = F.aggregate(
        F.transform(F.split("text", " "), lambda t: F.ceil(F.length(t) / 4.0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0))
        .cast("long")
        .alias("n_re_tokens"),
        bpe_est.alias("n_bpe_est"),
    )


@query(
    "q_text_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, t.token, COUNT(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ROUND(LN((1 + n_docs) / (1 + df)), 9) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, ROUND(score, 6) AS tfidf, rnk FROM (
  SELECT doc_id, token, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 3 AND doc_id < 100
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: exact TF-IDF, top-3 terms per document (doc_id < 100 projection).

    idf is rounded to 9 decimals before the multiply on both sides — ln()
    may differ in the last ulp between JVM and C libm (SURVEY.md §7.5).
    MLlib's HashingTF/IDF would hash terms; the SQL-exact form is used so the
    oracle can verify values."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size as a broadcast 1-row cross-join, not an eager .count():
    # keeps the builder lazy and the whole computation one job at any scale.
    n = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    idf = F.round(F.log((1 + F.col("n_docs")) / (1 + F.col("df"))), 9)
    scored = (
        tf.join(df, "token")
        .crossJoin(n)
        .select("doc_id", "token", (F.col("tf") * idf).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where((F.col("rnk") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "token", F.round("score", 6).alias("tfidf"), "rnk")
    )


@query(
    "q_text_stats",
    oracle="""
WITH tok AS (
  SELECT lang, source, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), base AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         ROUND(SUM(CAST(n_chars AS BIGINT)) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_chars
  FROM documents GROUP BY 1, 2
), toks AS (
  SELECT lang, source, COUNT(DISTINCT token) AS n_distinct_tokens FROM tok GROUP BY 1, 2
)
SELECT base.lang, base.source, n_docs, avg_chars, n_distinct_tokens
FROM base JOIN toks ON base.lang = toks.lang AND base.source = toks.source
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: corpus statistics per (lang, source)."""
    d = table(spark, sf_dir, "documents")
    base = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum(F.col("n_chars")) / F.count(F.lit(1)).cast("double"), 6).alias("avg_chars"),
    )
    toks = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "source")
        .agg(F.countDistinct("token").alias("n_distinct_tokens"))
    )
    return base.join(toks, ["lang", "source"])


# Deterministic stopword list for quality scoring (language-agnostic fillers
# present in the synthetic corpus).
_STOPWORDS = ("a", "the", "de", "la", "le", "el", "und", "der")

_QUALITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), m AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN token IN {_STOPWORDS} THEN 1 ELSE 0 END) AS n_stop,
         SUM(CAST(length(token) AS BIGINT)) AS sum_len
  FROM tok GROUP BY 1
)
SELECT d.doc_id, d.lang,
       m.n_tokens,
       ROUND(m.sum_len / CAST(m.n_tokens AS DOUBLE), 6) AS avg_token_len,
       ROUND(m.n_stop / CAST(m.n_tokens AS DOUBLE), 6) AS stopword_ratio,
       ROUND(CAST(d.n_chars AS BIGINT) / CAST(m.n_tokens AS DOUBLE), 6) AS chars_per_token,
       (m.n_tokens BETWEEN 20 AND 500
        AND m.n_stop / CAST(m.n_tokens AS DOUBLE) < 0.5) AS passes_quality
FROM documents d JOIN m ON d.doc_id = m.doc_id
"""


@query("q_text_quality", oracle=_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-q: heuristic document quality scoring — length, stopword ratio,
    chars-per-token; the standard pre-training corpus filter shape."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    m = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("token").isin(*_STOPWORDS), 1).otherwise(0)).alias("n_stop"),
        F.sum(F.length("token").cast("long")).alias("sum_len"),
    )
    stop_ratio = F.col("n_stop") / F.col("n_tokens").cast("double")
    return d.join(m, "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("sum_len") / F.col("n_tokens").cast("double"), 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("long") / F.col("n_tokens").cast("double"), 6).alias("chars_per_token"),
        (F.col("n_tokens").between(20, 500) & (stop_ratio < 0.5)).alias("passes_quality"),
    )


_LANGID_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), votes AS (
  SELECT doc_id, lang,
         SUM(CASE WHEN token IN ('the', 'and', 'of') THEN 1 ELSE 0 END) AS en_v,
         SUM(CASE WHEN token IN ('le', 'la', 'et') THEN 1 ELSE 0 END) AS fr_v,
         SUM(CASE WHEN token IN ('el', 'los', 'y') THEN 1 ELSE 0 END) AS es_v,
         SUM(CASE WHEN token IN ('der', 'und', 'die') THEN 1 ELSE 0 END) AS de_v
  FROM tok GROUP BY 1, 2
)
SELECT doc_id, lang,
       CASE WHEN en_v >= fr_v AND en_v >= es_v AND en_v >= de_v AND en_v > 0 THEN 'en'
            WHEN fr_v >= es_v AND fr_v >= de_v AND fr_v > 0 THEN 'fr'
            WHEN es_v >= de_v AND es_v > 0 THEN 'es'
            WHEN de_v > 0 THEN 'de'
            ELSE 'unknown' END AS predicted_lang
FROM votes
"""


@query("q_text_langid", oracle=_LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-lid: marker-word language ID (n-gram heuristic baseline). The
    synthetic corpus has an English-ish vocabulary, so most docs resolve to
    'en' or 'unknown' — the operator shape (vote columns + argmax CASE) is
    what a real marker table plugs into."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))

    def votes(words: tuple[str, ...], name: str):
        return F.sum(F.when(F.col("token").isin(*words), 1).otherwise(0)).alias(name)

    v = tok.groupBy("doc_id", "lang").agg(
        votes(("the", "and", "of"), "en_v"),
        votes(("le", "la", "et"), "fr_v"),
        votes(("el", "los", "y"), "es_v"),
        votes(("der", "und", "die"), "de_v"),
    )
    en, fr, es, de = (F.col(c) for c in ("en_v", "fr_v", "es_v", "de_v"))
    return v.select(
        "doc_id",
        "lang",
        F.when((en >= fr) & (en >= es) & (en >= de) & (en > 0), "en")
        .when((fr >= es) & (fr >= de) & (fr > 0), "fr")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("unknown")
        .alias("predicted_lang"),
    )


_FINGERPRINT_ORACLE = """
WITH tok AS (
  -- indexed list_transform enumerates (pos, token) with no length bound
  -- (generate_series can't be lateral-parameterized in DuckDB, and a fixed
  -- CROSS JOIN bound would silently diverge past it).
  SELECT doc_id, u.pos AS pos, u.tok AS token FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, ' '),
                                 (x, i) -> struct_pack(pos := i, tok := x))) AS u
    FROM documents)
), h AS (
  SELECT doc_id, pos,
         CAST(('0x' || substring(md5(token), 25, 8)) AS BIGINT) AS th
  FROM tok
)
SELECT doc_id,
       CAST(SUM((th * ((pos % 31) + 1)) % 1000000007) AS BIGINT) AS fingerprint
FROM h GROUP BY 1
"""


@query("q_text_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-fp: position-weighted rolling-hash document fingerprint — exact
    integer math (md5-derived token hash, portable across engines)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "token"
    )
    h = tok.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("token"), 25, 8), 16, 10).cast("long").alias("th"),
    )
    return h.groupBy("doc_id").agg(
        F.sum((F.col("th") * ((F.col("pos") % 31) + 1)) % 1000000007).cast("long").alias("fingerprint")
    )


VOCAB_SIZE = 500


@query(
    "q_vocab_build",
    oracle=f"""
WITH tf AS (
  SELECT t.token, COUNT(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1
)
SELECT token, cnt, vocab_id FROM (
  SELECT token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_id
  FROM tf
) WHERE vocab_id <= {VOCAB_SIZE}
""",
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8c: tokenizer vocabulary build — the top-VOCAB_SIZE corpus tokens by
    frequency, each assigned a dense integer id (frequency rank, ties broken
    lexically). The artifact every downstream tokenize step joins against.

    Term counting is one hash aggregate keyed by token (map-side partial
    combine absorbs the heavy hitters); the global top-N runs as
    TakeOrderedAndProject (orderBy+limit — never a full sort), and only the
    N surviving rows pass through the id-assigning window, so the single
    partition it needs holds VOCAB_SIZE rows regardless of corpus size. At
    100 TB the vocabulary is output-sized (thousands of rows from trillions
    of tokens) and broadcasts to the tokenize stage."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tf.orderBy(F.col("cnt").desc(), "token").limit(VOCAB_SIZE)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return top.withColumn("vocab_id", F.row_number().over(w).cast("long"))


BM25_QUERY = ("data", "join", "key")  # fixed query term set (present in corpus)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10
# single definition of the term list for BOTH the Spark query and the oracle —
# editing BM25_QUERY must not desynchronize them
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)


# Shared CTE chain producing per-document raw BM25 scores — used by the
# q_text_bm25 oracle AND by q_rank_fusion's oracle (llm/retrieval.py), so
# the lexical scorer has ONE definition across queries.
BM25_SCORED_CTES = f"""
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), dl AS (
  SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE token IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT t.doc_id,
         SUM(CAST(ROUND(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           (t.tf * ({BM25_K1} + 1)) /
           (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dlen / s.avgdl))
           * 1e9, 0) AS BIGINT)) / 1e9 AS raw
  FROM tf t
  JOIN df d ON d.token = t.token
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
)"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document raw BM25 scores (doc_id, raw) for the fixed query term
    set — the Spark twin of BM25_SCORED_CTES, shared by q_text_bm25 and
    q_rank_fusion (llm/retrieval.py)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    tf = (
        tok.where(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * (BM25_K1 + 1)) / denom
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.sum(rlong(contrib * F.lit(1e9))) / F.lit(1e9)).alias("raw"))
    )
    return scored


@query(
    "q_text_bm25",
    oracle=BM25_SCORED_CTES
    + f"""
SELECT doc_id, ROUND(raw, 6) AS bm25 FROM scored
ORDER BY raw DESC, doc_id LIMIT {BM25_TOP}
""",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9b: BM25 retrieval scoring (Robertson-Spärck Jones) — top-10
    documents for a fixed query term set; the lexical ranker a RAG corpus
    pipeline runs next to embedding ANN (J4-J6).

    Everything is integer-derived (tf, df, N, dlen) except the final
    per-document float expression, which both engines evaluate in the same
    per-row operation order; the per-TERM contributions then sum through
    the scaled-integer discipline (functions/determinism.py) so the
    per-document total is partition-order-independent, and the result
    rounds at 1e-6 for the oracle. Plan shape:
    the token explode filters to the query terms BEFORE the tf aggregate
    (tiny), df and the corpus stats are output-sized broadcasts, and the
    per-document score sum is keyed by doc_id; the global top-10 is
    TakeOrderedAndProject. At 100 TB the df/stats side is the precomputed
    vocabulary statistics table (q_vocab_build) and scoring stays one
    broadcast join + one keyed aggregate."""
    scored = bm25_scored(spark, sf_dir)
    return (
        scored.orderBy(F.col("raw").desc(), "doc_id")
        .limit(BM25_TOP)
        .select("doc_id", F.round("raw", 6).alias("bm25"))
    )


# --------------------------------------------------------------------------
# M74: PII-style redaction scrub with audit counts
# --------------------------------------------------------------------------

# Redaction targets: digit runs (ids, counters) and quoted string payloads
# would be added the same way for real PII classes (emails, phones); digit
# runs are the class the synthetic corpus actually contains. The regex is
# kept to character-class primitives with identical semantics in Java regex
# (Spark) and RE2 (DuckDB).
_REDACT_PATTERN = "[0-9]+"
_REDACT_TOKEN = "<NUM>"


@query(
    "q_text_redact",
    oracle=f"""
SELECT event_id,
       regexp_replace(props, '{_REDACT_PATTERN}', '{_REDACT_TOKEN}', 'g') AS redacted,
       CAST(len(regexp_extract_all(props, '{_REDACT_PATTERN}')) AS BIGINT) AS n_redacted
FROM events
""",
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M74: redaction scrub — replace every digit run in the event payload
    with a sentinel token and emit a per-row audit count (how many spans
    were redacted). The compliance pass every training-data pipeline runs
    before text leaves the raw zone.

    Scale shape: pure per-row JVM regex expressions — a shuffle-free
    filtered-scan-speed pass; the audit count rides the same scan (no
    second pass). At 100 TB this runs as a mapping over the raw files with
    the count aggregated downstream for the compliance report; nothing here
    keys, sorts, or collects."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("props", _REDACT_PATTERN, _REDACT_TOKEN).alias("redacted"),
        F.regexp_count("props", F.lit(_REDACT_PATTERN)).cast("long").alias("n_redacted"),
    )


# --------------------------------------------------------------------------
# M79: bigram collocations by pointwise mutual information
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 50


@query(
    "q_text_pmi",
    oracle=f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS gs(i)
), bc AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM big GROUP BY 1, 2
), uni AS (
  SELECT w1 AS w, COUNT(*) AS c FROM big GROUP BY 1
), uni2 AS (
  SELECT w2 AS w, COUNT(*) AS c FROM big GROUP BY 1
), n AS (
  SELECT COUNT(*) AS total FROM big
), pmi AS (
  SELECT bc.w1, bc.w2, bc.c_xy,
         ROUND(ln((bc.c_xy * n.total) / (u1.c * u2.c)), 6) AS pmi
  FROM bc
  JOIN uni u1 ON u1.w = bc.w1
  JOIN uni2 u2 ON u2.w = bc.w2
  CROSS JOIN n
  WHERE bc.c_xy >= {PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy, pmi,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rnk
FROM pmi QUALIFY rnk <= {PMI_TOP}
""",
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M79: collocation mining — top bigrams by pointwise mutual
    information, PMI = ln(c_xy·N / (c_x·c_y)) over adjacent token pairs,
    with a min-count floor (rare pairs have unstable PMI). The phrase
    detector of a tokenizer/vocab pipeline (word2vec-style phrase joins).

    Determinism: every PMI input is an exact integer count; the ln argument
    is an exact-integer ratio whose products stay below 2^53, so both
    engines evaluate ln on the SAME double and round at 1e-6 (same
    discipline as q_text_bm25's idf). Bigram formation is the same
    row-local array fan-out as q_text_bigram_lm — shuffle-free, never a
    positional self-join. Scale shape: explode → three keyed counts (bigram, left
    unigram, right unigram) + broadcast total, join keyed on the words; the
    global top-50 is rank-pruned, never a full sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    big = toks.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = big.groupBy(F.col("w1").alias("w")).agg(F.count(F.lit(1)).alias("c1"))
    uni2 = big.groupBy(F.col("w2").alias("w")).agg(F.count(F.lit(1)).alias("c2"))
    total = big.agg(F.count(F.lit(1)).alias("total"))
    pmi = (
        bc.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(uni), bc.w1 == uni.w)
        .join(F.broadcast(uni2), bc.w2 == uni2.w)
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log((F.col("c_xy") * F.col("total")) / (F.col("c1") * F.col("c2"))),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        pmi.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= PMI_TOP)
    )


# --------------------------------------------------------------------------
# M107: token entropy (information-density quality signal)
# --------------------------------------------------------------------------


@query(
    "q_text_entropy",
    oracle="""
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), tc AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
), m AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         CAST(SUM(CAST(ROUND(c * ln(c) * 1e9, 0) AS BIGINT)) AS BIGINT) AS s9
  FROM tc GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct,
       (ROUND((ln(n_tokens) - s9 / (1e9 * n_tokens)) / ln(2) * 1e6, 0) / 1e6)
         AS entropy_bits,
       CASE WHEN n_distinct > 1
            THEN (ROUND((ln(n_tokens) - s9 / (1e9 * n_tokens)) / ln(n_distinct)
                        * 1e6, 0) / 1e6)
            ELSE 0.0 END AS norm_entropy
FROM m
""",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M107: per-document Shannon entropy of the unigram distribution —
    the information-density quality signal (low entropy = repetitive /
    template text; used alongside q_text_quality's ratio filters when
    curating a pre-training corpus). norm_entropy divides by the maximum
    log(n_distinct), giving a size-free [0,1] score.

    Determinism: H = log2(n) - (1/n)·Σ c·log2(c) is computed with ln on
    BOTH engines (the one transcendental with proven cross-engine parity
    here — q_text_pmi), each c·ln(c) term depends only on the integer
    count c and is rounded to integer nano-units BEFORE the per-doc sum,
    so the aggregate is insertion-order independent (determinism.py
    discipline). Scale shape: row-local explode → one doc-keyed count →
    one doc-keyed sum; no windows, no self-joins."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    m = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(rlong(F.col("c") * F.log("c") * F.lit(1e9))).alias("s9"),
    )
    h_nats = F.log("n_tokens") - F.col("s9") / (F.lit(1e9) * F.col("n_tokens"))
    return m.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dround(h_nats / F.log(F.lit(2.0)), 6).alias("entropy_bits"),
        F.when(
            F.col("n_distinct") > 1, dround(h_nats / F.log("n_distinct"), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


# --------------------------------------------------------------------------
# M108: repetition-based quality filter (Gopher-style, Rae et al. 2021)
# --------------------------------------------------------------------------

TOP_TOKEN_MAX = 0.2  # max fraction of tokens taken by the single top token
TOP_BIGRAM_MAX = 0.18  # max fraction of bigrams taken by the top bigram


@query(
    "q_text_repetition",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), tc AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
), tm AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         MAX(c) AS c_max, COUNT(*) AS n_distinct
  FROM tc GROUP BY 1
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS gs(i)
), bc AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3
), bm AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS b_max
  FROM bc GROUP BY 1
)
SELECT tm.doc_id, tm.n_tokens,
       ROUND(tm.c_max / CAST(tm.n_tokens AS DOUBLE), 6) AS top_token_ratio,
       ROUND((tm.n_tokens - tm.n_distinct) / CAST(tm.n_tokens AS DOUBLE), 6)
         AS dup_token_ratio,
       CASE WHEN bm.doc_id IS NOT NULL
            THEN ROUND(bm.b_max / CAST(bm.n_bigrams AS DOUBLE), 6)
            ELSE 0.0 END AS top_bigram_ratio,
       (tm.c_max / CAST(tm.n_tokens AS DOUBLE) <= {TOP_TOKEN_MAX}
        AND COALESCE(bm.b_max / CAST(bm.n_bigrams AS DOUBLE), 0.0)
            <= {TOP_BIGRAM_MAX}) AS passes_repetition
FROM tm LEFT JOIN bm ON tm.doc_id = bm.doc_id
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M108: repetition-based quality filtering in the style of Gopher's
    corpus rules (Rae et al., arXiv:2112.11446 §A1.1): documents dominated
    by one token or one bigram are template/spam-like and get filtered
    before pre-training. Emits the top-token fraction, duplicate-token
    fraction, top-bigram fraction, and the pass flag at the standard
    cutoffs ({TOP_TOKEN_MAX}/{TOP_BIGRAM_MAX}).

    Every ratio is a rational of exact integer counts — no float
    accumulation at all, so no rounding machinery is needed. Scale shape:
    both branches are row-local fan-outs (explode / array-index bigrams —
    never a positional self-join) followed by doc-keyed counts; the two
    branches rejoin on doc_id. At 100 TB each branch is one shuffle of
    count-sized (not token-sized) rows."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tm = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("c_max"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    bm = (
        toks.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("b_max"))
    )
    j = tm.join(bm.withColumnRenamed("doc_id", "_bdoc"), tm.doc_id == F.col("_bdoc"), "left")
    top_tok = F.col("c_max") / F.col("n_tokens").cast("double")
    top_big = F.col("b_max") / F.col("n_bigrams").cast("double")
    return j.select(
        "doc_id",
        "n_tokens",
        F.round(top_tok, 6).alias("top_token_ratio"),
        F.round(
            (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens").cast("double"), 6
        ).alias("dup_token_ratio"),
        F.when(F.col("_bdoc").isNotNull(), F.round(top_big, 6))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_ratio"),
        (
            (top_tok <= TOP_TOKEN_MAX)
            & (F.coalesce(top_big, F.lit(0.0)) <= TOP_BIGRAM_MAX)
        ).alias("passes_repetition"),
    )


# --------------------------------------------------------------------------
# M125: per-document perplexity under the corpus bigram LM (CCNet-style)
# --------------------------------------------------------------------------


@query(
    "q_text_perplexity",
    oracle="""
WITH tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
), vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM tok
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS gs(i)
), pair_counts AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
), head_counts AS (
  SELECT w1, SUM(c12) AS c1 FROM pair_counts GROUP BY 1
), scored AS (
  SELECT b.doc_id,
         CAST(ROUND(-ln((p.c12 + 1) / CAST(h.c1 + vocab.v AS DOUBLE)) * 1e9, 0)
              AS BIGINT) AS nll9
  FROM big b
  JOIN pair_counts p ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN head_counts h ON h.w1 = b.w1
  CROSS JOIN vocab
), g AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(nll9) AS BIGINT) AS s9
  FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams,
       (ROUND(s9 / (1e9 * n_bigrams) * 1e6, 0) / 1e6) AS avg_nll,
       (ROUND(EXP(s9 / (1e9 * n_bigrams)) * 1e6, 0) / 1e6) AS perplexity
FROM g
""",
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M125: per-document perplexity under the corpus's own add-one-smoothed
    bigram LM — the CCNet-style quality signal (Wenzek et al., LREC 2020:
    score text by LM perplexity, keep the low-perplexity head): template
    spam scores low, word-salad scores high. Completes the quality suite
    next to q_text_quality / q_text_repetition / q_text_entropy.

    Determinism: every ln argument is the exact integer ratio
    (c12+1)/(c1+V) (add-one smoothing keeps it total), each bigram's NLL
    is nano-rounded BEFORE the per-doc sum (order-independent), and the
    one exp at the end maps identical doubles on both engines (ln/exp
    parity per q_text_pmi). Scale shape: the LM is two keyed counts over
    the corpus; scoring joins doc bigrams to the LM keyed on the bigram —
    at 100 TB the bigram table is the shuffle, exactly the n-gram-count
    pipeline shape, never per-doc state.

    sf1 probe: the tokenize/bigram explodes are
    per-row CPU bound to the single-row-group scan's 1-2 tasks (sf1 noop
    5.2 s / 6.1x on 32 cores) — spread() the doc scan once for both
    branches; identity at scale (guarded), sums are nano-rounded integers
    so partitioning cannot change them."""
    d = spread(spark, table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.agg(F.countDistinct("token").alias("v"))
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    big = toks.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    )
    pair_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    head_counts = pair_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    nll9 = rlong(
        -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))
        * F.lit(1e9)
    )
    scored = (
        big.join(pair_counts, ["w1", "w2"])
        .join(head_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll9.alias("nll9"))
    )
    g = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("nll9").alias("s9")
    )
    avg_nll = F.col("s9") / (F.lit(1e9) * F.col("n_bigrams"))
    return g.select(
        "doc_id",
        "n_bigrams",
        dround(avg_nll, 6).alias("avg_nll"),
        dround(F.exp(avg_nll), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# M138: Zipf rank-frequency fit over the corpus vocabulary
# --------------------------------------------------------------------------

ZIPF_TOP = 1000  # fit over the top-N tokens by frequency


@query(
    "q_text_zipf",
    oracle=f"""
WITH tf AS (
  SELECT t.token, COUNT(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1
),
top AS (
  SELECT token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
  FROM tf
  QUALIFY rnk <= {ZIPF_TOP}
),
pts AS (
  SELECT CAST(ROUND(ln(rnk) * 1e6, 0) AS BIGINT) AS xu,
         CAST(ROUND(ln(cnt) * 1e6, 0) AS BIGINT) AS yu
  FROM top
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(xu) AS BIGINT) AS sx, CAST(SUM(yu) AS BIGINT) AS sy,
         CAST(SUM(xu * yu) AS BIGINT) AS sxy,
         CAST(SUM(xu * xu) AS BIGINT) AS sxx,
         CAST(SUM(yu * yu) AS BIGINT) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * 1e6, 0) / 1e6 AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n / 1e6 * 1e6, 0) / 1e6 AS zipf_intercept,
       ROUND(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) * 1e6, 0) / 1e6 AS r2
FROM s
""",
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M138: Zipf's-law fit of the corpus rank-frequency curve — OLS of
    ln(freq) on ln(rank) over the top-{ZIPF_TOP} tokens (natural text has
    slope near -1; a far-off slope or low R² flags boilerplate-heavy,
    templated, or machine-generated corpora — a standard corpus-quality
    diagnostic beside q_text_quality / q_text_perplexity).

    Shape: one token-keyed count (map-side combinable), global top-N as
    orderBy+limit (TakeOrderedAndProject — the q_vocab_build pattern,
    never a full sort), and the regression folds {ZIPF_TOP} points into 6
    mergeable integer sums — output is ONE row from any corpus size.
    Exactness: each point's (ln rank, ln freq) is micro-rounded to an
    integer BEFORE summation (the q_text_perplexity pre-sum discipline),
    so the sums are exact and order-free; the OLS closed form then runs
    on identical doubles in both engines, one 6dp display rounding.
    Products stay < 2^63: |ln| <= ln(1e9) -> xu,yu <= 2.1e7, xu*yu <=
    4.3e14, x {ZIPF_TOP} points = 4.3e17."""
    from recsys_spark_spark.functions.determinism import rlong

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tf.orderBy(F.col("cnt").desc(), "token").limit(ZIPF_TOP)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    pts = top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        rlong(F.log("rnk") * 1e6).cast("long").alias("xu"),
        rlong(F.log("cnt") * 1e6).cast("long").alias("yu"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xu").alias("sx"),
        F.sum("yu").alias("sy"),
        F.sum(F.col("xu") * F.col("yu")).alias("sxy"),
        F.sum(F.col("xu") * F.col("xu")).alias("sxx"),
        F.sum(F.col("yu") * F.col("yu")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    denx = nd * F.col("sxx") - sxd * F.col("sx")
    deny = nd * F.col("syy") - syd * F.col("sy")
    slope = num / denx
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (rlong(slope * 1e6) / 1e6).alias("zipf_slope"),
        (rlong((syd - slope * F.col("sx")) / F.col("n") / 1e6 * 1e6) / 1e6).alias(
            "zipf_intercept"
        ),
        (rlong(F.pow(num, 2) / (denx * deny) * 1e6) / 1e6).alias("r2"),
    )


# --------------------------------------------------------------------------
# M150: vocabulary-id document encoding (tokenize -> id sequence)
# --------------------------------------------------------------------------

OOV_ID = 0  # tokens outside the top-VOCAB_SIZE vocabulary


@query(
    "q_text_encode",
    oracle=f"""
WITH tf AS (
  SELECT t.token, COUNT(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1
),
vocab AS (
  SELECT token, vocab_id FROM (
    SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_id
    FROM tf
  ) WHERE vocab_id <= {VOCAB_SIZE}
),
tok AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS ord
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
enc AS (
  SELECT t.doc_id, t.ord, COALESCE(v.vocab_id, {OOV_ID}) AS id
  FROM tok t LEFT JOIN vocab v ON t.token = v.token
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN id = {OOV_ID} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY ord) AS ids
FROM enc GROUP BY 1
""",
)
def q_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M150: document -> token-id sequence encoding against the corpus's
    own top-{VOCAB_SIZE} vocabulary (q_vocab_build's artifact), out-of-
    vocabulary tokens mapped to id {OOV_ID} — the tokenize step that
    turns a cleaned corpus into trainer input, completing the chain
    vocab_build -> encode -> chunk/pack (q_chunk_fixed, q_pack_sequences).

    Shape: the vocabulary is output-sized and BROADCASTS onto the
    token stream (row-local posexplode — no fact shuffle to look up
    ids); the only fact-scale shuffle is the final doc-keyed re-assembly,
    whose per-doc state is the document's own token list. The id
    sequence is emitted as a ','-joined string ordered by token
    position (struct-sort of (ord, id) — deterministic), so the value
    hash is representation-independent (the q_agg_collect discipline)."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topv = tf.orderBy(F.col("cnt").desc(), "token").limit(VOCAB_SIZE)
    wv = Window.orderBy(F.col("cnt").desc(), "token")
    vocab = topv.withColumn("vocab_id", F.row_number().over(wv).cast("long")).select(
        "token", "vocab_id"
    )
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select("doc_id", (F.col("pos") + 1).alias("ord"), "token")
    enc = tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "ord", F.coalesce("vocab_id", F.lit(OOV_ID)).alias("id")
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("id") == OOV_ID, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ord, id))), s -> cast(s.id as string)), ',')"
        ).alias("ids"),
    )


# --------------------------------------------------------------------------
# M165: readability scoring
# --------------------------------------------------------------------------

# Flesch constants — single python literals shared by both plans.
FLESCH_BASE = 206.835
FLESCH_WORDS_PER_SENT = 1.015
FLESCH_SYLL_PER_WORD = 84.6
_VOWEL_RE = "[aeiouyAEIOUY]+"
_SENT_RE = "[.!?]+"


@query(
    "q_text_readability",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         GREATEST(CAST(len(regexp_extract_all(text, '{_SENT_RE}')) AS BIGINT), 1) AS n_sents,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         GREATEST(CAST(len(regexp_extract_all(text, '{_VOWEL_RE}')) AS BIGINT), 1) AS n_syll
  FROM documents
)
SELECT doc_id, n_sents, n_words, n_syll,
       ROUND(({FLESCH_BASE!r} - {FLESCH_WORDS_PER_SENT!r} * (CAST(n_words AS DOUBLE) / n_sents)
              - {FLESCH_SYLL_PER_WORD!r} * (CAST(n_syll AS DOUBLE) / n_words)) * 1e6, 0) / 1e6 AS flesch_score
FROM m
""",
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M165: Flesch reading-ease per document (Flesch 1948), with the
    standard cheap proxies — sentences by terminal punctuation runs,
    syllables by vowel-group count (both floored at 1 so empty/unpunctuated
    docs stay finite). A corpus-quality signal orthogonal to
    q_text_quality's ratios and q_text_perplexity's LM surprise: flags
    machine-generated run-ons and keyword-stuffed fragments at the two
    ends of the scale.

    Shape: three row-local regex/split counts and one arithmetic
    expression — shuffle-free, embarrassingly parallel at any scale.
    Exactness: counts are exact integers; the Flesch constants are ONE
    set of python literals in both plans (the q_audit_benford
    discipline); one identical expression, one 6dp rounding."""
    d = table(spark, sf_dir, "documents")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(_SENT_RE), 0)).cast("long"), F.lit(1)
    )
    n_words = F.size(F.split("text", " ")).cast("long")
    n_syll = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(_VOWEL_RE), 0)).cast("long"), F.lit(1)
    )
    m = d.select(
        "doc_id",
        n_sents.alias("n_sents"),
        n_words.alias("n_words"),
        n_syll.alias("n_syll"),
    )
    score = (
        F.lit(FLESCH_BASE)
        - F.lit(FLESCH_WORDS_PER_SENT) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(FLESCH_SYLL_PER_WORD) * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        "n_sents",
        "n_words",
        "n_syll",
        (rlong(score * 1e6) / 1e6).alias("flesch_score"),
    )


# --------------------------------------------------------------------------
# M200: distributed BPE merge training over the corpus word dictionary
# --------------------------------------------------------------------------

BPE_MERGES = 8  # learned merge steps; fixed so both engines unroll identically


def _bpe_stages_sql(k: int, carry: str = "") -> str:
    """Shared DuckDB CTE chain for the merge loop, unrolled to k stages
    (the _glm_iter_sql precedent: iteration count is a compile-time
    literal so both engines execute the same finite expression DAG).
    `carry` is an optional column-list prefix (e.g. ``"w, "``) to keep
    riding through the per-stage replace — training discards the word
    identity, encoding needs it back at the end."""
    stages = []
    for i in range(1, k + 1):
        p = i - 1
        stages.append(f"""
p{i} AS (
  SELECT unnest(list_transform(
           generate_series(1, len(string_split(trim(seq), '  ')) - 1),
           j -> string_split(trim(seq), '  ')[j] || ' '
                || string_split(trim(seq), '  ')[j + 1])) AS pair,
         freq
  FROM w{p}
),
c{i} AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p{i} GROUP BY 1),
b{i} AS (
  SELECT pair, cnt,
         string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r
  FROM c{i} ORDER BY cnt DESC, pair LIMIT 1
),
w{i} AS (
  SELECT {carry}replace(seq, ' ' || b.l || '  ' || b.r || ' ',
                 ' ' || b.l || b.r || ' ') AS seq, freq
  FROM w{p} CROSS JOIN b{i} b
)""")
    return f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents)
  GROUP BY 1
),
w0 AS (
  SELECT {carry}' ' || array_to_string(
           list_transform(generate_series(1, length(w)), i -> w[i]), '  ')
         || ' ' AS seq, freq
  FROM words
),{",".join(stages)}"""


def _bpe_oracle(k: int) -> str:
    heads = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, pair, l || r AS new_symbol, "
        f"cnt AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""{_bpe_stages_sql(k)}
{heads}
ORDER BY step
"""


@query("q_text_bpe_train", oracle=_bpe_oracle(BPE_MERGES))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M200: byte-pair-encoding merge training (Sennrich et al. 2016,
    arXiv:1508.07909) — the first {BPE_MERGES} merge rules learned from
    the corpus, distributed: tokenizer training as a first-class engine
    operator rather than a single-node preprocessing script.

    The classic formulation trains on the WORD-FREQUENCY DICTIONARY, and
    that is the whole scale story: the corpus (100 TB) collapses in one
    keyed count to a word dict bounded by vocabulary, not data size
    (~30 entries on this synthetic corpus, ~1e6-1e7 on a web corpus) —
    every subsequent stage touches only the dict. Each merge step is one
    keyed pair-count aggregate over the dict, a 1-row deterministic
    argmax (count desc, pair asc — ties cannot diverge engines), and a
    broadcast of that single rule back onto the dict; {BPE_MERGES} steps
    chain lazily into ONE plan with no driver round-trip (the best-pair
    scalar rides a broadcast cross join, the q_join_asof 1-row pattern,
    so no .first()/.collect() materializes state driver-side).

    Exactness: symbol sequences are strings over [a-z] joined by a
    DOUBLE space and wrapped in single edge spaces, so one string
    replace of ' l  r ' with ' lr ' is EXACTLY the BPE left-to-right
    non-overlapping merge (consecutive matches share no delimiter:
    ' a  a  a  a ' -> ' aa  aa '), with identical leftmost-first replace
    semantics on both engines; pair counts are exact integer sums of
    word frequencies at overlapping adjacent positions (the published
    counting rule). The unrolled oracle executes the identical DAG.

    Output: (step, pair, new_symbol, pair_count) — the ordered merge
    table a tokenizer ships as tokenizer.json's "merges" section."""
    words = _bpe_words(spark, sf_dir)
    cur = words.select(_bpe_seq0().alias("seq"), "freq")
    _, heads = _bpe_merge_stages(cur, BPE_MERGES)
    out = heads[0]
    for h in heads[1:]:
        out = out.unionAll(h)
    return out


@memo
def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted corpus word-frequency dictionary (the one corpus-sized
    reduction every BPE query starts from). The persist matters because
    the K chained merge stages and their K union heads re-derive from this
    tiny dict, not the corpus — without it, each head would rescan
    documents (K scans of 100 TB instead of one)."""
    # spread the single-split corpus scan: the regexp tokenize + explode
    # otherwise runs the whole corpus on one task (an 85 s cold 1-task
    # stage at sf0.1). Identity at
    # cluster scale (see catalog.spread).
    d = spread(spark, table(spark, sf_dir, "documents"))
    return (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_seq0():
    """' a  b  c ' initial symbol-sequence encoding of column ``w``."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def _bpe_merge_stages(cur: DataFrame, k: int, carry: tuple = ()):
    """Run k merge stages over ``cur`` (``seq``, ``freq`` plus any
    ``carry`` columns that ride through untouched); returns the final
    sequence table and the per-step merge-rule heads.

    Each stage's table is checkpoint-truncated: stage
    k's pair count and the k-th head would otherwise re-execute stages
    1..k-1's replaces through the lazy lineage — O(K²) stage work total,
    measured at 70 s for the sf0.1 training query before truncation
    (the star_contract lesson; checkpoint() on a cluster). The dict is
    vocabulary-sized, so each checkpoint job is tiny. The stage's rule
    rides its checkpoint as constant columns, so a head reads one
    checkpointed row instead of recounting the stage's pairs."""
    heads = []
    for i in range(1, k + 1):
        cur = cur.select(*carry, "seq", "freq")
        syms = F.split(F.trim(F.col("seq")), "  ")
        pairs = F.when(
            F.size(syms) > 1,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda j: F.concat(
                    F.element_at(syms, j), F.lit(" "), F.element_at(syms, j + 1)
                ),
            ),
        ).otherwise(F.array(F.lit(None).cast("string")))
        pc = (
            cur.select(F.explode(pairs).alias("pair"), "freq")
            .where(F.col("pair").isNotNull())
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pc.orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .select(
                "pair",
                "cnt",
                F.split("pair", " ")[0].alias("l"),
                F.split("pair", " ")[1].alias("r"),
            )
        )
        cur = checkpoint(
            cur.crossJoin(F.broadcast(best)).select(
                *carry,
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), F.col("l"), F.lit("  "), F.col("r"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" ")),
                ).alias("seq"),
                "freq",
                "pair",
                "cnt",
                "l",
                "r",
            )
        )
        heads.append(
            cur.select(
                F.lit(i).cast("long").alias("step"),
                "pair",
                F.concat("l", "r").alias("new_symbol"),
                F.col("cnt").cast("long").alias("pair_count"),
            ).limit(1)
        )
    return cur, heads


_BPE_ENCODE_ORACLE = f"""{_bpe_stages_sql(BPE_MERGES, carry="w, ")},
tok AS (
  SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok
  FROM w{BPE_MERGES}
),
docw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens
FROM docw d JOIN tok t USING (w)
GROUP BY 1
"""


@query("q_text_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M202: apply the BPE merge table learned by q_text_bpe_train to
    tokenize the corpus — per-document word/char/BPE-token counts, i.e.
    the actual 100 TB tokenization pass a training pipeline runs after
    training the tokenizer (and the input to token-budgeted sampling /
    packing: q_corpus_mix, q_pack_sequences).

    Scale story, same as training plus one join: the merge chain runs
    entirely on the vocabulary-sized word dict (carrying the word id
    through each stage), producing word -> n_subword_tokens; the corpus
    is then tokenized by ONE broadcast join of that dict onto the
    exploded word stream and a doc-keyed count — the corpus is touched
    exactly twice (dict build, token join), never per merge step. The
    dict is broadcast because it is vocabulary-bounded (~1e6-1e7 rows
    on a web corpus), not data-bounded.

    Exactness: identical merge DAG as training (same unrolled oracle
    stages, now carrying w); token counts are exact integers — split of
    the double-space encoding — and the per-doc sums are exact integer
    aggregates. Every extracted word is in the dict by construction
    (dict built from the same corpus), so the inner join drops nothing;
    documents with zero [a-z]+ words are absent on both engines."""
    words = _bpe_words(spark, sf_dir)
    cur = words.select("w", _bpe_seq0().alias("seq"), "freq")
    final, _ = _bpe_merge_stages(cur, BPE_MERGES, carry=("w",))
    wt = final.select(
        "w",
        F.size(F.split(F.trim(F.col("seq")), "  ")).cast("long").alias("n_tok"),
    )
    docw = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    return (
        docw.join(F.broadcast(wt), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# M206: RAKE keyword extraction (corpus-level)
# --------------------------------------------------------------------------

RAKE_TOP = 20

# ' w1  w2 ' double-space encoding (the BPE trick above) makes plain
# non-regex replace() of ' <stopword> ' an exact word-boundary delete even
# for CONSECUTIVE stopwords — each token owns a space on both sides, so
# matches never overlap. This keeps the phrase splitter identical on both
# engines without lookahead regex (DuckDB's RE2 has none).
_RAKE_SEQ_SQL = "' ' || array_to_string(regexp_extract_all(lower(text), '[a-z]+'), '  ') || ' '"
for _sw in _STOPWORDS:
    _RAKE_SEQ_SQL = f"replace({_RAKE_SEQ_SQL}, ' {_sw} ', ' | ')"

_RAKE_ORACLE = f"""
WITH occ AS MATERIALIZED (
  SELECT array_to_string(string_split(trim(piece), '  '), ' ') AS phrase
  FROM documents, unnest(string_split({_RAKE_SEQ_SQL}, '|')) AS u(piece)
  WHERE trim(piece) <> ''
),
pw AS MATERIALIZED (
  SELECT phrase, len(string_split(phrase, ' ')) AS n_words, w.w
  FROM occ, unnest(string_split(phrase, ' ')) AS w(w)
),
ws AS (
  SELECT w, CAST(ROUND(SUM(n_words) * 1e6 / COUNT(*), 0) AS BIGINT) AS score_s
  FROM pw GROUP BY 1
),
uniq AS (
  SELECT phrase, COUNT(*) AS n_occ FROM occ GROUP BY 1
),
scored AS (
  SELECT u.phrase, u.n_occ,
         CAST(len(string_split(u.phrase, ' ')) AS BIGINT) AS n_words,
         SUM(s.score_s) AS total_s
  FROM uniq u,
       unnest(string_split(u.phrase, ' ')) AS w(w)
  JOIN ws s ON s.w = w.w
  GROUP BY 1, 2, 3
)
SELECT phrase, n_words, CAST(n_occ AS BIGINT) AS n_occurrences,
       total_s / 1e6 AS rake_score, rnk
FROM (
  SELECT phrase, n_words, n_occ, total_s,
         CAST(ROW_NUMBER() OVER (ORDER BY total_s DESC, phrase) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= {RAKE_TOP}
"""


@query("q_text_rake", oracle=_RAKE_ORACLE)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M206: RAKE keyword extraction (Rose, Engel, Cramer, Cowley 2010)
    at corpus level — candidate phrases are maximal stopword-free token
    runs; each word scores deg(w)/freq(w) where freq counts occurrences
    inside candidates and deg sums the lengths of the phrases containing
    them; a phrase scores the sum of its words' scores. Top-{RAKE_TOP}
    distinct phrases with occurrence counts — the unsupervised keyword
    miner next to q_text_tfidf (per-doc) and q_text_pmi (pairwise).

    Scale shape: phrase splitting is ROW-LOCAL string algebra (the BPE
    double-space encoding makes plain replace() an exact word-boundary
    stopword delete — no regex lookahead, no UDF); the word-score table is
    one token-keyed aggregate, vocabulary-sized, joined back broadcast;
    phrase scoring is one phrase-keyed integer SUM; the only global sort
    is the WindowGroupLimit-pruned top-{RAKE_TOP} head. Word scores are
    micro-scaled integers (rlong(deg*1e6/freq)) so phrase totals are
    order-free exact integer sums on both engines."""
    d = table(spark, sf_dir, "documents")
    seq = F.concat(
        F.lit(" "),
        F.array_join(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "  "),
        F.lit(" "),
    )
    for sw in _STOPWORDS:
        seq = F.replace(seq, F.lit(f" {sw} "), F.lit(" | "))
    occ = (
        d.select(F.explode(F.split(seq, "\\|")).alias("piece"))
        .select(
            F.array_join(F.split(F.trim(F.col("piece")), "  "), " ").alias("phrase")
        )
        .where(F.col("phrase") != "")
    )
    pw = occ.select(
        "phrase",
        F.size(F.split("phrase", " ")).alias("n_words"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    ws = pw.groupBy("w").agg(
        rlong(F.sum("n_words") * F.lit(1e6) / F.count(F.lit(1))).alias("score_s")
    )
    uniq = occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        uniq.select(
            "phrase",
            "n_occ",
            F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(F.broadcast(ws), "w")
        .groupBy("phrase", "n_occ", "n_words")
        .agg(F.sum("score_s").alias("total_s"))
    )
    wr = Window.orderBy(F.col("total_s").desc(), "phrase")
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= RAKE_TOP)
        .select(
            "phrase",
            "n_words",
            F.col("n_occ").cast("long").alias("n_occurrences"),
            (F.col("total_s") / F.lit(1e6)).alias("rake_score"),
            "rnk",
        )
    )
