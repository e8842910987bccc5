"""Item-based collaborative filtering — the reference's own capability surface.

Semantics: standard ItemCF (Sarwar et al., WWW 2001; Linden et al., 2003) as
reconstructed in SURVEY.md §3.I — the reference checkout was empty this round
(SURVEY.md §0), so no file:line citations into /root/reference are possible;
the pipeline shape below is the reconstructed [R:H] contract.

Pipeline: user-item interaction matrix (orders ⋈ lineitem) → item co-occurrence
(self-join on user) → cosine similarity C(i,j)/sqrt(N(i)·N(j)) → top-K
neighbors per item → score p(u,j) = Σ_{i∈I(u)} w_ij · r_ui → drop seen items →
top-N per user.

Scale design (100 TB, SURVEY.md §5):
- The interaction matrix is the only big table; it is built by one shuffle
  (groupBy user,item) and every later stage is keyed on user or item.
- Co-occurrence self-joins on user_id; hot (high-fan-out) users are the classic
  skew source — ``MAX_USER_HISTORY`` caps per-user history (keep the
  MAX_USER_HISTORY most-interacted items per user) bounding the pair blow-up at
  O(U·K²); AQE skew-join splitting handles residual skew.
- Similarity/top-K are per-item windows: partition-parallel, no global sort.
- All float aggregates use order-independent scaled-integer sums
  (functions.determinism) — results identical across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import memo, spread, table
from recsys_spark_spark.functions.determinism import dround, oround, rlong
from recsys_spark_spark.registry import query

TOP_K_NEIGHBORS = 10
TOP_N_RECS = 5
# Per-user history cap for the co-occurrence self-join. At the test scale
# factors no user exceeds this, so capped == uncapped (oracle stays exact);
# at 100 TB it is the knob that bounds the pair explosion (Linden'03).
MAX_USER_HISTORY = 1000

# The UserCF mirror of MAX_USER_HISTORY: hot ITEMS are the user-pair skew
# source (an item with audience c yields c^2 directional pairs). Every tested
# SF's max item audience is <= 53 (guarded at sf0.001/sf0.01/sf0.1 in
# tests/test_cf_property.py), so capped == uncapped and the user-sim oracles
# stay exact; the sf1 probe ("10x users, same catalog" — audiences 10x)
# measured q_cf_user_recommend at 35x wall-clock for 10x data before any cap
# and 31.4x under an earlier cap of 200 (audiences 530 sat only 2.65x over
# it, so the cap had barely engaged). The cap is therefore 64 — the Swing
# C(30,2) discipline: per-item pair mass is bounded at 64^2 ≈ 4.1k
# directional pairs regardless of audience, which saturates at the sf1
# replica (530 ≫ 64) and turns the pair stage flat in audience growth. Like
# Swing's SWING_USERS_PER_ITEM, the cap keeps each item's smallest user_ids —
# deterministic, no RNG (production would sample uniformly per item).
MAX_ITEM_AUDIENCE = 64


# --------------------------------------------------------------------------
# Building blocks (shared, composable DataFrame builders)
# --------------------------------------------------------------------------

def interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: user-item interaction matrix from orders ⋈ lineitem.

    One shuffle join on orderkey (both sides large → sort-merge/shuffled-hash,
    AQE decides), then ONE exchange keyed by user_id before the (user, item)
    aggregate. HashPartitioning(user_id) satisfies the aggregate's clustered
    distribution (subset of the grouping keys) and — crucially — is the
    partitioning every downstream CF stage wants: the co-occurrence self-join,
    the score aggregate, the seen-filter anti-join, and the per-user top-N
    window all run exchange-free on top of it (alias-aware output
    partitioning carries o_custkey → user_id through the agg).
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .repartition("o_custkey")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_quantity").alias("total_qty"),
        )
    )


@memo
def capped_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interaction matrix with per-user history capped to the
    MAX_USER_HISTORY strongest items (deterministic tie-break on item_id).
    Skew guard for co-occurrence.

    Because interactions() is already hash-partitioned by user_id, the cap is
    a partition-local window row_number — no exchange, and the Tungsten sort
    it adds is per-partition and spillable. The returned DataFrame is
    persisted (callers fan out into 4+ branches) and keeps
    HashPartitioning(user_id), which the whole downstream CF chain relies on.
    """
    ui = interactions(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("item_id"))
    return (
        ui.withColumn("_hrank", F.row_number().over(w))
        .where(F.col("_hrank") <= MAX_USER_HISTORY)
        .drop("_hrank")
    )


def flagship_chain(ui: DataFrame) -> DataFrame:
    """The ItemCF recommendation chain over an interaction matrix: fused
    top-K neighbors, then top-N scoring with the seen-filter. The flagship
    (q_cf_recommend), its memoized frame (flagship_recs) and the holdout
    evaluation all run this one chain. q_cf_recommend builds it afresh
    rather than reading flagship_recs, so its pinned plan
    (tests/test_plans.py) stays the chain's own."""
    neighbors = topk_neighbors_fused(ui, item_norms(ui)).select("item_i", "item_j", "sim")
    return recommend(ui, neighbors)


@memo
def flagship_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship top-5 recommendation frame, persisted for its downstream
    consumers (novelty, hybrid): the same rows as q_cf_recommend."""
    return flagship_chain(capped_interactions(spark, sf_dir))


def audience_capped(ui: DataFrame, cap: int = MAX_ITEM_AUDIENCE) -> DataFrame:
    """Interaction rows with per-item audience capped to the `cap` smallest
    user_ids — the hot-ITEM skew guard for USER-pair generation (the mirror
    of capped_interactions' hot-user guard). Applied only to the pair-join
    sides: user norms stay full-history so the cosine denominator keeps its
    true scale. One window keyed by item_id (an exchange — user-pair
    generation re-keys by item anyway, so the shuffle is not additional
    relative to the self-join it feeds)."""
    w = Window.partitionBy("item_id").orderBy("user_id")
    return (
        ui.withColumn("_arn", F.row_number().over(w))
        .where(F.col("_arn") <= cap)
        .drop("_arn")
    )


def item_norms(ui: DataFrame) -> DataFrame:
    """I2: N(i) = number of distinct users per item (ui is unique on user,item)."""
    return ui.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))


def cooccurrence(ui: DataFrame) -> DataFrame:
    """I3: C(i,j) = users who interacted with both i and j (i < j).

    Self-join on user_id — the skew-prone stage; inputs should be capped
    (see capped_interactions) at scale.

    shuffle_hash hint for the same reason as topk_neighbors_fused: without
    it the join runs colocated on the upstream aggregate's AQE-coalesced
    partitioning (5 tasks at sf0.1 — the byte-sized width of the ~6 MB
    matrix, not the width the 13M-row pair fan-out needs: 64 s single-core
    CPU in q_cf_iuf_sim's pair stage, 21 s in q_cf_cooccurrence's). The
    hint pins the strategy on default-config sessions too (the driver
    probe does not set preferSortMergeJoin=false, so without it the pair
    join Tungsten-sorts both 600k-row sides before streaming 13M pair
    rows). An explicit repartition(width) on one side was tried and
    REVERTED on plan evidence: Catalyst elides a repartition whose child
    already reports the same hash partitioning (the ui aggregate is
    hash(user_id)), and pinning it inside the shared subtree broke
    exchange reuse between the self-join sides, re-deriving the whole
    interactions build per side (measured 4x CPU in q_cf_user_sim's twin).
    """
    a = ui.select("user_id", F.col("item_id").alias("item_i"))
    b = ui.select("user_id", F.col("item_id").alias("item_j"))
    return (
        a.join(b.hint("shuffle_hash"), "user_id")
        .where(F.col("item_i") < F.col("item_j"))
        .groupBy("item_i", "item_j")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def cosine_similarity(cooc: DataFrame, norms: DataFrame) -> DataFrame:
    """I4: w_ij = C(i,j) / sqrt(N(i)·N(j)), rounded to 6 decimals.

    norms is small relative to cooc → broadcast both norm joins.
    """
    ni = F.broadcast(norms.select(F.col("item_id").alias("item_i"), F.col("n_users").alias("n_i")))
    nj = F.broadcast(norms.select(F.col("item_id").alias("item_j"), F.col("n_users").alias("n_j")))
    return (
        cooc.join(ni, "item_i")
        .join(nj, "item_j")
        .select(
            "item_i",
            "item_j",
            dround(F.col("n_common") / F.sqrt(F.col("n_i") * F.col("n_j"))).alias("sim"),
        )
    )


def symmetrize(sim: DataFrame) -> DataFrame:
    """Similarity triples are stored once (i<j); expand to both directions.

    Explode form, not union: a self-union would evaluate the whole
    upstream chain (scan→join→co-occurrence→similarity) twice per action,
    while explode emits both directions in the same stage, scanning it once.
    """
    both = F.array(
        F.struct(F.col("item_i"), F.col("item_j"), F.col("sim")),
        F.struct(
            F.col("item_j").alias("item_i"),
            F.col("item_i").alias("item_j"),
            F.col("sim"),
        ),
    )
    return sim.select(F.explode(both).alias("e")).select("e.item_i", "e.item_j", "e.sim")


def topk_neighbors(sim_full: DataFrame, k: int = TOP_K_NEIGHBORS) -> DataFrame:
    """I6: top-K similar items per item, tie-broken by item_j.

    Hash-aggregate form (collect per item → sort the small array → slice)
    instead of a row_number window: one hash shuffle and a ~1k-element sort
    per item versus a full sort of every (i,j,sim) row. Identical output
    (struct sort on (-sim, item_j) == ORDER BY sim DESC, item_j; Spark
    normalizes -0.0 and sims are positive). At extreme per-item fan-out the
    window form spills more gracefully — that regime is exactly what the
    per-user cap (capped_interactions) prevents upstream.
    """
    agged = sim_full.groupBy("item_i").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct((-F.col("sim")).alias("ns"), F.col("item_j")))),
            1,
            k,
        ).alias("top")
    )
    return agged.select(
        "item_i", F.posexplode("top").alias("pos", "p")
    ).select(
        "item_i",
        F.col("p.item_j").alias("item_j"),
        (-F.col("p.ns")).alias("sim"),
        (F.col("pos") + 1).cast("long").alias("rnk"),
    )


def topk_neighbors_fused(ui: DataFrame, norms: DataFrame, k: int = TOP_K_NEIGHBORS) -> DataFrame:
    """I3+I4+I6 in ONE shuffle: top-K similar items per item.

    Instead of cooccurrence (exchange on (i,j)) → symmetrize → top-k
    (exchange on item_i), emit directional pairs (i≠j, both orders) from the
    user self-join and repartition by item_i ONCE. HashPartitioning(item_i)
    satisfies the clustered distribution of BOTH downstream aggregates
    (groupBy(item_i,item_j) count and groupBy(item_i) collect-top-k), and the
    broadcast norm joins preserve it, so the count → sim → top-k chain runs
    partition-local in a single stage. At sf0.1 this replaces a 14M-row
    (i,j)-exchange plus a 25M-struct item_i-exchange with one 30M-row narrow
    exchange — and at 1000 executors it is also the right plan: one wide
    stage keyed by item, no intermediate materialization, skew bounded
    upstream by the per-user history cap.

    The per-item top-k itself is a window row_number rather than a
    collect_list/sort/slice aggregate: the window sorts each partition with
    the Tungsten external sorter (codegen'd, spillable), where the object
    aggregate allocates one on-heap struct per similarity row — measured
    both slower under GC and the thing that OOMs first on a hot item whose
    neighbor list approaches |items|.

    Output is identical to topk_neighbors(symmetrize(cosine_similarity(...)))
    — counts over directional pairs equal symmetrized i<j counts, and
    (sim DESC, item_j) is the same total order.
    """
    a = ui.select("user_id", F.col("item_id").alias("item_i"))
    b = ui.select("user_id", F.col("item_id").alias("item_j"))
    # shuffle_hash: the self-join sides have no exploitable sort order, and a
    # sort-merge join would Tungsten-sort both 550k-row inputs before
    # streaming 30M pair rows; a per-partition hash build is strictly less
    # work whether or not the cached ui's partitioning is visible (under AQE
    # a cached plan reports unknown partitioning at planning time, so the
    # planner re-exchanges both sides either way).
    pairs = a.join(b.hint("shuffle_hash"), "user_id").where(F.col("item_i") != F.col("item_j"))
    ni = F.broadcast(norms.select(F.col("item_id").alias("item_i"), F.col("n_users").alias("n_i")))
    nj = F.broadcast(norms.select(F.col("item_id").alias("item_j"), F.col("n_users").alias("n_j")))
    sim = (
        pairs.repartition("item_i")
        .groupBy("item_i", "item_j")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(ni, "item_i")
        .join(nj, "item_j")
        .select(
            "item_i",
            "item_j",
            dround(F.col("n_common") / F.sqrt(F.col("n_i") * F.col("n_j"))).alias("sim"),
        )
    )
    w = Window.partitionBy("item_i").orderBy(F.col("sim").desc(), F.col("item_j"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("item_i", "item_j", "sim", F.col("rnk").cast("long").alias("rnk"))
    )


def recommend(ui: DataFrame, neighbors: DataFrame, n: int = TOP_N_RECS) -> DataFrame:
    """I7: p(u,j) = Σ_{i∈I(u)} w_ij·r_ui (r = cnt), drop seen, top-N per user.

    Scaled-integer sum keeps the score order-independent; anti-join removes
    seen items; final rank is a per-user window.
    """
    # Neighbors are small (|items|·K rows) → broadcast, so the expansion join
    # streams ui straight from cache with no shuffle. The expanded candidates
    # are repartitioned by user ONCE: HashPartitioning(user_id) satisfies
    # every downstream requirement — the score aggregate on (user, rec_item),
    # the seen-filter anti-join (whose other side is co-partitioned on
    # user_id; a subset of the join keys, so the shuffled-hash join needs no
    # further exchange), and the final per-user top-N collect — so everything
    # after the two narrow exchanges is one partition-local stage. The same
    # plan holds on a real cluster: the big expanded-candidate table moves
    # once, keyed by user; nothing user-history-sized is ever broadcast.
    joined = ui.join(F.broadcast(neighbors), ui.item_id == neighbors.item_i)
    scores = (
        joined.repartition("user_id")
        .groupBy(
            F.col("user_id"),
            F.col("item_j").alias("rec_item"),
        )
        .agg(
            (F.sum(rlong(F.col("sim") * F.col("cnt") * F.lit(1e6))) / F.lit(1e6)).alias("_s")
        )
    )
    # Seen-filter as a per-user item-set membership test, NOT an anti-join on
    # (user_id, rec_item). An anti-join keyed on both columns forces Spark to
    # re-exchange BOTH sides on (user_id, rec_item) — and its output
    # partitioning then no longer satisfies the final window's user_id
    # clustering, adding a THIRD exchange of the full score table (observed:
    # 3 extra exchanges ≈ 10M rows moved at sf0.1). Collapsing seen items to
    # one array per user keeps every step keyed by user_id alone: the
    # collect_set aggregate moves ~|users| tiny rows, the membership join is
    # a co-partitioned shuffled-hash join on user_id, and the final window
    # runs partition-local. The per-user array is bounded by the history cap
    # (MAX_USER_HISTORY), so it cannot blow up on a hot user at 100 TB —
    # while nothing user-history-sized is ever broadcast.
    seen = ui.groupBy("user_id").agg(F.collect_set("item_id").alias("_seen"))
    unseen = (
        scores.join(seen.hint("shuffle_hash"), "user_id")
        .where(~F.array_contains(F.col("_seen"), F.col("rec_item")))
        .drop("_seen")
    )
    # Per-user top-N as a window row_number — same Tungsten-sort rationale as
    # topk_neighbors_fused, and it runs in the same partition-local stage
    # since HashPartitioning(user_id) satisfies the window's distribution.
    w = Window.partitionBy("user_id").orderBy(F.col("_s").desc(), F.col("rec_item"))
    return (
        unseen.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= n)
        .select(
            "user_id",
            F.col("rec_item").alias("item_id"),
            F.round("_s", 6).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# Oracle SQL fragments (DuckDB twins of the builders above)
# --------------------------------------------------------------------------

UI_CTE = """ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id,
         COUNT(*) AS cnt, SUM(l_quantity) AS total_qty
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)"""

NORMS_CTE = """norms AS (
  SELECT item_id, COUNT(*) AS n_users FROM ui GROUP BY 1
)"""

COOC_CTE = """cooc AS (
  SELECT a.item_id AS item_i, b.item_id AS item_j, COUNT(*) AS n_common
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2
)"""

SIM_CTE = """sim AS (
  SELECT item_i, item_j,
         (ROUND((n_common / SQRT(ni.n_users * nj.n_users)) * 1e6, 0) / 1e6) AS sim
  FROM cooc
  JOIN norms ni ON cooc.item_i = ni.item_id
  JOIN norms nj ON cooc.item_j = nj.item_id
)"""

SIMSYM_CTE = """simsym AS (
  SELECT item_i, item_j, sim FROM sim
  UNION ALL
  SELECT item_j AS item_i, item_i AS item_j, sim FROM sim
)"""

TOPK_CTE = f"""topk AS (
  SELECT item_i, item_j, sim, rnk FROM (
    SELECT item_i, item_j, sim,
           ROW_NUMBER() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j) AS rnk
    FROM simsym
  ) WHERE rnk <= {TOP_K_NEIGHBORS}
)"""

RECS_CTE = f"""scores AS (
  SELECT ui.user_id, t.item_j AS rec_item,
         SUM(CAST(ROUND(t.sim * ui.cnt * 1e6, 0) AS BIGINT)) / 1e6 AS _s
  FROM ui JOIN topk t ON ui.item_id = t.item_i
  GROUP BY 1, 2
), unseen AS (
  SELECT s.user_id, s.rec_item, s._s
  FROM scores s
  WHERE NOT EXISTS (
    SELECT 1 FROM ui WHERE ui.user_id = s.user_id AND ui.item_id = s.rec_item
  )
), recs AS (
  SELECT user_id, rec_item AS item_id, ROUND(_s, 6) AS score, rnk FROM (
    SELECT user_id, rec_item, _s,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY _s DESC, rec_item) AS rnk
    FROM unseen
  ) WHERE rnk <= {TOP_N_RECS}
)"""

CF_CHAIN = ",\n".join([UI_CTE, NORMS_CTE, COOC_CTE, SIM_CTE, SIMSYM_CTE, TOPK_CTE, RECS_CTE])


# --------------------------------------------------------------------------
# Registered queries
# --------------------------------------------------------------------------

@query(
    "q_cf_user_item",
    oracle=f"WITH {UI_CTE}\nSELECT user_id, item_id, cnt, total_qty FROM ui",
)
def q_cf_user_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interactions(spark, sf_dir)


@query(
    "q_cf_item_norms",
    oracle=f"WITH {UI_CTE},\n{NORMS_CTE}\nSELECT item_id, n_users FROM norms",
)
def q_cf_item_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return item_norms(interactions(spark, sf_dir))


@query(
    "q_cf_cooccurrence",
    oracle=f"WITH {UI_CTE},\n{COOC_CTE}\nSELECT item_i, item_j, n_common FROM cooc",
)
def q_cf_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cooccurrence(interactions(spark, sf_dir))


@query(
    "q_cf_cosine_sim",
    oracle=(
        f"WITH {UI_CTE},\n{NORMS_CTE},\n{COOC_CTE},\n{SIM_CTE}\n"
        "SELECT item_i, item_j, sim FROM sim"
    ),
)
def q_cf_cosine_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ui = interactions(spark, sf_dir)
    return cosine_similarity(cooccurrence(ui), item_norms(ui))


IUF_CTE = """usize AS (
  SELECT user_id, 1.0 / LN(1 + COUNT(*)) AS iuf FROM ui GROUP BY 1
), iufnum AS (
  SELECT a.item_id AS item_i, b.item_id AS item_j,
         SUM(CAST(ROUND(u.iuf * 1e9, 0) AS BIGINT)) / 1e9 AS s_iuf
  FROM ui a
  JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  JOIN usize u ON u.user_id = a.user_id
  GROUP BY 1, 2
)"""


@query(
    "q_cf_iuf_sim",
    oracle=(
        f"WITH {UI_CTE},\n{NORMS_CTE},\n{IUF_CTE}\n"
        "SELECT item_i, item_j,\n"
        "       (ROUND((s_iuf / SQRT(ni.n_users * nj.n_users)) * 1e6, 0) / 1e6) AS sim\n"
        "FROM iufnum\n"
        "JOIN norms ni ON iufnum.item_i = ni.item_id\n"
        "JOIN norms nj ON iufnum.item_j = nj.item_id"
    ),
)
def q_cf_iuf_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: inverse-user-frequency ItemCF — active users contribute
    1/ln(1+|I(u)|) to each co-occurrence instead of 1.

    The pair join carries the same shuffle_hash hint as cooccurrence():
    without it the whole pair fan-out ran on the aggregate's 5
    AQE-coalesced partitions (64 s single-core CPU in one 5-task stage at
    sf0.1). The IUF weight joins on as the usize aggregate, user-keyed
    and colocated with the pair stream (planner picks broadcast at test
    sizes, stays shuffled at scale). A window-count variant (weight as
    count-over-user on the `a` side, no usize join) was tried and
    REVERTED on an sf1 A/B: the Window in the pair-emit stage cost
    1.7-2x the CPU of the join form at 113M pair rows (1,293-1,537 s vs
    749-987 s, GC 2.7x) across two interleaved rounds — WindowExec's sort
    + group buffering sits in the widest stage, where the usize hash
    probe is nearly free."""
    ui = interactions(spark, sf_dir)
    usize = ui.groupBy("user_id").agg(
        (F.lit(1.0) / F.log(F.lit(1) + F.count(F.lit(1)))).alias("iuf")
    )
    a = ui.select("user_id", F.col("item_id").alias("item_i"))
    b = ui.select("user_id", F.col("item_id").alias("item_j"))
    iufnum = (
        a.join(b.hint("shuffle_hash"), "user_id")
        .where(F.col("item_i") < F.col("item_j"))
        .join(usize, "user_id")
        .groupBy("item_i", "item_j")
        .agg((F.sum(rlong(F.col("iuf") * F.lit(1e9))) / F.lit(1e9)).alias("s_iuf"))
    )
    norms = item_norms(ui)
    ni = F.broadcast(norms.select(F.col("item_id").alias("item_i"), F.col("n_users").alias("n_i")))
    nj = F.broadcast(norms.select(F.col("item_id").alias("item_j"), F.col("n_users").alias("n_j")))
    return (
        iufnum.join(ni, "item_i")
        .join(nj, "item_j")
        .select(
            "item_i",
            "item_j",
            dround(F.col("s_iuf") / F.sqrt(F.col("n_i") * F.col("n_j"))).alias("sim"),
        )
    )


@query(
    "q_cf_topk_neighbors",
    oracle=(
        f"WITH {UI_CTE},\n{NORMS_CTE},\n{COOC_CTE},\n{SIM_CTE},\n{SIMSYM_CTE},\n{TOPK_CTE}\n"
        "SELECT item_i, item_j, sim, rnk FROM topk"
    ),
)
def q_cf_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ui = interactions(spark, sf_dir).persist()
    return topk_neighbors_fused(ui, item_norms(ui))


@query(
    "q_cf_recommend",
    oracle=f"WITH {CF_CHAIN}\nSELECT user_id, item_id, score, rnk FROM recs",
)
def q_cf_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7 flagship: full ItemCF recommendation pipeline, top-5 per user.

    The interaction matrix feeds four branches (norms, co-occurrence,
    scoring, seen-filter); capped_interactions returns it persisted so the
    base join+agg runs once per action instead of four times — the single
    biggest win at every scale (at 100 TB: MEMORY_AND_DISK or a parquet
    checkpoint)."""
    return flagship_chain(capped_interactions(spark, sf_dir))


def topk_user_neighbors(ui: DataFrame, k: int = TOP_K_NEIGHBORS) -> DataFrame:
    """UserCF twin of topk_neighbors_fused: top-K similar users per user in
    one exchange. Directional user pairs stream out of the item-keyed
    self-join, are repartitioned by user_a ONCE, and count → cosine →
    window-top-k run partition-local (same WindowGroupLimit pruning).
    At scale hot *items* are the skew source here — the mirror of hot users
    in ItemCF; the pair-generation sides ride audience_capped
    (MAX_ITEM_AUDIENCE, capped == uncapped at every tested SF — the sf1
    probe measured 35x for 10x data from 10x audiences before the cap).
    Norms stay full-history (true cosine denominator)."""
    unorms = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_items"))
    uic = audience_capped(ui)
    a = uic.select("item_id", F.col("user_id").alias("user_a"))
    b = uic.select("item_id", F.col("user_id").alias("user_b"))
    # shuffle_hash for the same reason as the ItemCF fused self-join: no
    # exploitable sort order, and default-config sessions (driver probe)
    # don't set preferSortMergeJoin=false
    pairs = a.join(b.hint("shuffle_hash"), "item_id").where(F.col("user_a") != F.col("user_b"))
    na = F.broadcast(unorms.select(F.col("user_id").alias("user_a"), F.col("n_items").alias("n_a")))
    nb = F.broadcast(unorms.select(F.col("user_id").alias("user_b"), F.col("n_items").alias("n_b")))
    sim = (
        pairs.repartition("user_a")
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a",
            "user_b",
            dround(F.col("n_common") / F.sqrt(F.col("n_a") * F.col("n_b"))).alias("sim"),
        )
    )
    w = Window.partitionBy("user_a").orderBy(F.col("sim").desc(), F.col("user_b"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("user_a", "user_b", "sim")
    )


USER_NORMS_CTE = """unorms AS (
  SELECT user_id, COUNT(*) AS n_items FROM ui GROUP BY 1
)"""

USER_COOC_CTE = """ucooc AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS n_common
  FROM ui a JOIN ui b ON a.item_id = b.item_id AND a.user_id < b.user_id
  GROUP BY 1, 2
)"""


@query(
    "q_cf_user_sim",
    oracle=(
        f"WITH {UI_CTE},\n{USER_NORMS_CTE},\n{USER_COOC_CTE}\n"
        "SELECT user_a, user_b,\n"
        "       (ROUND((n_common / SQRT(na.n_items * nb.n_items)) * 1e6, 0) / 1e6) AS sim\n"
        "FROM ucooc\n"
        "JOIN unorms na ON ucooc.user_a = na.user_id\n"
        "JOIN unorms nb ON ucooc.user_b = nb.user_id"
    ),
)
def q_cf_user_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: UserCF cosine similarity — symmetric to I4 on the user axis.

    Self-join on item_id; hot items are the pair-explosion source, so the
    join sides ride audience_capped (MAX_ITEM_AUDIENCE — capped
    == uncapped at every tested SF, so the oracle stays exact; at the sf1
    probe's 10x audiences the cap bounds the c^2 pair growth). Norms stay
    full-history. AQE skew split handles the residue."""
    ui = interactions(spark, sf_dir)
    unorms = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_items"))
    uic = audience_capped(ui)
    a = uic.select("item_id", F.col("user_id").alias("user_a"))
    b = uic.select("item_id", F.col("user_id").alias("user_b"))
    # shuffle_hash hint: same under-parallelism guard as cooccurrence() —
    # without it the pair join runs colocated on the audience-cap window's
    # AQE-coalesced item_id partitioning (4 tasks emitting 8.9M pair rows
    # at sf0.1) instead of the session's shuffle width.
    ucooc = (
        a.join(b.hint("shuffle_hash"), "item_id")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = unorms.select(F.col("user_id").alias("user_a"), F.col("n_items").alias("n_a"))
    nb = unorms.select(F.col("user_id").alias("user_b"), F.col("n_items").alias("n_b"))
    return (
        ucooc.join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a",
            "user_b",
            dround(F.col("n_common") / F.sqrt(F.col("n_a") * F.col("n_b"))).alias("sim"),
        )
    )


USER_TOPK_CTE = f"""usim AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS n_common
  FROM ui a JOIN ui b ON a.item_id = b.item_id AND a.user_id <> b.user_id
  GROUP BY 1, 2
), uscored AS (
  SELECT user_a, user_b,
         (ROUND((n_common / SQRT(na.n_items * nb.n_items)) * 1e6, 0) / 1e6) AS sim
  FROM usim
  JOIN unorms na ON usim.user_a = na.user_id
  JOIN unorms nb ON usim.user_b = nb.user_id
), utopk AS (
  SELECT user_a, user_b, sim FROM (
    SELECT user_a, user_b, sim,
           ROW_NUMBER() OVER (PARTITION BY user_a ORDER BY sim DESC, user_b) AS rnk
    FROM uscored
  ) WHERE rnk <= {TOP_K_NEIGHBORS}
)"""

USER_RECS_CTE = f"""uscores AS (
  SELECT t.user_a AS user_id, ui.item_id,
         SUM(CAST(ROUND(t.sim * ui.cnt * 1e6, 0) AS BIGINT)) / 1e6 AS _s
  FROM utopk t JOIN ui ON ui.user_id = t.user_b
  GROUP BY 1, 2
), uunseen AS (
  SELECT s.user_id, s.item_id, s._s
  FROM uscores s
  WHERE NOT EXISTS (
    SELECT 1 FROM ui WHERE ui.user_id = s.user_id AND ui.item_id = s.item_id
  )
), urecs AS (
  SELECT user_id, item_id, ROUND(_s, 6) AS score, rnk FROM (
    SELECT user_id, item_id, _s,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY _s DESC, item_id) AS BIGINT) AS rnk
    FROM uunseen
  ) WHERE rnk <= {TOP_N_RECS}
)"""


@query(
    "q_cf_user_recommend",
    oracle=(
        f"WITH {UI_CTE},\n{USER_NORMS_CTE},\n{USER_TOPK_CTE},\n{USER_RECS_CTE}\n"
        "SELECT user_id, item_id, score, rnk FROM urecs"
    ),
)
def q_cf_user_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8b: UserCF recommendation — p(u,i) = Σ_{v∈N(u)} sim(u,v)·r_vi over
    the top-K most similar users, minus items u already has, top-N per user.

    The neighbor table is |users|·K rows → broadcast into the expansion join
    against the cached user_id-partitioned interaction matrix (keyed by the
    *neighbor* user v = ui.user_id, so the big side streams from cache); the
    score aggregate then needs one exchange to re-key by the target user u,
    and the seen-filter anti-join + final window reuse that partitioning.
    Same scaled-integer score discipline as ItemCF I7."""
    ui = capped_interactions(spark, sf_dir)
    neighbors = topk_user_neighbors(ui)
    expanded = ui.join(F.broadcast(neighbors), ui.user_id == neighbors.user_b)
    # repartition by the TARGET user ONCE before the aggregate — the same
    # one-exchange discipline as ItemCF recommend(): hash(user_a) satisfies
    # the (user_a, item_id) aggregate via the subset rule AND the seen-filter
    # join + final window downstream. Without it Catalyst compiled partial
    # agg → Exchange(user_a, item_id) → final agg → second Exchange(user_a),
    # moving the ~4.7M expanded rows twice with a map-side combine that
    # deduped under 2% (expanded keys are nearly unique per input partition).
    scores = (
        expanded.repartition("user_a")
        .groupBy(
            F.col("user_a").alias("user_id"),
            F.col("item_id"),
        )
        .agg(
            (F.sum(rlong(F.col("sim") * F.col("cnt") * F.lit(1e6))) / F.lit(1e6)).alias("_s")
        )
    )
    # Same seen-filter shape as ItemCF recommend(): per-user item-set
    # membership instead of a two-key anti-join, keeping the whole tail of
    # the pipeline clustered on user_id alone (see recommend() for the
    # exchange-count rationale).
    seen = ui.groupBy("user_id").agg(F.collect_set("item_id").alias("_seen"))
    unseen = (
        scores.join(seen.hint("shuffle_hash"), "user_id")
        .where(~F.array_contains(F.col("_seen"), F.col("item_id")))
        .drop("_seen")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("_s").desc(), F.col("item_id"))
    return (
        unseen.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_N_RECS)
        .select(
            "user_id",
            "item_id",
            F.round("_s", 6).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# I11: popularity baseline recommender
# --------------------------------------------------------------------------

POP_CANDIDATES = 20

_POPULARITY_ORACLE = f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), pop AS (
  SELECT item_id, COUNT(*) AS n_users FROM ui GROUP BY 1
), top_pop AS (
  SELECT item_id, n_users FROM pop ORDER BY n_users DESC, item_id LIMIT {POP_CANDIDATES}
), cand AS (
  SELECT u.user_id, t.item_id, t.n_users
  FROM (SELECT DISTINCT user_id FROM ui) u CROSS JOIN top_pop t
  WHERE NOT EXISTS (SELECT 1 FROM ui s WHERE s.user_id = u.user_id AND s.item_id = t.item_id)
)
SELECT user_id, item_id, n_users, rnk FROM (
  SELECT user_id, item_id, n_users,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_users DESC, item_id) AS BIGINT) AS rnk
  FROM cand
) WHERE rnk <= {TOP_N_RECS}
"""


@query("q_cf_popularity_rec", oracle=_POPULARITY_ORACLE)
def q_cf_popularity_rec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I11: popularity baseline — top-N most-purchased items each user has
    NOT interacted with. The non-personalized reference every CF evaluation
    compares against (and the cold-start fallback the reference's pipeline
    shape implies for users with no history).

    Scale shape: item popularity is one keyed aggregate; the candidate list
    is output-sized (POP_CANDIDATES rows) and BROADCAST to the users side,
    so the per-user fan-out never shuffles the popularity table; the
    seen-filter reuses the flagship's membership-test shape (collect_set per
    user + shuffled-hash join on user_id + array_contains — see recommend()
    for why an anti-join on the composite key costs extra exchanges and why
    the seen side must never broadcast); the final per-user top-N window
    rides the same user_id partitioning. One broadcast + the ui exchange the
    whole CF family already shares — nothing new shuffles at 100 TB.

    Uses the UNCAPPED interaction matrix: the cap exists solely to bound the
    co-occurrence self-join (absent here), and capping the seen-filter would
    recommend items a heavy user has already interacted with once their
    history exceeds MAX_USER_HISTORY — a silent divergence from the oracle's
    uncapped NOT EXISTS at larger scale factors. Exchange reuse collapses
    the three branches' identical user_id repartition into one shuffle."""
    ui = interactions(spark, sf_dir).select("user_id", "item_id")
    return popularity_recs(ui, ui.select("user_id").distinct())


def popularity_recs(ui: DataFrame, users: DataFrame, n: int = TOP_N_RECS) -> DataFrame:
    """Unseen-filtered popularity head for a user slice — the shared block
    behind q_cf_popularity_rec (all users) and q_cf_hybrid_rec's cold
    branch (thin-history users). One definition so the seen-filter
    discipline (broadcast candidates + collect_set membership +
    shuffle_hash — see recommend()) can never diverge between them."""
    top_pop = F.broadcast(
        item_norms(ui).orderBy(F.col("n_users").desc(), "item_id").limit(POP_CANDIDATES)
    )
    cand = users.crossJoin(top_pop)
    seen = ui.groupBy("user_id").agg(F.collect_set("item_id").alias("_seen"))
    unseen = (
        cand.join(seen.hint("shuffle_hash"), "user_id")
        .where(~F.array_contains(F.col("_seen"), F.col("item_id")))
        .drop("_seen")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_users").desc(), "item_id")
    return (
        unseen.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= n)
        .select("user_id", "item_id", "n_users", "rnk")
    )


# --------------------------------------------------------------------------
# M89: incremental co-occurrence maintenance
# --------------------------------------------------------------------------

COOC_CUTOFF = "1997-01-01"

@memo
def _first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, i, m): first order date per user-item edge. Persisted: its
    consumers reference it from several differently-filtered subtrees,
    which exchange reuse does not cover."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.min("o_orderdate").alias("m"))
    )


@memo
def _capped_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """history_capped_edges over _first_seen, persisted: the pair self-join
    reads it on both sides, and each side would rerun the cap window."""
    return history_capped_edges(_first_seen(spark, sf_dir))


def history_capped_edges(first_seen: DataFrame, cap: int = MAX_USER_HISTORY) -> DataFrame:
    """First-seen edge table with per-user history capped to the `cap`
    EARLIEST (m, i) edges — the hot-user pair guard for the incremental
    co-occurrence self-join (the duplicate-mass-cap precedent). Earliest
    first matches the incremental contract: a standing capped history admits
    new edges only while under budget, so old/new flags survive the cap
    unchanged. At every tested SF no user's distinct-item history reaches
    MAX_USER_HISTORY (guarded in tests/test_cf_property.py), so capped ==
    uncapped and the from-scratch oracle stays exact; at 100 TB the cap
    bounds per-user pair mass at cap² regardless of history depth. Plan:
    the rank filter gets InferWindowGroupLimit, and the PARTIAL group limit
    runs BEFORE the window's hash exchange on u (first_seen is keyed
    (u, i)), so the shuffled volume is already capped — verified in the
    sf0.01 plan (WindowGroupLimit above and below each Exchange)."""
    w = Window.partitionBy("u").orderBy("m", "i")
    return (
        first_seen.withColumn("_hrk", F.row_number().over(w))
        .where(F.col("_hrk") <= cap)
        .drop("_hrk")
    )


@query(
    "q_cf_incremental_cooc",
    oracle="""
WITH ui AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), pc AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS c
  FROM ui a JOIN ui b ON a.u = b.u AND a.i <> b.i
  GROUP BY 1, 2
)
SELECT i AS item_i, COUNT(*) AS n_partners, CAST(SUM(c) AS BIGINT) AS total_cooc
FROM pc GROUP BY 1
""",
)
def q_cf_incremental_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M89: incremental maintenance of the CF co-occurrence matrix — the
    self-join aggregate that makes naive refreshes O(history²). Each
    (user, item) edge is assigned to OLD (first seen before the cutoff)
    or NEW (first seen at/after); the full pair table decomposes exactly as
    (old+new)² - diag = old×old  +  old×new + new×old + new×new,
    so the refresh computes only the three delta terms (each bounded by the
    DELTA's size per user, not the history's) and merges them with the
    standing base counts. The oracle recomputes co-occurrence from scratch,
    so the green row proves the decomposition reconstructs it exactly —
    per-item aggregate output keeps the comparison item-sized while any
    mispairing anywhere changes the sums.

    At 100 TB this is the difference between "similarity refresh touches
    yesterday's orders" and "similarity refresh re-reads years of history"
    (same maintenance contract as q_incr_agg, for a SELF-JOIN aggregate).
    The edge table rides history_capped_edges (MAX_USER_HISTORY
    earliest edges per user — capped == uncapped at every tested SF, so the
    from-scratch oracle stays exact), bounding per-user pair mass at cap²
    no matter how deep a whale user's history runs — the same engineered
    control as the dedup duplicate-mass caps and the UserCF audience cap.
    The residual sf1 ratio (~13x for 10x data) is TRUE pair mass: "10x
    users, same catalog" replicates every user's history, so Σ_u h_u²
    grows exactly 10x and the wall follows it linearly.

    Plan shape: the four terms come from ONE user-keyed self-join, not four
    — each edge carries its old/new flag through the join, and the pair
    table is grouped by (i, j, a_new, b_new), so the four decomposition
    terms are the four flag slices of a single grouped intermediate. The
    original form ran pairs() four times (4 joins + 4 aggregates + a
    3-way union); under a default-conf 1 GiB-heap session that plan sat on
    the OOM edge (observed: a sweep replay lost tasks to Java-heap OOM at
    this query after 22 prior window entries had warmed the heap, while
    the identical prefix passed on the 194-entry tree — marginal, not
    deterministic). One join + one aggregate is ~4x less shuffle I/O and
    removes the concurrent-hash-map pressure of the 3-way union's merge.
    All joins are user-keyed on one partitioning; counts are exact ints."""
    edges = _capped_first_seen(spark, sf_dir).select(
        "u", "i", (F.col("m") >= F.lit(COOC_CUTOFF)).alias("is_new")
    )
    a = edges.select("u", F.col("i").alias("pi"), F.col("is_new").alias("a_new"))
    b = edges.select("u", F.col("i").alias("pj"), F.col("is_new").alias("b_new"))
    # The pair table is ~26M nearly-unique
    # (i,j) rows, so the un-aligned shape exchanged it TWICE — the flags
    # aggregate's partial-agg output (hash(i,j,a_new,b_new)) could not be
    # reused by the (i,j) merge aggregate, which re-exchanged all 26M rows
    # (measured: two 283-305 MB / 23-26M-row exchanges back to back, and
    # 150 s of GC in the second's full-size hash map). One explicit
    # repartition by (pi, pj) moves the pairs ONCE: hash(i,j) satisfies the
    # clustered distribution of the flags aggregate (subset rule), the
    # merge aggregate, and — via partial map-side aggregation — leaves only
    # the item-sized final exchange. Partial aggregation before the wide
    # exchange bought nothing here because the keys are nearly unique.
    terms = (
        a.join(b, "u")
        .where(F.col("pi") != F.col("pj"))
        .repartition(F.col("pi"), F.col("pj"))
        .groupBy(
            F.col("pi").alias("i"), F.col("pj").alias("j"), "a_new", "b_new"
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # base = old x old; delta = the three terms touching a NEW edge.  The
    # slices are disjoint and exhaustive, so base+delta reconstructs the
    # full pair table exactly — which the from-scratch oracle verifies.
    base = terms.where(~F.col("a_new") & ~F.col("b_new"))
    delta = terms.where(F.col("a_new") | F.col("b_new"))
    merged = (
        base.unionByName(delta)
        .groupBy("i", "j")
        .agg(F.sum("c").alias("c"))
    )
    return merged.groupBy(F.col("i").alias("item_i")).agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.sum("c").cast("long").alias("total_cooc"),
    )


# --------------------------------------------------------------------------
# M93: sequential-recommendation training windows
# --------------------------------------------------------------------------


@query(
    "q_seq_windows",
    oracle=f"""
WITH fs AS (
  SELECT o_custkey AS u, l_partkey AS i, MIN(o_orderdate) AS m
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), seq AS (
  SELECT u, i, m,
         LEAD(i, 1) OVER w AS i2,
         LEAD(i, 2) OVER w AS i3,
         LEAD(i, 3) OVER w AS label
  FROM fs WINDOW w AS (PARTITION BY u ORDER BY m, i)
)
SELECT u AS user_id, i AS i1, i2, i3, label
FROM seq WHERE label IS NOT NULL
""",
)
def q_seq_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M93: sequential-recommendation training windows — each user's item
    history (ordered by first-purchase date, item id as the total
    tie-break) sliced into sliding (i1, i2, i3) → label examples, the
    input layout for GRU4Rec/SASRec-style next-item models. Completes the
    recsys training-data path next to q_sample_negatives (the pairwise
    path): sequence models consume these windows, pairwise losses consume
    the triples.

    Scale shape: one user-keyed window sort over the first-seen edge table
    (shared, persisted — same table the incremental co-occurrence
    maintains), then LEAD projections — no self-join, no explode; output
    is history-sized. Every column is an exact integer or date."""
    fs = _first_seen(spark, sf_dir)
    w = Window.partitionBy("u").orderBy("m", "i")
    seq = fs.select(
        "u",
        "i",
        F.lead("i", 1).over(w).alias("i2"),
        F.lead("i", 2).over(w).alias("i3"),
        F.lead("i", 3).over(w).alias("label"),
    )
    return seq.where(F.col("label").isNotNull()).select(
        F.col("u").alias("user_id"), F.col("i").alias("i1"), "i2", "i3", "label"
    )


# --------------------------------------------------------------------------
# M94: association rules (market-basket support / confidence / lift)
# --------------------------------------------------------------------------

RULE_MIN_COUNT = 5
RULE_TOP = 25
# Relative support floor in parts-per-million of n_baskets. Canonical
# Apriori min-support is a basket FRACTION; a count-only floor lets the
# frequent-pair set grow with the corpus (the sf1 probe measured 22.9x
# wall-clock for 10x data as 10x co-counts cleared the absolute floor).
# The effective floor is max(RULE_MIN_COUNT, ceil(ppm * n_baskets / 1e6)),
# computed in exact integer arithmetic on both engines; 33 ppm makes the
# relative term 1/1/5 at sf0.001/0.01/0.1 — never above the absolute 5, so
# every tested SF's output is unchanged — and 49 at the sf1 replica.
RULE_MIN_SUPPORT_PPM = 33


@query(
    "q_assoc_rules",
    oracle=f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT b) AS n_baskets FROM basket
), ic AS (
  SELECT i, COUNT(*) AS c FROM basket GROUP BY 1
), pc AS (
  SELECT a.i AS ante, b2.i AS cons, COUNT(*) AS c_ij
  FROM basket a JOIN basket b2 ON a.b = b2.b AND a.i <> b2.i
  GROUP BY 1, 2
), rules AS (
  SELECT pc.ante, pc.cons, pc.c_ij,
         ROUND(pc.c_ij / CAST(n.n_baskets AS DOUBLE), 6) AS support,
         ROUND(pc.c_ij / CAST(ia.c AS DOUBLE), 6) AS confidence,
         ROUND((pc.c_ij * n.n_baskets) / CAST(ia.c * ic2.c AS DOUBLE), 6) AS lift
  FROM pc
  JOIN ic ia ON ia.i = pc.ante
  JOIN ic ic2 ON ic2.i = pc.cons
  CROSS JOIN n
  WHERE pc.c_ij >= GREATEST({RULE_MIN_COUNT},
                            ({RULE_MIN_SUPPORT_PPM} * n.n_baskets + 999999) // 1000000)
)
SELECT ante, cons, c_ij, support, confidence, lift,
       CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, ante, cons) AS BIGINT) AS rnk
FROM rules QUALIFY rnk <= {RULE_TOP}
""",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M94: association-rule mining — top order-basket rules ante→cons by
    lift, with support and confidence, over a min-count floor (rare pairs
    have meaningless lift). The market-basket classic (Agrawal-Srikant
    Apriori's scoring step) that sits beside the CF similarity family:
    lift is the co-occurrence signal normalized by both marginals, i.e.
    exactly the association the ItemCF cosine approximates.

    Determinism: every metric is a ratio of exact integer counts (and one
    integer product each, all < 2^53), so both engines compute the SAME
    double and round at 1e-6; ties in lift break on (ante, cons).
    Scale shape: baskets are order-keyed, the pair self-join rides one
    l_orderkey partitioning (pairs per basket bounded by basket size, not
    table size), marginals broadcast, and the top-25 is rank-pruned. The
    support floor is RELATIVE (RULE_MIN_SUPPORT_PPM of n_baskets, integer
    ceil-div on both engines, never below the absolute RULE_MIN_COUNT) —
    a count-only floor lets the frequent set grow with the corpus (the
    sf1 probe measured 22.9x for 10x data before this fix; identical
    output at every tested SF by construction)."""
    # spread the single-split lineitem scan: the basket subtree is
    # re-derived for BOTH pair-join sides, and each rescan's partial
    # distinct otherwise runs on one task (two ~16 s 1-task stages at
    # sf0.1). Identity at cluster scale.
    basket = (
        spread(spark, table(spark, sf_dir, "lineitem"))
        .select(F.col("l_orderkey").alias("b"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    n = F.broadcast(basket.agg(F.countDistinct("b").alias("n_baskets")))
    ic = basket.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    a = basket.alias("a")
    b2 = basket.alias("b2")
    pc = (
        a.join(b2, (F.col("a.b") == F.col("b2.b")) & (F.col("a.i") != F.col("b2.i")))
        .groupBy(F.col("a.i").alias("ante"), F.col("b2.i").alias("cons"))
        .agg(F.count(F.lit(1)).alias("c_ij"))
        # absolute pre-prune before the broadcast joins; the relative floor
        # (needs n_baskets) applies after the scalar crossJoin below
        .where(F.col("c_ij") >= RULE_MIN_COUNT)
    )
    ia = ic.select(F.col("i").alias("ante"), F.col("c").alias("c_a"))
    icons = ic.select(F.col("i").alias("cons"), F.col("c").alias("c_c"))
    rules = (
        pc.join(F.broadcast(ia), "ante")
        .join(F.broadcast(icons), "cons")
        .crossJoin(n)
        .where(
            F.col("c_ij")
            >= F.greatest(
                F.lit(RULE_MIN_COUNT),
                F.expr(
                    f"({RULE_MIN_SUPPORT_PPM} * n_baskets + 999999) div 1000000"
                ),
            )
        )
        .select(
            "ante",
            "cons",
            "c_ij",
            F.round(F.col("c_ij") / F.col("n_baskets").cast("double"), 6).alias("support"),
            F.round(F.col("c_ij") / F.col("c_a").cast("double"), 6).alias("confidence"),
            F.round(
                (F.col("c_ij") * F.col("n_baskets"))
                / (F.col("c_a") * F.col("c_c")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.col("lift").desc(), "ante", "cons")
    return (
        rules.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= RULE_TOP)
    )


# --------------------------------------------------------------------------
# M117: full-coverage hybrid — CF for warm users, popularity for thin-history
# --------------------------------------------------------------------------

WARM_MIN_ITEMS = 10  # users below this history size get the popularity path

_HYBRID_ORACLE = f"""
WITH {CF_CHAIN},
hist AS (
  SELECT user_id, COUNT(*) AS n_items FROM ui GROUP BY 1
),
cold AS (
  SELECT user_id FROM hist WHERE n_items < {WARM_MIN_ITEMS}
),
warm_recs AS (
  SELECT r.user_id, r.item_id, r.score, r.rnk FROM recs r
  WHERE NOT EXISTS (SELECT 1 FROM cold WHERE cold.user_id = r.user_id)
),
top_pop AS (
  SELECT item_id, n_users FROM norms ORDER BY n_users DESC, item_id LIMIT {POP_CANDIDATES}
),
cold_cand AS (
  SELECT c.user_id, t.item_id, t.n_users
  FROM cold c CROSS JOIN top_pop t
  WHERE NOT EXISTS (SELECT 1 FROM ui s WHERE s.user_id = c.user_id AND s.item_id = t.item_id)
),
cold_recs AS (
  SELECT user_id, item_id, CAST(n_users AS DOUBLE) AS score, rnk FROM (
    SELECT user_id, item_id, n_users,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_users DESC, item_id) AS BIGINT) AS rnk
    FROM cold_cand
  ) WHERE rnk <= {TOP_N_RECS}
)
SELECT user_id, item_id, CAST(score AS DOUBLE) AS score, rnk, 'cf' AS source
FROM warm_recs
UNION ALL
SELECT user_id, item_id, score, rnk, 'cold_popularity' AS source
FROM cold_recs
"""


@query("q_cf_hybrid_rec", oracle=_HYBRID_ORACLE)
def q_cf_hybrid_rec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M117: hybrid recommender — warm users (>= {WARM_MIN_ITEMS}
    distinct items) get the ItemCF flagship list; cold users (thin
    history, where co-occurrence similarity is noise) get the
    unseen-filtered popularity head instead. The `source` column is the
    serving-side contract: downstream ranking knows which score scale it
    is looking at (CF similarity-weighted score vs raw audience count).
    The standard production shape: personalize where the data supports
    it, fall back where it doesn't. Coverage contract, precisely: every
    cold user with an unseen popular candidate gets rows; a warm user
    whose ENTIRE neighbor-expanded candidate set is already seen (an
    isolated clique user — absent at every tested SF) would get none, by
    design — routing such users to the popularity branch would need a
    second scoring pass over exactly the users the CF model just failed,
    which a serving layer does with a COALESCE against
    q_cf_popularity_rec, not inside this plan.

    Scale shape: the warm branch IS q_cf_recommend (cached chain, two
    exchanges) minus cold users via a co-partitioned anti join (both
    sides already ride HashPartitioning(user_id) off the cached matrix —
    no new exchange); the cold branch reuses q_cf_popularity_rec's
    broadcast-candidates + collect_set membership shape restricted to the
    cold slice. Cold users never enter the CF joins at all."""
    ui = capped_interactions(spark, sf_dir)
    hist = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_items"))
    cold = hist.where(F.col("n_items") < WARM_MIN_ITEMS).select("user_id")
    warm = (
        flagship_recs(spark, sf_dir)
        .join(cold.hint("shuffle_hash"), "user_id", "left_anti")
        .select(
            "user_id", "item_id", F.col("score").cast("double").alias("score"),
            "rnk", F.lit("cf").alias("source"),
        )
    )
    cold_recs = popularity_recs(ui, cold).select(
        "user_id", "item_id", F.col("n_users").cast("double").alias("score"),
        "rnk", F.lit("cold_popularity").alias("source"),
    )
    return warm.unionByName(cold_recs)


# --------------------------------------------------------------------------
# M188: regularized baseline predictor (global mean + item bias + user bias)
# --------------------------------------------------------------------------

BASELINE_LAMBDA_I = 25  # item-bias shrinkage (Koren 2008 §2.1 defaults)
BASELINE_LAMBDA_U = 10  # user-bias shrinkage
BASELINE_TOP = 20


@query(
    "q_cf_baseline_bias",
    oracle=f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
r AS (SELECT user_id, item_id, cnt, cnt * 1000000 AS r_s FROM ui),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r_s) AS BIGINT) AS sr FROM r
),
mu AS (
  SELECT CAST(ROUND(CAST(sr AS DOUBLE) / n, 0) AS BIGINT) AS mu_s FROM g
),
ib AS (
  SELECT item_id,
         CAST(ROUND(CAST(SUM(r_s) - COUNT(*) * mu_s AS DOUBLE)
                    / ({BASELINE_LAMBDA_I} + COUNT(*)), 0) AS BIGINT) AS bi_s
  FROM r CROSS JOIN mu GROUP BY item_id, mu_s
),
ub AS (
  SELECT user_id,
         CAST(ROUND(CAST(SUM(r_s) - COUNT(*) * mu_s - SUM(bi_s) AS DOUBLE)
                    / ({BASELINE_LAMBDA_U} + COUNT(*)), 0) AS BIGINT) AS bu_s
  FROM r JOIN ib USING (item_id) CROSS JOIN mu GROUP BY user_id, mu_s
),
scored AS (
  SELECT r.user_id, r.item_id, r.cnt,
         mu_s + bu_s + bi_s AS pred_s,
         r.r_s - (mu_s + bu_s + bi_s) AS resid_s
  FROM r JOIN ib USING (item_id) JOIN ub USING (user_id) CROSS JOIN mu
)
SELECT user_id, item_id, cnt,
       ROUND(pred_s / 1e6, 6) AS baseline_pred,
       ROUND(resid_s / 1e6, 6) AS residual,
       rnk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY resid_s DESC, user_id, item_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= {BASELINE_TOP}
""",
)
def q_cf_baseline_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M188: the regularized baseline predictor b_ui = μ + b_u + b_i
    (Koren 2008 §2.1) over the implicit-count matrix — the model every
    serious CF stack subtracts BEFORE learning interactions (ALS/
    neighborhood models fit residuals of this baseline, not raw ratings).
    Item bias shrinks toward 0 with λ_i={BASELINE_LAMBDA_I}, then user
    bias is fit on the item-debiased residual with λ_u={BASELINE_LAMBDA_U}
    — the sequential (non-jointly-optimized) estimate from the paper.
    Output: the top-{BASELINE_TOP} interactions the baseline most
    UNDER-predicts (largest positive residual) — the "genuine personal
    affinity beyond popularity and activity" signal.

    Exactness: counts scale to r_s = cnt·1e6 longs; μ, b_i, b_u each close
    with ONE double division of exact integers, immediately re-quantized
    to longs (rlong), so every cross-row aggregate — including Σ_u b_i —
    sums exact LONGS (order-free; never a float sum). Predictions and
    residuals are long arithmetic; ranking is on exact longs.

    Scale shape: interactions aggregate once (user-keyed); item bias is
    one item-keyed aggregate; user bias and the final scoring ride the
    user partitioning (the item-bias join is item-count-sized — AQE
    chooses broadcast when it fits, the regional-revenue lesson); the
    top-{BASELINE_TOP} head is a rank-limited window
    (TakeOrdered-prunable). μ is a 1-row broadcast."""
    ui = interactions(spark, sf_dir).select(
        "user_id", "item_id", "cnt", (F.col("cnt") * 1_000_000).alias("r_s")
    )
    g = ui.agg(
        F.count(F.lit(1)).alias("n"), F.sum("r_s").alias("sr")
    )
    mu = F.broadcast(
        g.select(rlong(F.col("sr").cast("double") / F.col("n")).cast("long").alias("mu_s"))
    )
    ib = (
        ui.crossJoin(mu)
        .groupBy("item_id", "mu_s")
        .agg(F.sum("r_s").alias("sri"), F.count(F.lit(1)).alias("ni"))
        .select(
            "item_id",
            rlong(
                (F.col("sri") - F.col("ni") * F.col("mu_s")).cast("double")
                / (F.lit(BASELINE_LAMBDA_I) + F.col("ni"))
            )
            .cast("long")
            .alias("bi_s"),
        )
    )
    with_ib = ui.join(ib, "item_id")
    ub = (
        with_ib.crossJoin(mu)
        .groupBy("user_id", "mu_s")
        .agg(
            F.sum("r_s").alias("sru"),
            F.count(F.lit(1)).alias("nu"),
            F.sum("bi_s").alias("sbi"),
        )
        .select(
            "user_id",
            rlong(
                (F.col("sru") - F.col("nu") * F.col("mu_s") - F.col("sbi")).cast("double")
                / (F.lit(BASELINE_LAMBDA_U) + F.col("nu"))
            )
            .cast("long")
            .alias("bu_s"),
        )
    )
    scored = (
        with_ib.join(ub, "user_id")
        .crossJoin(mu)
        .select(
            "user_id",
            "item_id",
            "cnt",
            (F.col("mu_s") + F.col("bu_s") + F.col("bi_s")).alias("pred_s"),
            (F.col("r_s") - (F.col("mu_s") + F.col("bu_s") + F.col("bi_s"))).alias("resid_s"),
        )
    )
    wr = Window.orderBy(F.col("resid_s").desc(), "user_id", "item_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= BASELINE_TOP)
        .select(
            "user_id",
            "item_id",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("pred_s") / 1e6, 6).alias("baseline_pred"),
            F.round(F.col("resid_s") / 1e6, 6).alias("residual"),
            "rnk",
        )
    )
