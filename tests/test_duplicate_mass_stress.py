"""Randomized duplicate-mass stress for the round-7 representative
rebuilds (q_sim_setjoin_prefix, q_dedup_containment, q_dedup_contamination,
q_dedup_clusters).

The fixed fixture in test_new_ops_worked.py pins hand-chosen reconstruction
cases; these tests generate seeded random corpora with heavy duplicate mass
— random multiplicities spread across sources, shuffled doc-id extrema,
same-token-set-different-text aliases, subset chains, a non-en language —
and compare every rebuilt operator against an independent referent
(brute-force python, or the UNCHANGED doc-level Spark chain):

* setjoin: all-pairs python Jaccard over token sets (same-lang, n >= 10,
  J >= 19/20) must equal the rep-collapsed + member-expanded output row set;
* containment: brute-force python subset scan (same-lang, containee n >= 15)
  must equal the group-aggregate reconstruction (m-1 copies + containing
  groups, extremum-aware min/max);
* contamination: the (md5(text), source)-rep matrix must equal the matrix
  aggregated from the doc-level q_dedup_minhash_exact pair table (identical
  signatures, independent code path);
* clusters: union-find over the doc-level q_dedup_near_bucketed edge list
  must reproduce the star-edge components' node set, min-labels and is_rep.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pandas as pd
import pytest

from recsys_spark_spark.registry import load_all

QUERIES, ORACLES = load_all()

SEEDS = (7, 20260815, 424242)


def _random_duplicate_corpus(tmp_path, seed: int) -> str:
    """documents.parquet with random duplicate mass.

    Construction (all rng-driven): 4 independent token sets (15-30 tokens),
    a 40-token set plus a one-token-replaced near-dup (J = 39/41 >= 0.95),
    a >=15-token strict subset of the 40-token set, and an alias doc with
    base[0]'s exact token SET in a different ORDER (same (lang, token-set)
    gid for the set-keyed operators, different md5(text) for the text-keyed
    ones). Each text gets multiplicity 1-4 of EXACT copies spread over 3
    sources, one text is non-en, and doc ids are a random permutation so
    group minima/maxima do not follow construction order.
    """
    rng = random.Random(seed)
    pool = [a + b + c for a in "abcde" for b in "fghij" for c in "klmno"]

    bases: list[list[str]] = [
        rng.sample(pool, rng.randint(15, 30)) for _ in range(4)
    ]
    big = rng.sample(pool, 40)
    near = list(big)
    near[rng.randrange(40)] = "zzzz"
    subset = rng.sample(big, rng.randint(15, 25))
    alias = list(bases[0])
    while True:
        rng.shuffle(alias)
        if alias != bases[0]:
            break
    token_lists = bases + [big, near, subset, alias]

    texts = [" ".join(t) for t in token_lists]
    langs = ["en"] * len(texts)
    langs[rng.randrange(len(texts))] = "fr"

    rows = []
    for text, lang in zip(texts, langs):
        for _ in range(rng.choice((1, 1, 2, 3, 4))):
            rows.append((text, lang, f"src{rng.randrange(3)}"))
    ids = list(range(1, len(rows) + 1))
    rng.shuffle(ids)
    df = pd.DataFrame(
        [(i, t, lg, s) for i, (t, lg, s) in zip(ids, rows)],
        columns=["doc_id", "text", "lang", "source"],
    )
    df["n_chars"] = df.text.str.len().astype("int64")
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


@pytest.mark.parametrize("seed", SEEDS)
def test_setjoin_matches_bruteforce_on_random_duplicates(spark, tmp_path, seed):
    sf = _random_duplicate_corpus(tmp_path, seed)
    got = {
        (r.d1, r.d2, r.inter, r.n1, r.n2, r.jacc_ppm)
        for r in QUERIES["q_sim_setjoin_prefix"](spark, sf).collect()
    }
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    meta = {
        int(r.doc_id): (r.lang, frozenset(r.text.split()))
        for r in docs.itertuples()
    }
    expect = set()
    for (i, (li, si)), (j, (lj, sj)) in itertools.combinations(
        sorted(meta.items()), 2
    ):
        if li != lj or len(si) < 10 or len(sj) < 10:
            continue
        inter, union = len(si & sj), len(si | sj)
        if inter * 20 >= union * 19:
            expect.add((i, j, inter, len(si), len(sj), inter * 1000000 // union))
    assert got == expect
    # duplicate mass actually fired: at least one identical-set pair exists
    assert any(p[5] == 1000000 for p in got), "corpus produced no J=1 pair"


@pytest.mark.parametrize("seed", SEEDS)
def test_containment_matches_bruteforce_on_random_duplicates(
    spark, tmp_path, seed
):
    import re

    sf = _random_duplicate_corpus(tmp_path, seed)
    got = {
        (r.doc_id, r.lang, r.n_tokens, r.n_containers, r.min_container,
         r.max_container)
        for r in QUERIES["q_dedup_containment"](spark, sf).collect()
    }
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    sets = {
        int(r.doc_id): (r.lang, frozenset(re.findall(r"[a-z]+", r.text.lower())))
        for r in docs.itertuples()
    }
    expect = set()
    for a, (la, sa) in sets.items():
        if len(sa) < 15:
            continue
        containers = [
            b for b, (lb, sb) in sets.items()
            if b != a and lb == la and sa <= sb
        ]
        if containers:
            expect.add(
                (a, la, len(sa), len(containers), min(containers),
                 max(containers))
            )
    assert got == expect and len(got) > 0


@pytest.mark.parametrize("seed", SEEDS)
def test_contamination_matches_doc_level_pairs_on_random_duplicates(
    spark, tmp_path, seed
):
    sf = _random_duplicate_corpus(tmp_path, seed)
    got = {
        (r.src1, r.src2): (r.n_pairs, r.n_cross)
        for r in QUERIES["q_dedup_contamination"](spark, sf).collect()
    }
    pairs = QUERIES["q_dedup_minhash_exact"](spark, sf).toPandas()
    pairs = pairs[pairs.est_jaccard >= 0.5]
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    src = dict(zip(docs.doc_id, docs.source))
    n_pairs, n_cross = Counter(), Counter()
    for r in pairs.itertuples():
        k = tuple(sorted((src[r.d1], src[r.d2])))
        n_pairs[k] += 1
        if k[0] != k[1]:
            n_cross[k] += 1
    assert got == {k: (n_pairs[k], n_cross.get(k, 0)) for k in n_pairs}
    assert got, "corpus produced no contamination rows"


@pytest.mark.parametrize("seed", SEEDS)
def test_clusters_match_doc_level_union_find(spark, tmp_path, seed):
    sf = _random_duplicate_corpus(tmp_path, seed)
    got = {
        (r.doc_id, r.cluster, r.is_rep)
        for r in QUERIES["q_dedup_clusters"](spark, sf).collect()
    }
    edges = [
        (r.d1, r.d2)
        for r in QUERIES["q_dedup_near_bucketed"](spark, sf).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label: dict[int, int] = {}
    for node in parent:
        root = find(node)
        label.setdefault(root, min(
            n for n in parent if find(n) == root
        ))
    expect = {
        (node, label[find(node)], node == label[find(node)])
        for node in parent
    }
    assert got == expect and len(got) > 0


def _round_half_away(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _write_duplicate_embeddings(tmp_path, seed: int) -> str:
    """embeddings.parquet with exact-duplicate vector mass: per label cell,
    unique random vectors with multiplicities up to 9 (exceeding the K+2=7
    member head, so the head-bounded expansion must PROVABLY skip only
    pairs that cannot reach the top-K), plus a scaled near-parallel vector
    so the cosine-1.0 class mixes self records with a cross record."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for label in range(3):
        uniq = rng.uniform(-1, 1, size=(6, 8)).astype("float32")
        mults = [9, 3, 2, 1, 1, 1] if label == 0 else [2, 2, 1, 1, 1, 1]
        for vec, m in zip(uniq, mults):
            for _ in range(m):
                rows.append((label, vec))
        rows.append((label, (uniq[1] * 2.0).astype("float32")))  # parallel
    ids = list(range(1, len(rows) + 1))
    random.Random(seed).shuffle(ids)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for _, v in rows],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([lg for lg, _ in rows], type=pa.int32()),
        }
    )
    pq.write_table(table, tmp_path / "embeddings.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("seed", SEEDS)
def test_embedding_dedup_matches_bruteforce_on_duplicates(
    spark, tmp_path, seed
):
    import math

    sf = _write_duplicate_embeddings(tmp_path, seed)
    got = {
        (r.label, r.v1, r.v2, r.cosine, r.rnk)
        for r in QUERIES["q_dedup_embedding"](spark, sf).collect()
    }
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    vecs = {
        int(r.vec_id): (int(r.label), [float(x) for x in r.embedding])
        for r in emb.itertuples()
    }
    norm = {
        v: sum(_round_half_away(x * x * 1e12) for x in e) / 1e12
        for v, (_, e) in vecs.items()
    }
    scored = []
    for (v1, (l1, e1)), (v2, (l2, e2)) in itertools.combinations(
        sorted(vecs.items()), 2
    ):
        if l1 != l2:
            continue
        dot = sum(_round_half_away(x * y * 1e12) for x, y in zip(e1, e2)) / 1e12
        cos = dot / (math.sqrt(norm[v1]) * math.sqrt(norm[v2]))
        cos = _round_half_away(cos * 1e6) / 1e6
        if cos >= 0.2:
            scored.append((l1, v1, v2, cos))
    expect = set()
    for label in {s[0] for s in scored}:
        cell = sorted(
            (s for s in scored if s[0] == label),
            key=lambda s: (-s[3], s[1], s[2]),
        )
        for rnk, (lg, v1, v2, cos) in enumerate(cell[:5], start=1):
            expect.add((lg, v1, v2, cos, rnk))
    assert got == expect and len(got) > 0
    # the m=9 group's pair mass exceeds the K+2 member head in label 0
    assert any(r[0] == 0 and r[3] == 1.0 for r in got)


@pytest.mark.parametrize("seed", SEEDS)
def test_ngram_matches_bruteforce_on_random_duplicates(spark, tmp_path, seed):
    """r8 rep-collapse of q_dedup_ngram: brute-force python bigram Jaccard
    over (lang, n_chars)-blocked pairs with >=1 shared bigram must equal the
    representative-collapsed + member-expanded output, including the
    within-class jaccard=1.0 pairs and the empty-shingle exclusion. The
    corpus gets one extra same-length near-dup of the 40-token text (a
    same-n_chars cross-CLASS candidate with high overlap) so the cross
    expansion provably fires alongside the duplicate mass."""
    sf = _random_duplicate_corpus(tmp_path, seed)
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    rng = random.Random(seed + 1)
    big_row = docs.loc[docs.text.str.split().str.len().idxmax()]
    toks = big_row.text.split()
    swap = rng.randrange(len(toks))
    repl = next(
        t for t in (rng.sample([a + b + c for a in "abcde" for b in "fghij"
                                for c in "klmno"], 60))
        if t not in toks and len(t) == len(toks[swap])
    )
    toks2 = list(toks)
    toks2[swap] = repl
    extra = pd.DataFrame(
        [
            (int(docs.doc_id.max()) + k + 1, " ".join(toks2), big_row.lang,
             big_row.source, len(" ".join(toks2)))
            for k in range(2)  # multiplicity 2: cross pairs expand 2x m_big
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs = pd.concat([docs, extra], ignore_index=True)
    docs.to_parquet(f"{sf}/documents.parquet", index=False)

    got = {
        (r.d1, r.d2, r.jaccard)
        for r in QUERIES["q_dedup_ngram"](spark, sf).collect()
    }

    def bigrams(text: str) -> frozenset:
        t = text.split()
        return frozenset(f"{a} {b}" for a, b in zip(t, t[1:]))

    meta = {
        int(r.doc_id): (r.lang, len(r.text), bigrams(r.text))
        for r in docs.itertuples()
    }
    expect = set()
    for (i, (li, ci, bi)), (j, (lj, cj, bj)) in itertools.combinations(
        sorted(meta.items()), 2
    ):
        if li != lj or ci != cj:
            continue
        inter = len(bi & bj)
        if inter:
            expect.add((i, j, round(inter / len(bi | bj), 6)))
    assert got == expect
    assert any(j == 1.0 for *_, j in got), "no within-class pair fired"
    # the engineered cross-class candidate: distinct texts, same n_chars,
    # 0 < jaccard < 1 — proves rep-pair member expansion is exercised
    assert any(0 < j < 1 for *_, j in got), "no cross-class pair fired"


@pytest.mark.parametrize(
    "name,max_diff,seed",
    [pytest.param("q_dedup_near_sql", 0, s, id=str(s)) for s in SEEDS]
    + [pytest.param("q_dedup_near_bucketed", 32, s, id=f"bucketed-{s}") for s in SEEDS],
)
def test_near_sql_matches_bruteforce_on_random_duplicates(
    spark, tmp_path, name, max_diff, seed
):
    """Rep-collapse + member expansion of the token-Jaccard near-dup
    operators: brute-force python token-set Jaccard at threshold 0.9 over
    same-lang pairs with |n_chars diff| <= max_diff (q_dedup_near_sql:
    equal n_chars; q_dedup_near_bucketed: within 32) must equal the
    operator's output. The corpus's alias doc (same token SET as bases[0]
    in a different ORDER — different md5 class, jaccard exactly 1.0) and
    the one-token-replaced near-dup (J = 39/41) exercise the cross-class
    expansion; exact-copy multiplicities exercise the within-class
    jaccard=1.0 branch. The corpus's own near-dup swaps in a 4-char token
    ("zzzz" vs the pool's 3-char tokens), which the equal-n_chars block
    rightly excludes — so, as in the ngram test, two exact copies of a SAME-length
    one-token-replaced variant of the 40-token text are appended (J =
    39/41 >= 0.9, same lang and n_chars by construction) so the cross
    expansion provably fires under every seed."""
    sf = _random_duplicate_corpus(tmp_path, seed)
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    rng = random.Random(seed + 1)
    big_row = docs.loc[docs.text.str.split().str.len().idxmax()]
    toks = big_row.text.split()
    swap = rng.randrange(len(toks))
    repl = next(
        t for t in (rng.sample([a + b + c for a in "abcde" for b in "fghij"
                                for c in "klmno"], 60))
        if t not in toks and len(t) == len(toks[swap])
    )
    toks2 = list(toks)
    toks2[swap] = repl
    extra = pd.DataFrame(
        [
            (int(docs.doc_id.max()) + k + 1, " ".join(toks2), big_row.lang,
             big_row.source, len(" ".join(toks2)))
            for k in range(2)  # multiplicity 2: cross pairs expand 2x m_big
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs = pd.concat([docs, extra], ignore_index=True)
    docs.to_parquet(f"{sf}/documents.parquet", index=False)

    got = {
        (r.d1, r.d2, r.jaccard)
        for r in QUERIES[name](spark, sf).collect()
    }
    meta = {
        int(r.doc_id): (r.lang, len(r.text), frozenset(r.text.split()))
        for r in docs.itertuples()
    }
    expect = set()
    for (i, (li, ci, si)), (j, (lj, cj, sj)) in itertools.combinations(
        sorted(meta.items()), 2
    ):
        if li != lj or abs(ci - cj) > max_diff:
            continue
        inter, union = len(si & sj), len(si | sj)
        if inter * 10 >= union * 9:
            expect.add((i, j, round(inter / union, 6)))
    assert got == expect and len(got) > 0
    # both reconstruction branches fired:
    text_by_id = {int(r.doc_id): r.text for r in docs.itertuples()}
    assert any(text_by_id[i] != text_by_id[j] for i, j, _ in got), (
        "no cross-class pair fired"
    )
    assert any(text_by_id[i] == text_by_id[j] for i, j, _ in got), (
        "no within-class (exact-copy) pair fired"
    )
