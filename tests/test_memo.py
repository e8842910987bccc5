"""catalog.memo: the one session memo for shared persisted building blocks.

The memo's contract: a hit returns the same persisted handle, one LRU bound
covers every memoized name, and ``spark.catalog.clearCache()`` is its
complete reset — after it, every query recomputes what it shares.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark import catalog
from recsys_spark_spark.catalog import MEMO_CAP, memo
from tests.conftest import SF_SMOKE

_SF = "memo-test"
_BUILDS: list[int] = []


@memo
def _frame(spark, sf_dir, n):
    _BUILDS.append(n)
    return spark.range(n).select(F.col("id").alias("v"))


@memo
def _other(spark, sf_dir, n):
    # distinct plans from _frame's: the cache manager shares the data of
    # identical plans, so an unpersist of one would unpin the other
    return spark.range(1000 + n).select(F.col("id").alias("w"))


def _persisted(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def _ours():
    return [k for k in catalog._MEMO if k[1] == _SF]


@pytest.fixture(autouse=True)
def _release_test_entries():
    yield
    for k in _ours():
        catalog._MEMO.pop(k).unpersist(blocking=False)


def test_memo_hit_returns_same_handle_and_stays_persisted(spark):
    _BUILDS.clear()
    a = _frame(spark, _SF, 3)
    b = _frame(spark, _SF, 3)
    assert a is b and _BUILDS == [3]  # build not re-invoked on hit
    assert _persisted(b)
    # clearCache() drops the entry's data; a hit persists the same handle again
    spark.catalog.clearCache()
    assert not _persisted(a)
    assert _frame(spark, _SF, 3) is a and _BUILDS == [3]
    assert _persisted(a)


def test_memo_evicts_oldest_beyond_cap_and_unpersists(spark):
    dfs = [_frame(spark, _SF, i + 1) for i in range(MEMO_CAP + 2)]
    assert len(catalog._MEMO) == MEMO_CAP
    # the two oldest were evicted and unpinned; the rest stay persisted
    assert not any(_persisted(df) for df in dfs[:2])
    assert all(_persisted(df) for df in dfs[2:])
    # evicted handles still compute correctly, just uncached
    assert dfs[0].count() == 1


def test_memo_hit_refreshes_lru_position(spark):
    first = _frame(spark, _SF, 1)
    for i in range(MEMO_CAP - 1):
        _frame(spark, _SF, i + 2)
    # touch n=1 so it is most recent, then insert one more: the evictee must
    # be n=2, not the just-touched n=1
    _frame(spark, _SF, 1)
    _frame(spark, _SF, 50)
    ns = {k[3][0] for k in _ours()}
    assert 1 in ns and 2 not in ns
    assert _persisted(first)


def test_memo_names_share_one_bound(spark):
    a = _frame(spark, _SF, 1)
    bs = [_other(spark, _SF, i) for i in range(MEMO_CAP)]
    # a per-name bound would keep `a`; the single bound evicts it
    assert all(k[2].endswith("._other") for k in _ours())
    assert not _persisted(a)
    assert all(_persisted(b) for b in bs)


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _spy_jobs(monkeypatch, spark, module, name) -> list[set[int]]:
    """Replace module.name with a wrapper that records the Spark jobs each
    call runs. The functions spied on checkpoint eagerly, so a call that
    does its work shows jobs here."""
    real = getattr(module, name)
    runs: list[set[int]] = []

    def spy(*args, **kwargs):
        before = _job_ids(spark)
        out = real(*args, **kwargs)
        runs.append(_job_ids(spark) - before)
        return out

    monkeypatch.setattr(module, name, spy)
    return runs


def test_graph_edge_build_reruns_after_clear_cache(spark, monkeypatch):
    from recsys_spark_spark.operators import analytics

    runs = _spy_jobs(monkeypatch, spark, analytics, "thresholded_edges")
    analytics.q_graph_components(spark, SF_SMOKE)
    spark.catalog.clearCache()
    analytics.q_graph_components(spark, SF_SMOKE)
    assert len(runs) == 2 and all(runs)


def test_dedup_clusters_rerun_after_clear_cache(spark, monkeypatch):
    from recsys_spark_spark.llm import dedup, pipeline

    dedup.q_dedup_clusters(spark, SF_SMOKE)
    spark.catalog.clearCache()
    runs = _spy_jobs(monkeypatch, spark, pipeline, "q_dedup_clusters")
    pipeline.q_pipeline_corpus(spark, SF_SMOKE)
    assert len(runs) == 1 and runs[0]


def _dataframe_dicts(path: pathlib.Path) -> list[str]:
    """Module-level names annotated as a dict whose values mention DataFrame."""
    found = []
    for node in ast.parse(path.read_text()).body:
        if not (isinstance(node, ast.AnnAssign) and isinstance(node.annotation, ast.Subscript)):
            continue
        base = ast.unparse(node.annotation.value).rsplit(".", 1)[-1]
        args = node.annotation.slice
        value = args.elts[-1] if isinstance(args, ast.Tuple) else args
        if base.lower() in {"dict", "ordereddict"} and "DataFrame" in ast.unparse(value):
            found.append(f"{path.name}:{node.lineno} {ast.unparse(node.target)}")
    return found


def test_no_dataframe_memo_dicts_outside_catalog():
    """The session memo lives in catalog.py only: a module-level
    DataFrame-valued dict elsewhere is a second memo with its own lifecycle."""
    root = pathlib.Path(catalog.__file__).parent
    found = [
        hit
        for path in sorted(root.rglob("*.py"))
        if path != root / "catalog.py"
        for hit in _dataframe_dicts(path)
    ]
    assert not found, found
