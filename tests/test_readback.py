"""Read-backs of parquet the engine itself just wrote pass the written
schema: Spark then runs no footer-inference job, and the handle has exactly
the schema an inferring ``spark.read.parquet`` would give (nullability
included, partition columns last)."""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark import catalog
from recsys_spark_spark import lakehouse as lh
from recsys_spark_spark import sinks
from recsys_spark_spark.sinks import upsert_parquet, write_back
from tests.conftest import SF_SMOKE
from tests.test_memo import _job_ids


def _frame(spark, lo=0, hi=40):
    # `id` and `zero` are non-nullable as written; every read-back of them
    # must still be nullable, as an inferring read makes them
    return spark.range(lo, hi).select(
        "id",
        F.lit(0).cast("long").alias("zero"),
        (F.col("id") % 4).cast("int").alias("part"),
        F.when(F.col("id") > 5, F.col("id").cast("string")).alias("maybe"),
    )


def _jobs_of(spark, fn):
    before = _job_ids(spark)
    out = fn()
    return out, _job_ids(spark) - before


@pytest.mark.parametrize("partition_by", [(), ("part",)], ids=["flat", "partitioned"])
def test_write_back_reads_with_the_written_schema(spark, tmp_path, partition_by):
    df = _frame(spark)
    assert not df.schema["id"].nullable and not df.schema["zero"].nullable
    _, write_jobs = _jobs_of(
        spark, lambda: df.write.mode("overwrite").partitionBy(*partition_by).parquet(str(tmp_path / "plain"))
    )
    path = str(tmp_path / "back")
    back, jobs = _jobs_of(spark, lambda: write_back(df, path, *partition_by))
    assert len(jobs) == len(write_jobs)  # the read-back adds no job
    inferred, infer_jobs = _jobs_of(spark, lambda: spark.read.parquet(path))
    assert infer_jobs  # the counter sees the inference this avoids
    assert back.schema == inferred.schema
    assert [(f.name, f.nullable) for f in back.schema] == [
        (f.name, f.nullable) for f in inferred.schema
    ]
    assert back.columns == [c for c in df.columns if c not in partition_by] + list(partition_by)
    assert sorted(back.select(*df.columns).collect()) == sorted(df.collect())


def test_write_back_replaces_a_table_it_reads(spark, tmp_path):
    path = str(tmp_path / "t")
    back = write_back(_frame(spark), path)
    back = write_back(back.where(F.col("part") == 1), path)
    assert sorted(r.id for r in back.collect()) == list(range(1, 40, 4))
    assert os.listdir(tmp_path) == ["t"]


def test_upsert_target_is_stored_with_the_updates_types(spark, monkeypatch):
    # upsert_parquet reads its target with `updates.schema` instead of
    # inferring it; q_sink_upsert's seed must therefore be stored with
    # exactly those types (nullability aside, which the file source drops)
    seen = []

    def checked(spark_, target_dir, updates, key):
        stored = spark_.read.parquet(target_dir).schema
        seen.append([(f.name, f.dataType) for f in stored])
        assert seen[-1] == [(f.name, f.dataType) for f in updates.schema]
        return upsert_parquet(spark_, target_dir, updates, key)

    monkeypatch.setattr(sinks, "upsert_parquet", checked)
    assert sinks.q_sink_upsert(spark, SF_SMOKE).count() > 0
    assert seen


def test_read_version_refuses_a_commit_without_a_schema(spark, tmp_path):
    path = str(tmp_path / "tbl")
    lh.create_table(_frame(spark), path)
    lh._commit(path, "append", [], [])
    with pytest.raises(ValueError, match="records no schema"):
        lh.read_version(spark, path)
    assert lh.read_version(spark, path, 0).count() == 40


def test_read_version_runs_no_job_and_matches_inference(spark, tmp_path):
    path = str(tmp_path / "tbl")
    lh.create_table(_frame(spark), path)
    lh.append_table(_frame(spark, 40, 60), path)
    lh.overwrite_where(spark, path, F.col("part") == 0, None)
    with open(os.path.join(lh._log_dir(path), "00000.json")) as f:
        assert json.load(f)["schema"] == _frame(spark).schema.json()
    for v, n in ((0, 40), (1, 60), (2, 45)):
        df, jobs = _jobs_of(spark, lambda: lh.read_version(spark, path, v))
        assert not jobs
        files = [os.path.join(path, f) for f in lh.live_files(path, v)]
        assert df.schema == spark.read.parquet(*files).schema
        assert df.count() == n


def _inferring_parquet_reads(path: pathlib.Path, root: pathlib.Path) -> list[str]:
    """`module.function` of every ``<x>.read…parquet(`` call in the file
    whose chain has no ``.schema(``."""
    mod = ".".join(path.relative_to(root).with_suffix("").parts)
    found = []

    def visit(node, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            where = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "parquet":
            reads, typed, link = False, False, node.func.value
            while isinstance(link, (ast.Call, ast.Attribute)):
                if isinstance(link, ast.Call):
                    typed |= isinstance(link.func, ast.Attribute) and link.func.attr == "schema"
                    link = link.func
                else:
                    reads |= link.attr == "read"
                    link = link.value
            if reads and not typed:
                found.append(f"{mod}.{where}")
        for child in ast.iter_child_nodes(node):
            visit(child, where)

    visit(ast.parse(path.read_text()), "<module>")
    return found


def test_only_the_merged_read_infers_a_parquet_schema():
    """q_table_schema_evolution's mergeSchema read resolves the merged
    footers on purpose. Every other read passes a schema: the one the
    engine wrote, or for catalog tables the one ``catalog._read`` resolves
    from the footer on the driver (tests/test_catalog_schema.py)."""
    root = pathlib.Path(catalog.__file__).parent
    found = sorted(hit for path in sorted(root.rglob("*.py")) for hit in _inferring_parquet_reads(path, root))
    assert found == ["lakehouse.q_table_schema_evolution"]
