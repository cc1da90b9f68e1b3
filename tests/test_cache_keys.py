"""Cached state is keyed on the inputs it was built from: persisted
artifacts on their own source tables, inferred schemas on the files
under the table directory."""

from __future__ import annotations

import glob
import os
import shutil


def _bump_mtime(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))


def test_artifact_rebuilds_when_only_its_source_table_is_regenerated(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``events_json`` is built from ``events``: regenerating events
    alone must yield a new artifact path (and a rebuilt artifact),
    while a documents-built artifact's path stays put."""
    from github_data_pipeline_spark.plans import events_plans
    from github_data_pipeline_spark.plans.artifacts import artifact_cache_path

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    for table in ("documents", "events"):
        spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).write.parquet(
            os.path.join(sf, f"{table}.parquet")
        )

    def docs_artifact() -> str:
        return artifact_cache_path(sf, "neardup_pairs", sources=("documents",))

    docs_before = docs_artifact()
    first = events_plans._events_json_copy(spark, sf)

    events = os.path.join(sf, "events.parquet")
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).write.mode(
        "overwrite"
    ).parquet(events)
    _bump_mtime(events)

    second = events_plans._events_json_copy(spark, sf)
    assert second != first
    assert os.path.isdir(second)
    assert docs_artifact() == docs_before


def test_schema_cache_sees_partition_scoped_rewrite(spark, tmp_path):
    """Replacing the files inside one partition directory leaves the
    table directory's own mtime alone; the cached schema must still be
    invalidated."""
    from github_data_pipeline_spark.sources.tables import (
        read_parquet_cached_schema,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id", "id * 2 AS v", "0 AS k").write.partitionBy(
        "k"
    ).parquet(p)
    assert dict(read_parquet_cached_schema(spark, p).dtypes)["v"] == "bigint"

    top_mtime = os.stat(p).st_mtime_ns
    part = os.path.join(p, "k=0")
    staged = str(tmp_path / "staged")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS v").write.parquet(staged)
    for f in os.listdir(part):
        os.remove(os.path.join(part, f))
    for f in glob.glob(os.path.join(staged, "*.parquet")):
        shutil.move(f, part)
    _bump_mtime(part)
    assert os.stat(p).st_mtime_ns == top_mtime

    again = read_parquet_cached_schema(spark, p)
    assert dict(again.dtypes)["v"] == "string"
    assert sorted(r["v"] for r in again.collect()) == ["0", "1", "2"]
