"""Reader-DataFrame memo of catalog.Catalog (r12 opt).

The memo must be invisible semantically: same schema and rows as a
bare inferring read, and a rewritten table directory (new mtime) must
re-infer instead of serving the stale schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from catenae_kafka_spark.catalog import _DF_CACHE, Catalog, _schema_key


@pytest.fixture
def tbl_dir(tmp_path) -> str:
    return str(tmp_path / "region.parquet")


def test_cached_read_matches_inferred(spark, tbl_dir):
    spark.createDataFrame(
        [Row(r_regionkey=1, r_name="EUROPE"), Row(r_regionkey=2, r_name="ASIA")]
    ).write.parquet(tbl_dir)
    sf_dir = os.path.dirname(tbl_dir)
    first = Catalog(spark=spark, sf_dir=sf_dir).region  # infers + populates
    assert _schema_key(spark, tbl_dir) in _DF_CACHE
    second = Catalog(spark=spark, sf_dir=sf_dir).region  # served from cache
    bare = spark.read.parquet(tbl_dir)
    assert second.schema == bare.schema == first.schema
    assert sorted(second.collect()) == sorted(bare.collect())


def test_rewrite_invalidates_by_mtime(spark, tbl_dir):
    sf_dir = os.path.dirname(tbl_dir)
    spark.createDataFrame([Row(a=1)]).write.parquet(tbl_dir)
    assert Catalog(spark=spark, sf_dir=sf_dir).region.columns == ["a"]
    assert _schema_key(spark, tbl_dir) in _DF_CACHE
    # overwrite with a DIFFERENT schema; directory mtime changes, so the
    # old cache entry must not be consulted
    spark.createDataFrame([Row(a=1, b="x")]).write.mode("overwrite").parquet(tbl_dir)
    # force a distinct mtime even on coarse-mtime filesystems
    st = os.stat(tbl_dir)
    os.utime(tbl_dir, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    fresh = Catalog(spark=spark, sf_dir=sf_dir).region
    assert set(fresh.columns) == {"a", "b"}
    assert fresh.collect() == [Row(a=1, b="x")]


def test_df_memo_serves_same_object_and_invalidates(spark, tmp_path):
    """Catalog._read memoizes the reader DataFrame per (app, path,
    mtime); a rewritten directory must yield a fresh DataFrame."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")
    spark.createDataFrame([Row(r_regionkey=1, r_name="EUROPE")]).write.parquet(path)
    df1 = Catalog(spark=spark, sf_dir=sf_dir).region
    assert _schema_key(spark, path) in _DF_CACHE
    df2 = Catalog(spark=spark, sf_dir=sf_dir).region
    assert df2 is df1  # identical logical plan — metadata reuse only
    spark.createDataFrame([Row(r_regionkey=2, r_name="ASIA", extra=1)]).write.mode(
        "overwrite"
    ).parquet(path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    df3 = Catalog(spark=spark, sf_dir=sf_dir).region
    assert df3 is not df1
    assert set(df3.columns) == {"r_regionkey", "r_name", "extra"}
    assert df3.collect() == [Row(r_regionkey=2, r_name="ASIA", extra=1)]


def test_catalog_table_uses_cache(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [Row(r_regionkey=1, r_name="EUROPE")]
    ).write.parquet(os.path.join(sf_dir, "region.parquet"))
    cat = Catalog(spark=spark, sf_dir=sf_dir)
    df1 = cat.region
    key = _schema_key(spark, os.path.join(sf_dir, "region.parquet"))
    assert key in _DF_CACHE
    cat2 = Catalog(spark=spark, sf_dir=sf_dir)
    df2 = cat2.region
    assert df1.schema == df2.schema
    assert df2.collect() == [Row(r_regionkey=1, r_name="EUROPE")]
