"""make_checkpointer's session-global checkpoint-root policy
(VERDICT r9): the SparkContext has ONE checkpoint root; the helper sets
it only when unset, accepts a matching root, and raises on a conflicting
one instead of silently redirecting the first caller's checkpoints.
Plus ``materialize``, the bounded-intermediate policy it shares."""

from __future__ import annotations

import pytest

from catenae_kafka_spark.operators.checkpointing import (
    _same_root,
    make_checkpointer,
    materialize,
)


def test_same_root_matches_spark_uuid_subdir():
    # setCheckpointDir(d) stores d/<uuid>, possibly scheme-qualified
    assert _same_root("/a/b/3f2e-uuid", "/a/b")
    assert _same_root("file:/a/b/3f2e-uuid", "/a/b")
    assert _same_root("file:///a/b/3f2e-uuid", "/a/b/")
    assert not _same_root("/a/b/3f2e-uuid", "/a/c")
    assert not _same_root("/a/b/deeper/3f2e-uuid", "/a/b")


def test_same_root_handles_remote_uris_and_file_uri_requests():
    """Code-review r10: the first comparator normpath'd the full URI
    (collapsing ``hdfs://`` to ``hdfs:/``) and abspath'd the requested
    root (prepending the CWD to URIs), so an IDENTICAL remote root
    raised a spurious conflict — on exactly the clusters the reliable
    path exists for."""
    assert _same_root("hdfs://nn:8020/ckpt/uuid-123", "hdfs://nn:8020/ckpt")
    assert _same_root("hdfs://nn:8020/ckpt/uuid-123", "hdfs://nn:8020/ckpt/")
    assert _same_root("s3a://bucket/pipe/ckpt/u-1", "s3a://bucket/pipe/ckpt")
    assert not _same_root("hdfs://nn:8020/ckpt/u", "hdfs://other:8020/ckpt")
    assert not _same_root("hdfs://nn:8020/a/u", "s3a://nn:8020/a")
    assert not _same_root("s3a://bucket/a/u", "/bucket/a")
    # the caller may hand a file: URI while Spark returns file:/ form
    assert _same_root("file:/tmp/ck/u-1", "file:///tmp/ck")
    assert _same_root("file:///tmp/ck/u-1", "file:/tmp/ck")


def test_same_root_at_uri_filesystem_root():
    """ADVICE r10: a checkpoint root AT the URI filesystem root —
    dirname('hdfs://nn:8020/uuid') is the slash-less 'hdfs://nn:8020'
    while the user passes 'hdfs://nn:8020/' — must canonicalize to the
    same pair, or an identical-root second caller raises a spurious
    conflict."""
    assert _same_root("hdfs://nn:8020/uuid-123", "hdfs://nn:8020/")
    assert _same_root("s3a://bucket/uuid-123", "s3a://bucket")
    assert not _same_root("hdfs://nn:8020/uuid-123", "hdfs://other:8020/")


def test_same_root_resolves_local_symlinks(tmp_path):
    """Spark qualifies + resolves the local path; the requested root
    may be a symlink to it and must still match."""
    real = tmp_path / "real_root"
    real.mkdir()
    link = tmp_path / "link_root"
    link.symlink_to(real)
    assert _same_root(f"file:{real}/uuid-1", str(link))
    assert _same_root(f"{link}/uuid-1", str(real))


def test_two_checkpoint_roots_in_one_session_conflict(spark, ckpt_root, tmp_path):
    """First root wins and is reusable; a DIFFERENT root in the same
    session raises at setup instead of last-writer-wins redirecting the
    first caller's subsequent checkpoints."""
    ck1 = make_checkpointer(spark, ckpt_root)
    df = spark.range(10).withColumnRenamed("id", "v")
    assert ck1(df).count() == 10
    # same root again: fine (both callers checkpoint reliably)
    ck1b = make_checkpointer(spark, ckpt_root)
    assert ck1b(df).count() == 10
    # a different root must refuse loudly
    with pytest.raises(ValueError, match="checkpoint root"):
        make_checkpointer(spark, str(tmp_path / "other_root"))
    # the active root is untouched by the failed attempt
    assert _same_root(spark.sparkContext.getCheckpointDir(), ckpt_root)
    # and the None policy (localCheckpoint) is unaffected by all of it
    assert make_checkpointer(spark, None)(df).count() == 10


def test_materialize_computes_once_from_its_own_session(spark):
    """``materialize`` takes its session from the DataFrame and returns
    the same rows with the build pipeline cut off: later references
    scan the checkpointed blocks, not the source plan."""
    df = spark.range(10).selectExpr("id AS v", "id * id AS sq")
    out = materialize(df.filter("v % 2 = 0"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan and "LogicalRDD" in plan
    assert sorted(map(tuple, out.collect())) == [
        (v, v * v) for v in range(0, 10, 2)
    ]
    assert make_checkpointer(spark, None) is materialize
