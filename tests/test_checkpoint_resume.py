"""Resumable materialization + streaming wrapper semantics.

North-rule requirements: conv_id-bucketed output, per-partition lineage
manifests (counters), resume-from-checkpoint skipping finished buckets,
and a Structured Streaming drain mode whose output matches the batch
pipeline's.
"""

import pathlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def transcripts(spark):
    from raptor_spark.sources.transcripts import tpch_transcripts

    return tpch_transcripts(
        spark, "/root/testdata/sf0.001", max_orders=200
    ).cache()


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), through a job group."""
    import uuid

    sc = spark.sparkContext
    group = "jobs-%s" % uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# "file://" covers URI output dirs (tools/submit_job.py passes cluster
# URIs): a path test through os.path would never see that manifest
@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file-uri"])
def test_resume_skips_finished_buckets(
    spark, transcripts, tmp_path_factory, scheme
):
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = scheme + str(tmp_path_factory.mktemp("kg_out"))
    n_buckets = 8

    m1 = run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    rows1 = m1.collect()
    assert rows1, "first run must produce manifest rows"
    total_triples = sum(r.triples for r in rows1)
    assert total_triples > 0
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == total_triples
    # lineage counters match the data per bucket
    per_bucket = {
        r.bucket: r.cnt
        for r in written.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert {r.bucket: r.triples for r in rows1} == per_bucket

    # second run: every bucket finished -> no new work, no new triples,
    # and the plan alone decides that: a handful of small jobs (bucket
    # set of the input, manifest read), no parse or write job
    m2, jobs = _count_jobs(
        spark, lambda: run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    )
    assert m2.count() == 0
    assert jobs <= 6, "no-op resume started %d jobs" % jobs
    assert spark.read.parquet(f"{out}/triples").count() == total_triples
    assert spark.read.parquet(f"{out}/manifest").count() == len(rows1)

    # deterministic bucketing: recomputing buckets matches the manifest set
    bucketed = ckpt.with_bucket(transcripts, n_buckets)
    expect_buckets = {r.bucket for r in bucketed.select("bucket").distinct().collect()}
    assert {r.bucket for r in rows1} == expect_buckets


def test_lineage_counters_turns_and_links(spark, transcripts, tmp_path_factory):
    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable

    out = str(tmp_path_factory.mktemp("kg_lineage"))
    ents = customer_entities(spark, "/root/testdata/sf0.001")
    m = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    rows = m.collect()
    assert rows
    # turns parsed = the input turn count, distributed over the buckets
    assert sum(r.turns for r in rows) == transcripts.count()
    assert all(r.turns > 0 for r in rows)
    # link decisions: one best entity per conversation with a mention —
    # every synthesized order doc mentions its customer URI, so every
    # conversation links, and the materialized links match the counter
    n_links = sum(r.link_decisions for r in rows)
    assert n_links == transcripts.select("conv_id").distinct().count()
    written = spark.read.parquet(f"{out}/links")
    assert written.count() == n_links
    per_bucket = {
        r.bucket: r.cnt
        for r in written.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert {r.bucket: r.link_decisions for r in rows} == per_bucket


def test_resume_adds_linking_to_finished_buckets(
    spark, transcripts, tmp_path_factory
):
    """Resuming an out_dir first written WITHOUT entities must not leave
    links/ silently incomplete: the second run links the already-finished
    buckets as relink buckets (linking only), and the manifest records
    whether linking ran (linked flag; link_decisions null when it
    didn't) rather than an ambiguous 0."""
    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_addlink"))
    m1 = run_resumable(spark, transcripts, out, n_buckets=8)
    rows1 = m1.collect()
    assert rows1 and all(r.linked is False for r in rows1)
    assert all(r.link_decisions is None for r in rows1)

    ents = customer_entities(spark, "/root/testdata/sf0.001")
    m2 = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    rows2 = m2.collect()
    # no bucket re-parsed (triples untouched), but every bucket linked
    assert all(r.triples is None for r in rows2)
    assert all(r.linked for r in rows2)
    assert {r.bucket for r in rows2} == {r.bucket for r in rows1}
    n_links = sum(r.link_decisions for r in rows2)
    assert n_links == transcripts.select("conv_id").distinct().count()
    assert spark.read.parquet(f"{out}/links").count() == n_links
    assert all(ckpt.finished_buckets(spark, out).values())

    # third run: everything finished AND linked -> nothing to do
    m3 = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    assert m3.count() == 0
    assert spark.read.parquet(f"{out}/links").count() == n_links


def test_relink_covers_buckets_outside_a_partial_run(
    spark, transcripts, tmp_path_factory
):
    """A linking run over PART of the input relinks only the buckets it
    carries; the finished-but-unlinked buckets it does not carry stay
    unlinked, so a later full run with entities links them."""
    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_relink_partial"))
    ents = customer_entities(spark, "/root/testdata/sf0.001")
    half = (
        ckpt.with_bucket(transcripts, 8)
        .filter(F.col("bucket") < 4)
        .drop("bucket")
    )
    run_resumable(spark, transcripts, out, n_buckets=8)
    rows2 = run_resumable(spark, half, out, n_buckets=8, entities=ents).collect()
    assert rows2 and all(r.bucket < 4 and r.linked for r in rows2)
    run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)

    links = spark.read.parquet(f"{out}/links")
    n_convs = transcripts.select("conv_id").distinct().count()
    assert links.count() == n_convs
    assert links.select("conv_id").distinct().count() == n_convs
    assert all(ckpt.finished_buckets(spark, out).values())


def test_resume_processes_only_missing_buckets(spark, transcripts, tmp_path_factory):
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_partial"))
    n_buckets = 8
    bucketed = ckpt.with_bucket(transcripts, n_buckets)
    half = bucketed.filter(F.col("bucket") < 4).drop("bucket")

    m1 = run_resumable(spark, half, out, n_buckets=n_buckets)
    done1 = {r.bucket for r in m1.collect()}
    assert done1 and all(b < 4 for b in done1)

    # full input now: only the unfinished buckets run
    m2 = run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    done2 = {r.bucket for r in m2.collect()}
    assert done2 and all(b >= 4 for b in done2)

    # union covers the whole graph exactly once
    from raptor_spark.pipeline import build_graph

    expected, _ = build_graph(transcripts)
    got = spark.read.parquet(f"{out}/triples")
    assert got.count() == expected.count()


def test_streaming_drain_matches_batch(spark, transcripts, tmp_path_factory):
    from raptor_spark.pipeline import build_graph
    from raptor_spark.streaming.pipeline import stream_build_graph

    base = tmp_path_factory.mktemp("kg_stream")
    src = str(base / "transcripts")
    out = str(base / "out")
    transcripts.repartition(4, "conv_id").write.parquet(src)

    stream_build_graph(spark, src, out)
    got = spark.read.parquet(f"{out}/triples")
    expected, _ = build_graph(transcripts)
    assert got.count() == expected.count()
    # logical triple sets identical (bnode labels are conv-scoped and
    # deterministic, so exact equality holds)
    cols = ["subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
            "obj_lang", "graph"]
    assert got.select(cols).exceptAll(expected.select(cols)).count() == 0
    assert expected.select(cols).exceptAll(got.select(cols)).count() == 0

    # a second drain over the same checkpoint is a no-op (exactly-once)
    stream_build_graph(spark, src, out)
    assert spark.read.parquet(f"{out}/triples").count() == expected.count()


def test_bucket_replay_is_idempotent(spark, transcripts, tmp_path_factory):
    """A run that died AFTER writing bucket data but BEFORE its manifest
    append re-executes those buckets on resume; the bucket writes use
    dynamic partition overwrite, so the replay REPLACES the orphaned
    copy instead of adding a duplicate next to it, and leaves the
    buckets an earlier run finished alone."""
    import shutil

    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    local = tmp_path_factory.mktemp("replay")
    out = str(local)
    half = (
        ckpt.with_bucket(transcripts, 4)
        .filter(F.col("bucket") < 2)
        .drop("bucket")
    )
    rows = run_resumable(spark, half, out, n_buckets=4).collect()
    shutil.copytree(local / "manifest", local / "manifest_half")
    rows += run_resumable(spark, transcripts, out, n_buckets=4).collect()
    once = spark.read.parquet(out + "/triples").count()
    assert once == sum(r.triples for r in rows) > 0
    # crash-replay: the second run's bucket data is on disk, its
    # manifest rows are lost
    shutil.rmtree(local / "manifest")
    (local / "manifest_half").rename(local / "manifest")
    m3 = run_resumable(spark, transcripts, out, n_buckets=4)
    assert {r.bucket for r in m3.collect()} == {2, 3}
    again = spark.read.parquet(out + "/triples").count()
    assert again == once
    # the manifest log is append-only; readers aggregate per bucket
    man = spark.read.parquet(out + "/manifest")
    assert sorted(r.bucket for r in man.collect()) == [0, 1, 2, 3]


def test_empty_manifest_dir_reads_as_nothing_finished(spark, tmp_path):
    """A manifest dir with no readable parquet (run died before the
    first append) means 'nothing finished' — but ONLY that case maps to
    None; other read failures propagate instead of silently
    re-materializing finished buckets."""
    import os

    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path / "job")
    os.makedirs(os.path.join(out, "manifest"))
    assert ckpt.finished_buckets(spark, out) is None


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file-uri"])
def test_zero_row_replay_clears_stale_bucket_data(
    spark, transcripts, tmp_path_factory, scheme
):
    """Dynamic partition overwrite alone cannot clear a partition the
    replay writes ZERO rows into: a crashed predecessor's rows would
    survive under a bucket whose conversations all legitimately parse
    to zero triples. write_bucketed deletes the partitions of the
    buckets the run owns first, so the zero-row replay lands clean —
    through a URI out_dir too."""
    import shutil

    from raptor_spark.pipeline import run_resumable

    local = tmp_path_factory.mktemp("zero_replay")
    out = scheme + str(local)
    run_resumable(spark, transcripts, out, n_buckets=4)
    assert list(local.glob("triples/bucket=*"))
    # crash-replay of the same buckets (manifest lost), now with
    # transcripts that parse to nothing
    shutil.rmtree(local / "manifest")
    m = run_resumable(
        spark, transcripts.withColumn("text", F.lit("")), out, n_buckets=4
    ).collect()
    assert len(m) == 4 and sum(r.triples for r in m) == 0
    assert not list(local.glob("triples/bucket=*")), (
        "stale bucket partitions survived a zero-row replay"
    )
