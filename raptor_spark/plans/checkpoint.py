"""Resumable bucketed materialization with per-partition lineage manifests.

The job is keyed by conv_id buckets (``bucket = pmod(xxhash64(conv_id), N)``
— deterministic across runs and retries). A finished bucket has its data
under ``out_dir/{triples,errors,links}/bucket=<b>/`` and a row (bucket,
convs, triples, errors, turns, link_decisions, linked, ts) in the
append-only ``out_dir/manifest/``. pipeline.run_resumable makes one pass:
``plan_buckets`` decides on the driver which buckets to parse and which to
relink; the turns and the graph of those buckets are built and
persisted once; ``write_bucketed`` counts every counter in one
aggregate, writes the bucket data and appends the manifest last.
Spark's task retry gives at-least-once inside a run; the manifest gives
cross-run resume (north-rule requirement; the reference is a
single-process stream).
Output paths go through the Hadoop FileSystem API, so ``out_dir`` may be
any URI Spark writes to.
"""

from __future__ import annotations

import datetime
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # moved in PySpark 3.4
    from pyspark.errors import AnalysisException
except ImportError:  # pragma: no cover
    from pyspark.sql.utils import AnalysisException


def with_bucket(
    df: DataFrame, n_buckets: int, col: str = "conv_id", bucket_fn=None
) -> DataFrame:
    """Deterministic conv_id -> bucket assignment. Default is xxhash64
    (cheap, JVM-side, well-mixed at 10^12 keys); ``bucket_fn(col_expr,
    n_buckets) -> Column`` overrides it — e.g. an md5-derived bucket the
    DuckDB oracle can reconstruct relationally (queries.resumable_manifest).
    The resume machinery only needs determinism across runs."""
    if bucket_fn is None:
        expr = F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")
    else:
        expr = bucket_fn(F.col(col), n_buckets)
    return df.withColumn("bucket", expr)


def _sub(out_dir: str, name: str) -> str:
    return out_dir.rstrip("/") + "/" + name


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the filesystem Spark itself
    resolves the URI to (local, file://, hdfs://, s3a://, ...)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def finished_buckets(
    spark: SparkSession, out_dir: str
) -> Optional[Dict[int, bool]]:
    """{bucket: linked} for every bucket with a manifest row, read on the
    driver (the manifest holds one small row per bucket and run).

    ``linked`` records whether the linking stage has run for the bucket
    (see write_bucketed) — distinct from "linked with zero decisions".
    Manifests may mix schema generations (rows written before the
    linked/turns columns existed), so the read always merges schemas;
    legacy rows, whose link_decisions read 0 when linking did not run,
    count as linked only when decisions were recorded (re-linking a
    zero-decision bucket is idempotent: its links partition is replaced).
    """
    manifest_path = _sub(out_dir, "manifest")
    fs, path = _hadoop_path(spark, manifest_path)
    if not fs.exists(path):
        return None
    try:
        df = spark.read.option("mergeSchema", "true").parquet(manifest_path)
    except AnalysisException:
        # a manifest dir with no readable parquet yet (run died before
        # the first manifest append) IS "nothing finished"; any OTHER
        # failure must propagate — mapping an IO hiccup to None would
        # silently re-materialize every finished bucket
        return None
    if "linked" in df.columns:
        linked = F.coalesce(F.col("linked"), F.col("link_decisions") > 0)
    elif "link_decisions" in df.columns:
        linked = F.col("link_decisions") > 0
    else:
        linked = F.lit(False)
    done: Dict[int, bool] = {}
    for b, ln in df.select("bucket", linked).collect():
        done[b] = done.get(b, False) or bool(ln)
    return done


def plan_buckets(
    spark: SparkSession, bucketed: DataFrame, out_dir: str, link: bool
) -> Tuple[List[int], List[int]]:
    """(parse, relink) bucket lists for the input ``bucketed`` (carrying
    a ``bucket`` column): ``parse`` has no manifest row yet; ``relink``
    (only when ``link``) is finished but was written without linking.
    Both come from the input's own buckets, so a bucket the input does
    not carry is never marked linked by a run that could not link it."""
    todo = sorted(r[0] for r in bucketed.select("bucket").distinct().collect())
    linked = finished_buckets(spark, out_dir) or {}
    parse = [b for b in todo if b not in linked]
    relink = [b for b in todo if link and linked.get(b) is False]
    return parse, relink


def manifest_frame(spark: SparkSession, rows: list) -> DataFrame:
    """Manifest rows as a DataFrame: (bucket, convs, triples, errors,
    turns, link_decisions, linked, ts). A null counter means the work
    it counts did not run for that row — not zero."""
    return spark.createDataFrame(
        rows,
        "bucket int, convs long, triples long, errors long, turns long, "
        "link_decisions long, linked boolean, ts timestamp",
    )


def write_bucketed(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int,
    parse: List[int],
    relink: List[int],
    turns: DataFrame,
    triples: DataFrame,
    errors: DataFrame,
    links: Optional[DataFrame] = None,
    bucket_fn=None,
) -> DataFrame:
    """Count, write and record the ``parse`` and ``relink`` buckets
    (see plan_buckets); returns the manifest rows appended.

    ``turns`` holds the transcript turns of both lists, ``triples`` and
    ``errors`` the graph of the ``parse`` buckets, ``links`` the
    (conv_id, entity_uri, mentions) linking output of both (None when
    linking does not run). Each feeds the counters and a write, so the
    caller persists the ones that are costly to recompute. The counters
    come from ONE aggregate over their union, never from joins of
    separate counts; ``convs`` counts the INPUT conversations, so a
    bucket whose conversations all parse to zero triples still records
    what it consumed. ``relink`` rows carry only link_decisions, which
    is null when linking did not run.

    Bucket data is written with DYNAMIC partition overwrite: a replay of
    a run that died before its manifest append replaces the partitions
    it owns instead of adding a second copy, and leaves other buckets
    alone. Dynamic overwrite cannot clear a partition the replay writes
    zero rows into, so the owned partitions are deleted first. The
    manifest stays append-only; readers aggregate it per bucket."""
    linked = links is not None
    data = [("triples", "t", triples, parse), ("errors", "e", errors, parse)]
    if linked:
        data.append(("links", "l", links, parse + relink))
    rows = turns.select("conv_id", F.lit("u").alias("rec"))
    for _, tag, df, _ in data:
        rows = rows.unionByName(df.select("conv_id", F.lit(tag).alias("rec")))
    n = lambda tag: F.count(F.when(F.col("rec") == tag, 1))
    # aggregate columns in manifest order, so a parse row is (*counts[b], ...)
    counts = {
        r["bucket"]: r
        for r in with_bucket(rows, n_buckets, bucket_fn=bucket_fn)
        .groupBy("bucket")
        .agg(
            F.countDistinct(F.when(F.col("rec") == "u", F.col("conv_id")))
            .alias("convs"),
            n("t").alias("triples"),
            n("e").alias("errors"),
            n("u").alias("turns"),
            (n("l") if linked else F.lit(None).cast("long"))
            .alias("link_decisions"),
        )
        .collect()
    }
    ts = datetime.datetime.now()
    manifest = manifest_frame(
        spark,
        [(*counts[b], linked, ts) for b in parse]
        + [
            (b, None, None, None, None, counts[b]["link_decisions"], True, ts)
            for b in relink
        ],
    )
    for sub, _, df, buckets in data:
        if not buckets:
            continue
        fs, root = _hadoop_path(spark, _sub(out_dir, sub))
        for b in buckets:
            # False when the partition does not exist; other failures raise
            fs.delete(root.suffix("/bucket=%d" % b), True)
        with_bucket(df, n_buckets, bucket_fn=bucket_fn).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "bucket"
        ).parquet(_sub(out_dir, sub))
    # one small file per append, not one per core
    manifest.coalesce(1).write.mode("append").parquet(
        _sub(out_dir, "manifest")
    )
    return manifest
