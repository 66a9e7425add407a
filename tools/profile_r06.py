"""Round-6 stage-level profiling probes (guide 1.4: noop-sink isolation).

Times individual pipeline stages of the expensive headline queries so
optimization targets the measured cost, not the guessed one. One Spark
session, bench-identical config, labeled jobs. Prints one line per probe.

Usage: PYTHONPATH=. python tools/profile_r06.py [sf_dir] [probe,probe,...]
Probes: dedup, synth, ann, serialize (default: all)
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _session(cpus="32"):
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("raptor-spark-profile-r06")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _t(spark, label, fn, repeats=2):
    best = None
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    spark.sparkContext.setJobDescription(None)
    print("%-46s %7.3f s" % (label, best), flush=True)
    return best


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def probe_dedup(spark, sf_dir):
    from raptor_spark.queries import (
        _LSH_BUCKET_CAP,
        _SIMHASH_FP_SQL,
        _blocks,
        _minhash_bands,
        _minhash_pairs,
        _rebalance,
        _shingle_index,
        _shingle_source,
        QUERIES,
    )

    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    _t(spark, "dedup: docs scan+rebalance", lambda: _noop(docs))
    src = _shingle_source(spark, sf_dir)
    _t(spark, "dedup: shingle source (shs, hs)", lambda: _noop(src))
    _t(spark, "dedup: shingle index (explode)", lambda: _noop(_shingle_index(src)))
    buckets = _blocks(
        _minhash_bands(src), ["band", "mh"], "doc_id", _LSH_BUCKET_CAP
    )
    _t(spark, "dedup: capped buckets", lambda: _noop(buckets))
    _t(spark, "dedup: minhash pairs (join)", lambda: _noop(_minhash_pairs(src)))
    _t(
        spark,
        "dedup: q_dedup_minhash full",
        lambda: QUERIES["dedup_minhash"](spark, sf_dir).count(),
    )
    _t(
        spark,
        "dedup: q_dedup_cascade full",
        lambda: QUERIES["dedup_cascade"](spark, sf_dir).count(),
    )
    _t(
        spark,
        "dedup: q_dedup_jaccard full",
        lambda: QUERIES["dedup_jaccard"](spark, sf_dir).count(),
    )
    fps = src.select("doc_id", F.expr(_SIMHASH_FP_SQL).alias("simhash"))
    _t(spark, "simhash: fingerprints only", lambda: _noop(fps))
    _t(
        spark,
        "simhash: q_dedup_simhash full",
        lambda: QUERIES["dedup_simhash"](spark, sf_dir).count(),
    )
    _t(
        spark,
        "clusters: q_dedup_clusters full",
        lambda: QUERIES["dedup_clusters"](spark, sf_dir).count(),
    )
    from raptor_spark import queries as Q

    print("   clusters build_sec:", Q.CLUSTER_STATS["build_sec"], flush=True)
    _t(
        spark,
        "curate: q_corpus_curate full",
        lambda: QUERIES["corpus_curate"](spark, sf_dir).count(),
    )


def probe_synth(spark, sf_dir):
    from raptor_spark.operators.reassemble import reassemble
    from raptor_spark.queries import QUERIES
    from raptor_spark.sources.transcripts import tpch_transcripts

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _t(spark, "synth: orders+lineitem scan", lambda: (_noop(orders), _noop(li)))
    tr = tpch_transcripts(spark, sf_dir)
    _t(spark, "synth: tpch_transcripts (turns)", lambda: _noop(tr))
    docs = reassemble(tr, extra_cols=("tool",))
    _t(spark, "synth: turns -> reassemble", lambda: _noop(docs))
    _t(
        spark,
        "synth: kg_pipeline full",
        lambda: QUERIES["kg_pipeline"](spark, sf_dir).count(),
    )
    _t(
        spark,
        "synth: kg_pipeline_iceberg full",
        lambda: QUERIES["kg_pipeline_iceberg"](spark, sf_dir).count(),
    )


def probe_ann(spark, sf_dir):
    import raptor_spark.queries as Q

    emb = Q._embeddings(spark, sf_dir)
    _t(spark, "ann: embeddings count", lambda: emb.count())
    n = emb.count()
    cells, denom = Q._ivf_params(n)
    print("   n=%d cells=%d denom=%d" % (n, cells, denom), flush=True)
    hv = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    from pyspark.sql.window import Window

    samp = emb.withColumn("hv", hv).filter(F.col("hv") % denom == 0)
    t0 = time.time()
    samp = samp.localCheckpoint()
    print("%-46s %7.3f s" % ("ann: samp localCheckpoint", time.time() - t0), flush=True)
    w_seed = Window.orderBy("hv", "vec_id")
    t0 = time.time()
    cent_rows = (
        samp.withColumn("cell", F.row_number().over(w_seed) - 1)
        .filter(F.col("cell") < cells)
        .select("cell", F.col("e").alias("ce"))
        .collect()
    )
    print("%-46s %7.3f s" % ("ann: seed collect", time.time() - t0), flush=True)
    cent_rows = [(r["cell"], r["ce"]) for r in cent_rows]

    def one_lloyd():
        win = Q._ivf_assign(samp, cent_rows).select(
            "cell", "vec_id", F.col("ne").alias("e")
        )
        pe = win.select("cell", "vec_id", F.posexplode("e").alias("pos", "val"))
        dmeans = pe.groupBy("cell", "pos").agg(
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                        lambda s: s["val"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1))
            ).alias("mv")
        )
        dmeans.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("nce")
        ).collect()

    _t(spark, "ann: one Lloyd round", one_lloyd, repeats=2)
    assign = Q._ivf_assign(emb, cent_rows)
    _t(spark, "ann: assignment pass (noop)", lambda: _noop(assign))
    _t(
        spark,
        "ann: q_ann_topk full",
        lambda: Q.QUERIES["ann_topk"](spark, sf_dir).count(),
    )
    print("   ann train_sec:", Q.ANN_STATS["train_sec"], flush=True)
    _t(
        spark,
        "ann: q_embedding_topk full",
        lambda: Q.QUERIES["embedding_topk"](spark, sf_dir).count(),
    )


def probe_serialize(spark, sf_dir):
    from raptor_spark.operators.serialize import (
        _grouped_triples,
        serialize_bytes,
        serialize_roundtrip_counts,
    )
    from raptor_spark.sources.transcripts import materialize_graph

    gt = spark.read.parquet(materialize_graph(spark, sf_dir))
    _t(spark, "ser: graph table scan", lambda: _noop(gt))
    grouped = _grouped_triples(gt, "conv_id")
    _t(spark, "ser: grouped (collect_list)", lambda: _noop(grouped))
    _t(
        spark,
        "ser: serialize_bytes turtle",
        lambda: serialize_bytes(gt, fmt="turtle").count(),
    )
    _t(
        spark,
        "ser: roundtrip_counts turtle",
        lambda: serialize_roundtrip_counts(gt, fmt="turtle").count(),
    )
    from raptor_spark.queries import QUERIES

    _t(
        spark,
        "ser: q_serialize_ntriples full",
        lambda: QUERIES["serialize_ntriples"](spark, sf_dir).count(),
    )


PROBES = {
    "dedup": probe_dedup,
    "synth": probe_synth,
    "ann": probe_ann,
    "serialize": probe_serialize,
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else list(PROBES)
    )
    spark = _session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        la = open("/proc/loadavg").read().split()[0]
        print("loadavg_start", la, flush=True)
    except OSError:
        pass
    for name in which:
        PROBES[name](spark, sf_dir)
    try:
        print("loadavg_end", open("/proc/loadavg").read().split()[0], flush=True)
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
