"""Sub-quadratic cap evidence for the dedup/ANN family (100 TB claim).

Every pair-producing join in the dedup/ANN operators is bounded by a
cap — LSH band-bucket cap (_LSH_BUCKET_CAP), shingle document-frequency
cap (_SHINGLE_DF_CAP), embedding bucket cap (_EMB_BUCKET_CAP) — so the
candidate-pair space must stay sub-quadratic as N grows. This tool
measures that directly: it histograms the raw blocks of the SAME key
functions the production queries block on (_minhash_bands,
_shingle_index, _emb_lsh_keys in queries.py, all uncapped) on the base
corpus and on an 8x-replicated copy, and reports per scale:

- bucket/DF histograms: how many buckets (or shingles) crossed the cap
  and how many candidate pairs the cap REMOVED,
- emitted candidate pairs vs the all-pairs count they replace,
- the growth factor of candidate pairs from x1 to x8 (quadratic growth
  would be 64x; the caps must hold it far below that).

Replication duplicates documents/embeddings verbatim with shifted ids —
the worst case for the caps, since every original bucket's size
multiplies by the replication factor.

Usage: python tools/capstress.py [sf_dir] [factor]
Writes BENCH/capstress.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _replicate(spark, sf_dir: str, k: int) -> str:
    """k-fold verbatim replication of documents+embeddings with shifted
    ids, cached in /tmp keyed by (source, k)."""
    import tempfile

    from pyspark.sql import functions as F

    if k == 1:
        return sf_dir
    # keyed by path digest + parquet mtimes, NOT basename: a basename
    # key silently reuses a stale replica after the source is
    # regenerated in place (and collides across dirs sharing a name),
    # which would compare x1-vs-x8 growth across two different corpora
    from raptor_spark.sources.transcripts import _sf_cache_key

    key = "%s_x%d" % (_sf_cache_key(sf_dir), k)
    out = os.path.join(tempfile.gettempdir(), "rsp_capstress_" + key)
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_d, n_v = docs.count(), emb.count()
    big_d = big_e = None
    for i in range(k):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_d * 10))
        e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_v * 10))
        big_d = d if big_d is None else big_d.unionByName(d)
        big_e = e if big_e is None else big_e.unionByName(e)
    big_d.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    big_e.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    open(marker, "w").close()
    return out


def _pairsum(df, size_col):
    """sum over groups of C(size, 2) as a single aggregate row."""
    from pyspark.sql import functions as F

    return df.select(
        F.coalesce(
            F.sum(F.col(size_col) * (F.col(size_col) - 1) / 2), F.lit(0.0)
        ).alias("p")
    ).collect()[0].p


def measure(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from raptor_spark.queries import (
        _EMB_BUCKET_CAP,
        _LSH_BUCKET_CAP,
        _SHINGLE_DF_CAP,
        QUERIES,
        _emb_lsh_keys,
        _embeddings,
        _minhash_bands,
        _shingle_index,
        _shingle_source,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = _embeddings(spark, sf_dir)
    n_docs, n_vecs = docs.count(), emb.count()
    out = {
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "all_pairs_docs": n_docs * (n_docs - 1) // 2,
        "all_pairs_vecs": n_vecs * (n_vecs - 1) // 2,
    }

    src = _shingle_source(spark, sf_dir)

    # --- minhash band buckets ------------------------------------------
    sizes = _minhash_bands(src).groupBy("band", "mh").count()
    kept, dropped = (
        sizes.filter(F.col("count") <= _LSH_BUCKET_CAP),
        sizes.filter(F.col("count") > _LSH_BUCKET_CAP),
    )
    out["minhash"] = {
        "bucket_cap": _LSH_BUCKET_CAP,
        "buckets": sizes.count(),
        "buckets_over_cap": dropped.count(),
        "candidate_pairs_kept": int(_pairsum(kept, "count")),
        "candidate_pairs_capped_away": int(_pairsum(dropped, "count")),
        "distinct_candidates": QUERIES["dedup_minhash"](spark, sf_dir).count(),
    }

    # --- shingle inverted index (jaccard) ------------------------------
    df_sizes = _shingle_index(src).groupBy("sh").count()
    kept, dropped = (
        df_sizes.filter(F.col("count") <= _SHINGLE_DF_CAP),
        df_sizes.filter(F.col("count") > _SHINGLE_DF_CAP),
    )
    out["jaccard"] = {
        "df_cap": _SHINGLE_DF_CAP,
        "shingles": df_sizes.count(),
        "shingles_over_cap": dropped.count(),
        "pair_evals_kept": int(_pairsum(kept, "count")),
        "pair_evals_capped_away": int(_pairsum(dropped, "count")),
    }

    # --- embedding sign-bit buckets ------------------------------------
    esizes = _emb_lsh_keys(emb).groupBy("tab", "bucket").count()
    kept, dropped = (
        esizes.filter(F.col("count") <= _EMB_BUCKET_CAP),
        esizes.filter(F.col("count") > _EMB_BUCKET_CAP),
    )
    out["embedding"] = {
        "bucket_cap": _EMB_BUCKET_CAP,
        "buckets": esizes.count(),
        "buckets_over_cap": dropped.count(),
        "candidate_pairs_kept": int(_pairsum(kept, "count")),
        "candidate_pairs_capped_away": int(_pairsum(dropped, "count")),
    }

    # --- IVF/ANN LSH diagnostic query (reports its own candidate space)
    out["ann_lsh_candidate_pairs"] = sum(
        r.candidate_pairs for r in QUERIES["ann_lsh"](spark, sf_dir).collect()
    )

    # headline ratios
    out["minhash_candidate_ratio"] = round(
        out["minhash"]["candidate_pairs_kept"]
        / max(out["all_pairs_docs"], 1), 6
    )
    out["jaccard_eval_ratio"] = round(
        out["jaccard"]["pair_evals_kept"] / max(out["all_pairs_docs"], 1), 6
    )
    out["embedding_candidate_ratio"] = round(
        out["embedding"]["candidate_pairs_kept"]
        / max(out["all_pairs_vecs"], 1), 6
    )
    return out


def main():
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = (
        SparkSession.builder.master(
            "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
        )
        .appName("raptor-spark-capstress")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = measure(spark, sf_dir)
    rep_dir = _replicate(spark, sf_dir, factor)
    rep = measure(spark, rep_dir)
    result = {
        "sf_dir": sf_dir,
        "replicate_factor": factor,
        "x1": base,
        ("x%d" % factor): rep,
        # quadratic growth would multiply candidate pairs by factor^2;
        # the caps must hold the realized growth far below that
        "quadratic_growth_would_be": factor * factor,
        "minhash_growth": round(
            rep["minhash"]["candidate_pairs_kept"]
            / max(base["minhash"]["candidate_pairs_kept"], 1), 2
        ),
        "jaccard_growth": round(
            rep["jaccard"]["pair_evals_kept"]
            / max(base["jaccard"]["pair_evals_kept"], 1), 2
        ),
        "embedding_growth": round(
            rep["embedding"]["candidate_pairs_kept"]
            / max(base["embedding"]["candidate_pairs_kept"], 1), 2
        ),
    }
    os.makedirs(os.path.join(_REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(_REPO, "BENCH", "capstress.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
