"""spark-submit entrypoint for the KG-construction job.

The cluster deployment path the north rule specifies: package the
library and submit, e.g.

    cd /root/repo && zip -qr /tmp/raptor_spark.zip raptor_spark
    spark-submit --master local[8] \
        --py-files /tmp/raptor_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        tools/submit_job.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/kg_out --buckets 16

On a real cluster, swap --master for YARN/K8s and point --transcripts at
the Iceberg transcripts table; the job is conv_id-bucketed and resumable
— rerunning after a failure skips buckets already recorded in the
manifest (raptor_spark.plans.checkpoint) and prints per-run lineage
counters as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python tools/submit_job.py` runs (no --py-files zip): the
# package lives one level up from this script
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", help="synthesize transcripts from this testdata dir")
    ap.add_argument("--transcripts", help="or: read transcripts parquet from here")
    ap.add_argument("--out", required=True, help="output root (triples/errors/manifest)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--link",
        action="store_true",
        help="run the entity-linking stage (customer dictionary from "
        "--sf-dir) and record link decisions in the manifest",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("raptor-spark-kg").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from raptor_spark.pipeline import run_resumable

    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    elif args.sf_dir:
        from raptor_spark.sources.transcripts import tpch_transcripts

        transcripts = tpch_transcripts(spark, args.sf_dir)
    else:
        raise SystemExit("one of --transcripts / --sf-dir is required")

    entities = None
    if args.link:
        if not args.sf_dir:
            raise SystemExit("--link needs --sf-dir for the entity dictionary")
        from raptor_spark.operators.link import customer_entities

        entities = customer_entities(spark, args.sf_dir)

    manifest = run_resumable(
        spark, transcripts, args.out, n_buckets=args.buckets,
        entities=entities,
    )
    rows = manifest.collect()
    # counters are NULLABLE by design: link_decisions is null when the
    # job runs without --link, and relink rows (buckets finished by an
    # earlier run without --link) carry null convs/triples/errors/turns
    # (that work did not run in those rows) — sum them as 0, don't crash
    # on None
    print(
        json.dumps(
            {
                "buckets_completed": len(rows),
                "convs": sum(r.convs or 0 for r in rows),
                "turns": sum(r.turns or 0 for r in rows),
                "triples": sum(r.triples or 0 for r in rows),
                "errors": sum(r.errors or 0 for r in rows),
                "link_decisions": sum(
                    r.link_decisions or 0 for r in rows
                ),
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
