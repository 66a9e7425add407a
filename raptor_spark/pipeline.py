"""End-to-end KG construction pipeline.

transcripts --reassemble--> documents --parse UDF--> triples+errors
          --canonicalize/relabel--> --salted dedup--> graph tables.

Exchanges: conv_id reassembly, plus the optional bucketed write — two in
the default materialization path. Statement dedup is per-document inside
the parse stage (the reference's own semantic), so it costs no shuffle;
``global_dedup``/``salt_buckets`` add an explicit aggregation pass when
cross-conversation uniqueness or forced two-phase skew handling is
wanted. Everything between exchanges runs in whole-stage codegen or one
Arrow-batched Python stage. AQE is expected on (skew-join/coalesce).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.operators.canonical import dedup_statements, relabel_bnodes
from raptor_spark.operators.parse import errors_of, parse_documents, triples_of
from raptor_spark.operators.reassemble import reassemble
from raptor_spark.plans import checkpoint as ckpt


def build_graph(
    transcripts: DataFrame,
    base_uri_col: Optional[str] = None,
    relabel: bool = True,
    global_dedup: bool = False,
    salt_buckets: int = 0,
    dedup: bool = True,
) -> Tuple[DataFrame, DataFrame]:
    """transcripts -> (triples, parse_errors).

    ``dedup=False`` keeps the raw statement stream (the reference's
    streaming parsers emit duplicates as-is; only the buffered abbrev
    serializers dedup) — used when comparing against rapper output.

    Statement dedup runs PER DOCUMENT INSIDE the parse stage, before
    relabeling: the whole document is in hand there, and the Arrow
    parse stage reports UnknownPartitioning downstream, so any
    post-parse dropDuplicates would re-shuffle every triple even though
    the stream is conv_id-clustered (CLAUDE.md rule; gated by
    tests/test_plan_shape.py). This is also the reference's semantic
    (duplicate suppression is per parsed document,
    src/raptor_abbrev.c:354-397);
    after relabeling, bnode triples are globally unique by construction
    (labels embed conv_id). ``global_dedup=True`` adds a whole-graph
    pass after relabeling — a full shuffle on the term columns — for
    callers that need cross-conversation uniqueness of URI-only rows.
    """
    extra = ("tool",) + ((base_uri_col,) if base_uri_col else ())
    docs = reassemble(transcripts, extra_cols=extra)
    # per-document dedup happens inside the parse stage (the whole
    # document is in hand there; the Arrow parse stage reports UnknownPartitioning
    # downstream, so a dropDuplicates here would re-shuffle every triple
    # even though the stream is already conv_id-clustered)
    parsed = parse_documents(
        docs, base_uri_col=base_uri_col,
        dedup_per_doc=dedup and salt_buckets == 0,
    )
    triples = triples_of(parsed)
    errors = errors_of(parsed)
    if dedup and salt_buckets > 0:
        # explicit salted two-phase aggregation (skew-forced path)
        triples = dedup_statements(
            triples, global_dedup=False, salt_buckets=salt_buckets
        )
    if relabel:
        triples = relabel_bnodes(triples)
    if dedup and global_dedup:
        triples = dedup_statements(
            triples, global_dedup=True, salt_buckets=salt_buckets
        )
    return triples, errors


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    base_uri_col: Optional[str] = None,
    entities: Optional[DataFrame] = None,
    bucket_fn=None,
) -> DataFrame:
    """Resumable materialization in one pass (plans/checkpoint.py):
    plan the buckets on the driver from the input's bucket set and the
    manifest, build the graph once for the buckets with no manifest row,
    count every lineage counter (convs, turns parsed, triples emitted,
    parse errors, link decisions) in one aggregate, write the
    bucket-partitioned parquet, then append the manifest. When an
    ``entities`` dictionary (key, entity_uri) is given, the linking stage
    runs over those buckets AND the input's buckets a prior run
    finished without linking, and its decisions are materialized under
    ``links/bucket=`` — a resume that adds entities never leaves links/
    silently incomplete. Returns the manifest rows appended by this run;
    a run with nothing to do returns no rows and starts no parse or write
    job.

    The turns feed the parse, the link stage and the counters; the parse
    output feeds two writes and the counters. Both are persisted for the
    duration, so the input is read and the mapInArrow parse stage runs
    once."""
    from pyspark.storagelevel import StorageLevel

    bucketed = ckpt.with_bucket(transcripts, n_buckets, bucket_fn=bucket_fn)
    parse, relink = ckpt.plan_buckets(
        spark, bucketed, out_dir, link=entities is not None
    )
    if not parse and not relink:
        return ckpt.manifest_frame(spark, [])
    turns = bucketed.filter(F.col("bucket").isin(parse + relink)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    extra = ("tool",) + ((base_uri_col,) if base_uri_col else ())
    docs = reassemble(
        turns.filter(F.col("bucket").isin(parse)), extra_cols=extra
    )
    parsed = parse_documents(
        docs, base_uri_col=base_uri_col, dedup_per_doc=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    links = None
    if entities is not None:
        from raptor_spark.operators.link import link_entities

        # not persisted: a cached frame keeps its shuffle partitions, so
        # its partitioned write would make n_buckets files per partition;
        # recomputing this cheap stage lets AQE coalesce its output first
        links = link_entities(turns, entities)
    try:
        return ckpt.write_bucketed(
            spark, out_dir, n_buckets, parse, relink, turns,
            relabel_bnodes(triples_of(parsed)), errors_of(parsed),
            links=links, bucket_fn=bucket_fn,
        )
    finally:
        # unpersist even when a write/link stage throws: a long-running
        # session must not accumulate MEMORY_AND_DISK blocks per failure
        parsed.unpersist()
        turns.unpersist()
