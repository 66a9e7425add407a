"""Physical-plan regression gates for the scale-critical properties.

These assert the plan SHAPE, not timings: the properties that keep the
engine viable at 100x the test data — exchange counts, column pruning at
the scan, and in-document dedup staying out of the shuffle path — are
exactly the ones a refactor can silently lose while every value-level
test stays green.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (fixture)


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _n_exchanges(plan: str) -> int:
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange (" in line and "Reused" not in line
    )


def test_flagship_single_exchange(spark):  # noqa: F811
    """scan -> conv_id reassembly -> parse (dedup in-document) ->
    projection: exactly ONE exchange. The dedup aggregation used to be a
    second full-width shuffle of every triple."""
    from raptor_spark.queries import QUERIES

    df = QUERIES["kg_pipeline_iceberg"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(df)
    assert _n_exchanges(plan) == 1, plan
    import re

    assert len(set(re.findall(r"\(\d+\) MapInArrow", plan))) == 1


def test_flagship_scan_prunes_columns(spark):  # noqa: F811
    """The transcript scan must read only the columns the pipeline uses
    (conv_id, turn_idx, text, tool) — not role/ts."""
    from raptor_spark.queries import QUERIES

    df = QUERIES["kg_pipeline_iceberg"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(df)
    scan = plan[plan.index("(1) Scan parquet"):]
    schema_line = next(
        line for line in scan.splitlines() if "ReadSchema" in line
    )
    assert "role" not in schema_line and "ts" not in schema_line
    for col in ("conv_id", "turn_idx", "text", "tool"):
        assert col in schema_line


def test_parse_dedup_per_doc(spark):  # noqa: F811
    """Duplicate statements inside one document collapse in the parse
    stage itself (reference: per-document duplicate suppression,
    src/raptor_abbrev.c:354-397)."""
    from raptor_spark.operators.parse import parse_documents, triples_of

    doc = "<http://a> <http://b> <http://c> .\n" * 3 + \
          "<http://a> <http://b> \"x\" .\n"
    df = spark.createDataFrame(
        [("c1", doc, "ntriples")], "conv_id string, doc_text string, tool string"
    )
    kept = triples_of(parse_documents(df, dedup_per_doc=True)).count()
    raw = triples_of(parse_documents(df, dedup_per_doc=False)).count()
    assert (raw, kept) == (4, 2)


@pytest.mark.parametrize(
    "name",
    [
        "corpus_curate",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_jaccard",
        "embedding_neardup",
    ],
)
def test_training_ops_stay_jvm_side(spark, name):  # noqa: F811
    """The dedup/curation operators are pure column algebra: no Python
    stages in the plan, and candidate generation is always a bucketed
    equi-join — a refactor that introduces a cartesian/nested-loop pair
    enumeration would pass value tests at sf0.001 and melt at corpus
    scale."""
    from raptor_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, name
    assert "MapInArrow" not in plan, name
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_curate_scan_prunes_columns(spark):  # noqa: F811
    """corpus_curate reads only (doc_id, text) from the documents table
    (which also carries lang/source/n_chars)."""
    from raptor_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["corpus_curate"](spark, "/root/testdata/sf0.001"))
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines
    for line in schema_lines:
        assert "source" not in line and "n_chars" not in line, line


@pytest.mark.parametrize(
    "name, max_exchanges",
    [("dedup_minhash", 3), ("dedup_simhash", 3), ("dedup_cascade", 8)],
)
def test_shingle_signatures_stay_per_document(spark, name, max_exchanges):  # noqa: F811
    """Shingle signatures — minhash bands, simhash fingerprints, set
    sizes — are computed row-local from the one per-document shingle
    source, so no exchange regroups exploded shingles by doc_id.
    minhash/simhash: rebalance, bucket grouping, pair dedup (was 4);
    cascade: 8 (was 14). An explode -> groupBy(doc_id) signature or a
    per-document size aggregate adds exchanges and fails here."""
    from raptor_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
    assert _n_exchanges(plan) <= max_exchanges, plan


@pytest.mark.parametrize(
    "name, max_exchanges", [("embedding_neardup", 4), ("ann_lsh", 1)]
)
def test_embedding_blocks_window_free(spark, name, max_exchanges):  # noqa: F811
    """The embedding LSH queries block through _blocks / one
    groupBy(tab, bucket): the bucket cap is a size filter on the
    collected block, never a count() window over (tab, bucket), and
    embedding_neardup pairs with the chained explode, not a self-join."""
    from raptor_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert _n_exchanges(plan) <= max_exchanges, plan


def test_nt_sink_majority_stays_in_codegen(spark):  # noqa: F811
    """The N-Triples sink's fast branch renders with pure column
    expressions; the kernel fallback exists but ASCII-clean rows never
    reach Python."""
    from raptor_spark.operators.serialize import nt_lines_df

    rows = [
        ("c", "http://s", "http://p", 2, "plain value", None, None, None),
        ("c", "_:b1", "http://p", 1, "http://o", None, None, "http://g"),
        ("c", "http://s", "http://p", 2, "café", None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, subj string, pred string, obj_kind int, "
        "obj_lex string, obj_datatype string, obj_lang string, graph string",
    )
    out = {r.nt_line for r in nt_lines_df(df).collect()}
    assert '<http://s> <http://p> "plain value" .' in out
    assert '_:b1 <http://p> <http://o> <http://g> .' in out
    # the non-ASCII row routes through the kernel and gets \u-escaped
    assert '<http://s> <http://p> "caf\\u00E9" .' in out


def test_nt_sink_single_scan(spark, tmp_path):  # noqa: F811
    """The NT sink reads its source exactly ONCE: the fast/slow split is
    a single projection (kernel UDF inputs nulled for clean rows), not a
    union of complementary filters — which at corpus scale would read
    the triples table twice."""
    from raptor_spark.operators.serialize import nt_lines_df

    src = str(tmp_path / "triples")
    spark.createDataFrame(
        [("c", "http://s", "http://p", 2, "v", None, None, None),
         ("c", "http://s", "http://p", 2, "café", None, None, None)],
        "conv_id string, subj string, pred string, obj_kind int, "
        "obj_lex string, obj_datatype string, obj_lang string, graph string",
    ).write.parquet(src)
    df = nt_lines_df(spark.read.parquet(src), extra_cols=("conv_id",))
    plan = _formatted_plan(df)
    import re

    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1, plan
    assert df.count() == 2


def test_ann_assign_no_exchange(spark):  # noqa: F811
    """IVF cell assignment is MAP-ONLY: the trained codebook ships in
    the task closure of ONE numpy mapInArrow stage — the plan has no
    join and no exchange of any kind between the scan and the
    assignment output. (Earlier formulations expanded N x cells rows
    through a Window exchange, then folded a broadcast codebook column
    per row in interpreted higher-order functions; round 6 moved the
    fold to vectorized numpy with ordered per-dimension accumulation,
    which is bit-identical to the JVM fold.)"""
    from raptor_spark.queries import _embeddings, _ivf_assign

    emb = _embeddings(spark, "/root/testdata/sf0.001")
    dim = len(emb.select("e").first()["e"])
    cent_rows = [(c, [float(c + 1)] * (dim - 1) + [1.0]) for c in range(4)]
    assign = _ivf_assign(emb, cent_rows)
    plan = _formatted_plan(assign)
    # NO exchange of any kind may touch the vector rows
    assert _n_exchanges(plan) == 0 and "BroadcastExchange" not in plan, plan
    assert "MapInArrow" in plan, plan
    # and it actually assigns every vector to some cell
    n = emb.count()
    assert assign.filter(F.col("cell").isNotNull()).count() == n


def test_buffered_writer_single_shuffle_batched(spark):  # noqa: F811
    """Buffered (whole-document) serializers are ONE shuffle (the
    collect_list grouping) followed by a batched mapInPandas stage —
    never a per-key applyInPandas (FlatMapGroupsInPandas): at 150k
    conversations the per-key pandas-frame + call overhead measured ~8x
    the writer-kernel cost."""
    from raptor_spark.operators.serialize import (
        serialize_bytes,
        serialize_roundtrip_counts,
    )
    from raptor_spark.sources.transcripts import materialize_graph

    triples = spark.read.parquet(
        materialize_graph(spark, "/root/testdata/sf0.001")
    )
    for df in (
        serialize_roundtrip_counts(triples, fmt="turtle"),
        serialize_bytes(triples, fmt="turtle"),
    ):
        plan = _formatted_plan(df)
        assert _n_exchanges(plan) == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
        import re

        # round 6: the writer stage is mapInArrow (columnar batch
        # extraction — no per-struct dict materialization)
        assert len(set(re.findall(r"\(\d+\) MapInArrow", plan))) == 1, plan


def test_parse_stage_rebalanced_to_cores(spark):  # noqa: F811
    """A Python-parse stage over a SMALL columnar input must not inherit
    the scan's byte-sized split planning: parquet plans splits by bytes
    (one ~300KB file -> ONE split) while the parse UDF is CPU-bound, so
    without a rebalance the whole Arrow stage serializes onto one core
    (measured 5.3s -> 1.3s at sf0.1 local[32] for rdfa_extract when
    fixed). The rebalance must be a ROUND-ROBIN repartition with an
    explicit count (exempt from AQE coalescing) of the narrow
    pre-synthesis columns, and must no-op when the input already has
    enough splits."""
    from raptor_spark.operators.parse import rebalance_for_parse
    from raptor_spark.queries import QUERIES

    df = QUERIES["rdfa_extract"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(df)
    assert "RoundRobinPartitioning" in plan, plan
    # the parse stage runs at session parallelism, not at scan splits
    assert (
        df.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    ), df.rdd.getNumPartitions()

    # guard no-ops on an input that is already parallel enough
    pre = spark.range(0, 100, 1, 64)
    assert rebalance_for_parse(pre, min_parallelism=8) is pre


def test_python_stage_queries_rebalanced_and_map_only(spark):  # noqa: F811
    """The round-5 Python-stage queries (guess scorer, real-codec media
    decode) inherit the same two rules as every Arrow stage: the narrow
    scan is rebalanced to session parallelism (CPU-bound stage must not
    ride one byte-sized split) and the Python stage itself is MAP-ONLY —
    no exchange between the rebalance and the mapInPandas (scoring and
    decoding are per-row; any extra shuffle would be pure waste at
    100 TB)."""
    from raptor_spark.queries import QUERIES

    for name in ("format_guess", "media_decode", "grddl_extract"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = _formatted_plan(df)
        assert "RoundRobinPartitioning" in plan, (name, plan)
        # exactly ONE exchange in the whole plan: the rebalance itself
        assert _n_exchanges(plan) == 1, (name, plan)
        # parse_documents-backed queries run mapInArrow; the scorer
        # and media stages are pandas-frame-shaped and stay mapInPandas
        assert ("MapInPandas" in plan) or ("MapInArrow" in plan), (name, plan)


def test_parse_stage_runs_whole_waves(spark):  # noqa: F811
    """The reassembly exchange feeds the CPU-bound parse stage, so its
    partition count is explicit and a multiple of the session's cores:
    AQE's byte-sized coalescing must not pack that stage into fewer
    tasks than cores, or one task more than a whole wave (measured at
    sf0.02 on 4 cores: 5 tasks, two waves, 1.98 s; 4 tasks, 1.38 s)."""
    import uuid

    from raptor_spark.pipeline import build_graph
    from raptor_spark.sources.transcripts import materialize_transcripts

    sc = spark.sparkContext
    path = materialize_transcripts(spark, "/root/testdata/sf0.001")
    triples, _errors = build_graph(spark.read.parquet(path))
    group = "waves-%s" % uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        assert triples.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    # the last stage is the result stage: reassembly read -> parse
    parse_tasks = tracker.getStageInfo(max(stages)).numTasks
    cores = sc.defaultParallelism
    assert parse_tasks and parse_tasks % cores == 0, (parse_tasks, cores)
    final = triples._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "coalesced" not in final, final
