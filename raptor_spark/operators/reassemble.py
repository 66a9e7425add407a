"""Turn reassembly: transcripts -> one document row per conversation.

The reference consumes documents as a byte stream
(raptor_parser_parse_chunk, src/raptor_parse.c:479-487); our documents
arrive as shuffled turns, so the equivalent operator is an aggregation that
restores ``turn_idx`` order and concatenates ``text``. All JVM-native, no
Python: the sort happens inside each group via ``array_sort`` over
(turn_idx, text) structs, never a global orderBy.

The one shuffle is an explicit hash repartition on conv_id, and the
groupBy reuses its partitioning. Its output feeds the CPU-bound parse
stage, which costs orders of magnitude more per shuffled byte than a
relational stage, so the partition count is set for that stage: whole
waves of ``defaultParallelism``, one per ``cores x advisory partition
size`` of the input's planned size, at most the shuffle partition
setting (operators/parse.whole_waves). An explicit count is exempt from
AQE coalescing, which sizes partitions by bytes alone and left the parse
stage one task over a whole wave (5 tasks on 4 cores: two waves for
~1.25 waves of work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.operators.parse import whole_waves

_SORTED_TEXTS = (
    "transform(array_sort(collect_list(struct(turn_idx, text))), s -> s.text)"
)


def reassemble(transcripts: DataFrame, extra_cols=("tool",)) -> DataFrame:
    """transcripts -> (conv_id, doc_text, n_turns, *extra_cols).

    ``extra_cols`` are per-conversation constants (format tag, base_uri)
    carried through with ``min`` (their value is identical on every turn).
    """
    aggs = [
        F.concat_ws("", F.expr(_SORTED_TEXTS)).alias("doc_text"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
    ]
    for c in extra_cols:
        aggs.append(F.min(c).alias(c))
    turns = transcripts.select("conv_id", "turn_idx", "text", *extra_cols)
    return (
        turns.repartition(whole_waves(turns), "conv_id")
        .groupBy("conv_id")
        .agg(*aggs)
    )
