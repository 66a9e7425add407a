"""Canonicalization + dedup column operators.

Pure column expressions (whole-stage-codegen friendly): the bnode relabel
and the graph-materialization dedup, the Spark analogue of the abbrev
serializers' AVL-tree duplicate check (src/raptor_abbrev.c:354-397). The
term algebra the reference applies at construction time
(src/raptor_term.c:150-260) runs in the parse kernel, kernel/terms.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.kernel.terms import KIND_BLANK


def relabel_bnodes(triples: DataFrame) -> DataFrame:
    """Make document-scoped bnode labels globally unique: ``_:x`` in
    conversation C becomes ``_:C.x``.

    Deterministic (same input -> same labels, task retries safe — the
    reason we never use monotonically_increasing_id) and SQL-reproducible
    so oracles can reconstruct labels.
    """

    def rl(col):
        return F.when(
            col.startswith("_:"),
            F.concat(
                F.lit("_:"), F.col("conv_id"), F.lit("."), F.substring(col, 3, 2**30)
            ),
        ).otherwise(col)

    return (
        triples.withColumn("subj", rl(F.col("subj")))
        .withColumn("graph", rl(F.col("graph")))
        .withColumn(
            "obj_lex",
            F.when(
                F.col("obj_kind") == KIND_BLANK,
                F.concat(F.col("conv_id"), F.lit("."), F.col("obj_lex")),
            ).otherwise(F.col("obj_lex")),
        )
    )


def dedup_statements(
    triples: DataFrame, global_dedup: bool = False, salt_buckets: int = 0
) -> DataFrame:
    """Statement dedup on the logical term columns (equality on them is
    exactly term equality after canonicalization — the reference compares
    terms the same way, src/raptor_term.c:655-798).

    Per-conversation by default (bnode labels are conv-scoped); pass
    ``global_dedup=True`` after :func:`relabel_bnodes` for whole-graph
    materialization.

    ``salt_buckets > 0`` forces an explicit two-phase aggregation
    (partial dedup on (salt, key) then final) for skewed hub keys — the
    manual analogue of AQE skew handling; with AQE on, Spark's
    hash-aggregate is already two-phase, so the default path just uses
    dropDuplicates.
    """
    term_keys = [
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang",
        "graph",
    ]
    keys = term_keys if global_dedup else ["conv_id"] + term_keys
    if salt_buckets and salt_buckets > 1:
        # the salt must be KEY-INDEPENDENT: a salt derived from the
        # dedup keys gives every copy of a duplicate the SAME salt, so
        # the hub key re-concentrates on one reducer and the "spread"
        # is a structural no-op that just adds a second shuffle. The
        # partition id spreads a hub key's copies across the input
        # partitions that carry them; the partial pass leaves at most
        # salt_buckets survivors per key for the final dedup.
        salted = triples.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
        )
        partial = salted.dropDuplicates(["_salt"] + keys)
        return partial.dropDuplicates(keys).drop("_salt")
    return triples.dropDuplicates(keys)
