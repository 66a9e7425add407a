"""Distributed serializer operators (the sink side of the engine).

Two paths, mirroring the reference's serializer split
(src/raptor_serialize.c registry):

- **Streaming, stateless** (ntriples/nquads — one line per statement,
  src/raptor_serialize_ntriples.c): a pure column expression over the
  canonical ``*_nt`` term renderings the parse stage already produced.
  Stays entirely in whole-stage codegen; ``df.write.text`` scales it to
  any cluster size with no shuffle at all.

- **Buffered, per-document** (turtle/trig/rdfxml/json/dot/html — the
  abbreviating writers buffer a whole graph, grouped by subject:
  src/raptor_serialize_turtle.c:1388-1497): one shuffle on the grouping
  key (a ``collect_list`` aggregation), then a map-only Arrow stage
  that runs the pure-Python writer kernel for thousands of
  conversations per batch. Documents are independent, so this
  scales linearly with partitions — the Spark analogue of "the abbrev
  serializer buffers one model per output document".
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.kernel import serialize as K
from raptor_spark.kernel.terms import Triple

_WRITERS = {
    "ntriples": K.to_ntriples,
    "nquads": K.to_nquads,
    "turtle": K.to_turtle,
    "trig": K.to_trig,
    "rdfxml": K.to_rdfxml,
    "json": K.to_json,
    "dot": K.to_dot,
    "html": K.to_html,
    "mkr": K.to_mkr,
}


def _nt_line_fn(
    subj: pd.Series,
    pred: pd.Series,
    obj_kind: pd.Series,
    obj_lex: pd.Series,
    obj_datatype: pd.Series,
    obj_lang: pd.Series,
    graph: pd.Series,
) -> pd.Series:
    from raptor_spark.kernel.terms import (
        escape_nt_uri,
        nt_render_term,
        render_subjlike,
    )

    # null subj marks a row routed to the column fast path (nt_lines_df
    # nulls the kernel inputs for clean rows so nothing rides the Arrow
    # batch for them); real triples always have a subject
    # positional (iloc-style) iteration: Arrow batches normally carry a
    # RangeIndex, but label-based setitem would append rows if one ever
    # didn't, so never rely on index alignment here
    vals = [None] * len(subj)
    todo = subj.notna().to_numpy().nonzero()[0]
    if len(todo):
        sv, pv = subj.to_numpy(), pred.to_numpy()
        okv, olv = obj_kind.to_numpy(), obj_lex.to_numpy()
        odv, ogv, gv = (
            obj_datatype.to_numpy(), obj_lang.to_numpy(), graph.to_numpy()
        )
        for i in todo:
            od, og, g = odv[i], ogv[i], gv[i]
            parts = [
                render_subjlike(sv[i]),
                "<" + escape_nt_uri(pv[i]) + ">",
                nt_render_term(
                    int(okv[i]), olv[i],
                    None if od is None else od,
                    None if og is None else og,
                ),
            ]
            if g is not None:
                parts.append(render_subjlike(g))
            vals[i] = " ".join(parts) + " ."
    return pd.Series(vals, dtype=object, index=subj.index)


_nt_line_udf_cached = None


def _nt_line_udf():
    # created lazily: registering a pandas_udf at import time would break
    # this module's import inside Python workers (no JVM gateway there)
    global _nt_line_udf_cached
    if _nt_line_udf_cached is None:
        _nt_line_udf_cached = F.pandas_udf(_nt_line_fn, "string")
    return _nt_line_udf_cached


def nt_lines(triples: DataFrame, with_graph: bool = True):
    """Canonical N-Triples/N-Quads line column (kernel path, all rows
    through the Python writer). Kept for callers that need a single
    column expression; the sink fast path is ``nt_lines_df``."""
    g = F.col("graph") if with_graph else F.lit(None).cast("string")
    return _nt_line_udf()(
        F.col("subj"), F.col("pred"), F.col("obj_kind"), F.col("obj_lex"),
        F.col("obj_datatype"), F.col("obj_lang"), g,
    )


# Fast-path eligibility: the columnar renderer handles exactly the rows
# whose every component needs no \uXXXX/\UXXXXXXXX escape — for literals
# that is printable ASCII plus TAB/LF/CR (handled by replace), for URIs
# printable ASCII minus the SPARQL-forbidden set (which the kernel
# escapes). Everything else falls back to the kernel writer, keeping the
# accepted output byte-identical to nt_render_statement for all rows.
_LIT_CLEAN = r"^[\t\n\r\x20-\x7E]*$"
_URI_CLEAN = r"^[\x21-\x7E]*$"
_URI_BAD = r'[<>"{}|^`\\]'


def _uri_clean(c):
    return c.rlike(_URI_CLEAN) & ~c.rlike(_URI_BAD)


def _subjlike_clean(c):
    return c.startswith("_:") | _uri_clean(c)


def _subjlike_render(c):
    return F.when(c.startswith("_:"), c).otherwise(F.concat(F.lit("<"), c, F.lit(">")))


def _lit_escape(c):
    # backslash first; later replacements only ever introduce backslashes
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                 ("\r", "\\r"), ("\t", "\\t")):
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def nt_lines_df(
    triples: DataFrame, with_graph: bool = True, extra_cols: tuple = ()
) -> DataFrame:
    """Render N-Triples/N-Quads lines with a pure-column fast path.

    The overwhelming majority of real-corpus rows are ASCII-clean; those
    render entirely inside whole-stage codegen (concat/replace — no
    Python work and null-only Arrow traffic). Only rows containing
    characters that need \\u escapes carry their term values into the
    kernel pandas UDF: the UDF's inputs are nulled for clean rows (a
    null bitmap in the Arrow batch, not string payload) and the UDF
    renders just the non-null minority. ONE source scan, one projection
    — the earlier formulation unioned two complementary filters, which
    read the source twice (a double read at corpus scale).

    Returns a DataFrame of ``extra_cols + (nt_line,)``.
    """
    s, p = F.col("subj"), F.col("pred")
    ok, ol = F.col("obj_kind"), F.col("obj_lex")
    od, og = F.col("obj_datatype"), F.col("obj_lang")
    from raptor_spark.kernel.terms import KIND_BLANK, KIND_LITERAL, KIND_URI

    obj_clean = (
        F.when(ok == KIND_URI, _uri_clean(ol))
        .when(ok == KIND_BLANK, F.lit(True))
        .otherwise(
            ol.rlike(_LIT_CLEAN) & (od.isNull() | _uri_clean(od))
        )
    )
    clean = _subjlike_clean(s) & _uri_clean(p) & obj_clean
    if with_graph:
        clean = clean & (F.col("graph").isNull() | _subjlike_clean(F.col("graph")))
    clean = F.coalesce(clean, F.lit(False))

    # lang/datatype gate on NON-EMPTINESS, not just non-null: the kernel
    # renderer (nt_render_term) tests truthiness, so an empty-string
    # obj_lang/obj_datatype renders NOTHING there — gating on isNotNull
    # alone would emit invalid '@' / '^^<>' on the fast path and break
    # the byte-identical contract with the kernel path
    has_lang = og.isNotNull() & (og != F.lit(""))
    has_dt = od.isNotNull() & (od != F.lit(""))
    lit = F.concat(
        F.lit('"'),
        _lit_escape(ol),
        F.lit('"'),
        F.when(has_lang, F.concat(F.lit("@"), og)).otherwise(F.lit("")),
        F.when(has_dt, F.concat(F.lit("^^<"), od, F.lit(">"))).otherwise(
            F.lit("")
        ),
    )
    obj = (
        F.when(ok == KIND_URI, F.concat(F.lit("<"), ol, F.lit(">")))
        .when(ok == KIND_BLANK, F.concat(F.lit("_:"), ol))
        .otherwise(lit)
    )
    fast = F.concat(
        _subjlike_render(s), F.lit(" "),
        F.concat(F.lit("<"), p, F.lit(">")), F.lit(" "),
        obj,
        (
            F.when(
                F.col("graph").isNotNull(),
                F.concat(F.lit(" "), _subjlike_render(F.col("graph"))),
            ).otherwise(F.lit(""))
            if with_graph
            else F.lit("")
        ),
        F.lit(" ."),
    )
    extras = [F.col(c) for c in extra_cols]
    # stage `clean` (and the fast rendering) as aliases in their own
    # projection: each is referenced several times downstream, and
    # inlining them would re-evaluate the ~8-regex predicate once per
    # gated UDF input (measured 40x slower); Catalyst keeps multiply-
    # referenced non-cheap aliases in a separate project
    g = F.col("graph") if with_graph else F.lit(None).cast("string")
    staged = triples.select(
        *extras, s, p, ok, ol, od, og, g.alias("_g"),
        clean.alias("_clean"), fast.alias("_fast"),
    )
    cl = F.col("_clean")
    gate = lambda c: F.when(~cl, c)  # null for clean rows
    slow = _nt_line_udf()(
        gate(s), gate(p), gate(ok), gate(ol), gate(od), gate(og),
        gate(F.col("_g")),
    )
    return staged.select(
        *extras, F.when(cl, F.col("_fast")).otherwise(slow).alias("nt_line")
    )


_TRIPLE_STRUCT = ("subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
                  "obj_lang", "graph")


def _grouped_triples(triples: DataFrame, group_col: str) -> DataFrame:
    """(group, ts: array<struct>) — one row per document group. The
    buffered writers consume this instead of applyInPandas-per-key:
    at corpus scale the per-key pandas-frame + function-call overhead
    (one invocation per conversation) dominates the actual writer
    kernels; collect_list + mapInPandas batches thousands of groups
    per Arrow batch with the SAME single shuffle."""
    return (
        triples.select(
            group_col,
            F.struct(*_TRIPLE_STRUCT).alias("t"),
        )
        .groupBy(group_col)
        .agg(F.collect_list("t").alias("ts"))
    )


def _batch_triple_lists(rb):
    """Arrow batch (group, ts: list<struct>) -> (groups, per-group Triple
    lists) via COLUMNAR extraction: seven field-array to_pylist calls and
    one zip, instead of materializing a Python dict per struct (the
    mapInPandas conversion paid ~3.7 us/triple for those dicts — on par
    with the writer kernel itself)."""
    from itertools import islice

    import pyarrow.compute as pc

    groups = rb.column(0).to_pylist()
    lst = rb.column(1)
    lens = pc.list_value_length(lst).to_pylist()
    flat = lst.flatten()
    if len(flat) != sum(lens):  # non-contiguous list layout: safe fallback
        tls = [
            [Triple(*t.values()) for t in row]
            for row in lst.to_pylist()
        ]
        return groups, tls
    cols = [flat.field(i).to_pylist() for i in range(7)]
    made = map(Triple._make, zip(*cols))
    tls = [list(islice(made, n)) for n in lens]
    return groups, tls


def _writer_stage(
    triples: DataFrame, group_col: str, out_fields, per_group
) -> DataFrame:
    """Shared buffered-writer stage: ONE shuffle (the collect_list
    grouping) then a map-only mapInArrow stage that extracts each batch
    columnar (see _batch_triple_lists) and applies ``per_group`` to every
    group's Triple list. ``out_fields`` is [(name, pa_type, schema_str)]
    for the produced columns after the group key."""
    import pyarrow as pa

    out_schema = "%s string, %s" % (
        group_col,
        ", ".join("%s %s" % (n, s) for n, _t, s in out_fields),
    )
    pa_types = [pa.string()] + [t for _n, t, _s in out_fields]

    multi = len(out_fields) > 1

    def run(batches):
        for rb in batches:
            groups, tls = _batch_triple_lists(rb)
            res = [per_group(tl) for tl in tls]
            arrays = [pa.array(groups, pa_types[0])]
            if multi:  # per_group returns one tuple per output column
                for i, t in enumerate(pa_types[1:]):
                    arrays.append(pa.array([r[i] for r in res], t))
            else:
                arrays.append(pa.array(res, pa_types[1]))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[group_col] + [n for n, _t, _s in out_fields]
            )

    return _grouped_triples(triples, group_col).mapInArrow(
        run, schema=out_schema
    )


def serialize_documents(
    triples: DataFrame, fmt: str, group_col: str = "conv_id"
) -> DataFrame:
    """(group, triples...) -> (group, payload): one serialized document
    per group via the buffered writer kernels. One shuffle (the group
    aggregation), then a map-only Arrow stage that runs the writer for
    thousands of groups per batch (see _writer_stage)."""
    import pyarrow as pa

    writer = _WRITERS[fmt]
    return _writer_stage(
        triples, group_col, [("payload", pa.string(), "string")], writer
    )


def _roundtrip_count(doc: str, fmt: str) -> int:
    """Statement count recovered from a serialized document: reparse for
    the parseable formats, structural line counts for the display-only
    ones (dot: one edge per statement; html: one table row). -1 signals
    reparse errors so a broken writer can never hash-match the oracle."""
    import re

    if fmt in ("turtle", "trig"):
        from raptor_spark.kernel import turtle as T

        back, errs = T.parse_document(
            doc, base_uri="http://roundtrip/", trig=(fmt == "trig")
        )
    elif fmt in ("rdfxml", "rdfxml-abbrev"):
        from raptor_spark.kernel import rdfxml as X

        back, errs = X.parse_document(doc, base_uri="http://roundtrip/")
    elif fmt == "json":
        from raptor_spark.kernel import rdfjson as J

        back, errs = J.parse_document(doc)
    elif fmt in ("ntriples", "nquads"):
        from raptor_spark.kernel import ntriples as N

        back, errs = N.parse_document(doc, is_nquads=(fmt == "nquads"))
    elif fmt == "dot":
        return len(re.findall(r'^\t"[rbl]\d+" -> "', doc, re.M))
    elif fmt == "html":
        return doc.count('<tr class="triple">')
    else:
        raise ValueError("unknown roundtrip format %r" % fmt)
    return -1 if errs else len(set(back))


_RT_WRITERS = dict(_WRITERS)
_RT_WRITERS["rdfxml-abbrev"] = K.to_rdfxml_abbrev


def rss10_roundtrip_stats(
    triples: DataFrame, group_col: str = "conv_id"
) -> DataFrame:
    """Serialize each feed graph as RSS 1.0 (kernel/atom.py
    Rss10Serializer, the is_atom==0 mode of src/raptor_serialize_rss.c),
    reparse with the rss-tag-soup kernel, and report whether the
    roundtrip was lossless. Feed models produced by the rss parser
    itself stay inside the serializer's lossless subset (fields +
    items rdf:Seq + typed nodes), so for this corpus the oracle pins
    lossless = true and n_out == n_in. One shuffle on the feed key,
    then Arrow-batched per-feed kernels — identical scaling shape to
    the other buffered writers."""

    import pyarrow as pa

    def one(tl):
        from raptor_spark.kernel import rss as R
        from raptor_spark.kernel.atom import to_rss10
        from raptor_spark.kernel.compare import graphs_isomorphic

        n_in = len(set(tl))
        try:
            xml = to_rss10(tl)
            back, errs = R.parse_document(xml, base_uri="http://roundtrip/")
            ok = (not errs) and graphs_isomorphic(tl, back)
            n_out = -1 if errs else len(set(back))
        except ValueError:
            ok, n_out = False, -1
        return n_in, n_out, bool(ok)

    return _writer_stage(
        triples,
        group_col,
        [
            ("n_in", pa.int64(), "long"),
            ("n_out", pa.int64(), "long"),
            ("lossless", pa.bool_(), "boolean"),
        ],
        one,
    )


def serialize_bytes(
    triples: DataFrame, fmt: str = "turtle", group_col: str = "conv_id"
) -> DataFrame:
    """WRITER-ONLY stage: serialize each group in ``fmt`` and return
    (group, n_bytes) — same shuffle + batched Arrow stage as
    serialize_roundtrip_counts but WITHOUT the verification reparse.
    The bench times this separately so serializer regressions are
    visible apart from the (roughly equal-cost) roundtrip harness."""
    import pyarrow as pa

    writer = _RT_WRITERS[fmt]
    return _writer_stage(
        triples,
        group_col,
        [("n_bytes", pa.int64(), "long")],
        lambda tl: len(writer(tl).encode("utf-8")),
    )


def serialize_roundtrip_counts(
    triples: DataFrame, fmt: str = "trig", group_col: str = "conv_id"
) -> DataFrame:
    """Serialize each group in ``fmt``, reparse (or structurally count),
    count statements — the distributed form of the reference's
    check-turtle-serialize harness (rapper -o <fmt> | rdfdiff). Returns
    (group, n_triples); a relational oracle over the source tables pins
    the expected count per group."""
    import pyarrow as pa

    writer = _RT_WRITERS[fmt]
    return _writer_stage(
        triples,
        group_col,
        [("n_triples", pa.int64(), "long")],
        lambda tl: _roundtrip_count(writer(tl), fmt),
    )
