"""Document -> triples extraction as an Arrow-batched mapInArrow operator.

The Spark seam for the reference's parser factories
(src/raptor_parse.c:164-256): each reassembled document row is dispatched
to the matching pure-Python kernel (N-Triples / N-Quads / Turtle / TriG /
RDF/XML / RDF/JSON) and exploded into triple rows. One Python worker call
per Arrow batch — never per row; per-document work is independent so the
operator scales linearly with partitions.

Output is a single DataFrame carrying both triples and parse errors
(``rec`` = 't' | 'e'), so one pass over the input feeds both the graph
and the error side-channel. Only the logical term columns cross the
Arrow boundary — canonical N-Triples rendering happens at the sink
(operators/serialize.py), keeping bytes-per-triple minimal on the hot
path (the scale-relevant cost is Arrow transfer + shuffle width, not
parse CPU).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.kernel import ntriples as _nt
from raptor_spark.kernel import turtle as _ttl
from raptor_spark.kernel.terms import Triple

TRIPLES_SCHEMA = (
    "conv_id string, rec string, subj string, pred string, obj_kind int, "
    "obj_lex string, obj_datatype string, obj_lang string, graph string, "
    "src_format string, error_line int, error_message string"
)

#: Arrow mirror of TRIPLES_SCHEMA — mapInArrow builds output batches
#: directly (pa.RecordBatch.from_arrays from the kernel's Python lists),
#: skipping the pandas intermediate a mapInPandas return path pays
#: (object-dtype frame construction + from_pandas re-conversion:
#: measured ~6.9x slower than direct Arrow for a 1M-row triple batch).
_PA_TRIPLES_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("rec", pa.string()),
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj_kind", pa.int32()),
        ("obj_lex", pa.string()),
        ("obj_datatype", pa.string()),
        ("obj_lang", pa.string()),
        ("graph", pa.string()),
        ("src_format", pa.string()),
        ("error_line", pa.int32()),
        ("error_message", pa.string()),
    ]
)


def parse_one(
    text: str,
    fmt: str,
    base_uri: Optional[str] = None,
    mime_type: Optional[str] = None,
    identifier: Optional[str] = None,
    fetch=None,
):
    """Parse one document; returns (triples, errors). Format dispatch per
    the reference's parser registry, including its name ALIASES
    ('ntriples-plus'/'n3' -> turtle, src/turtle_parser.y:1860; 'raptor'
    -> rdfxml, src/raptor_rdfxml.c:3181). 'guess' scores MIME type and
    identifier suffix ahead of content when either is supplied
    (kernel.guess.guess_parser_name, the reference's
    raptor_world_guess_parser_name); content-only rows fall back to
    guess_format, which — like the reference's guess PARSER — always
    routes to a workable kernel rather than failing on low scores."""
    if fmt == "guess":
        if mime_type or identifier:
            from raptor_spark.kernel.guess import guess_parser_name

            fmt = guess_parser_name(
                text, mime_type=mime_type, identifier=identifier
            ) or guess_format(text)
        else:
            fmt = guess_format(text)
    if fmt in ("rdfa", "rdfa10", "rdfa11"):
        from raptor_spark.kernel import rdfa as _ra

        # parser-name version pins per the reference's factory names
        # (src/raptor_librdfa.c:78-83,352): "rdfa" sniffs the version
        # from the document, "rdfa10"/"rdfa11" force it
        version = {"rdfa": 0, "rdfa10": 10, "rdfa11": 11}[fmt]
        return _ra.parse_document(text, base_uri=base_uri, version=version)
    if fmt == "grddl":
        from raptor_spark.kernel import grddl as _gr

        # ``fetch`` resolves the document's <link> hrefs; defaults to
        # the strong-noNet local-file fetcher (kernel/grddl.py)
        return _gr.parse_document(text, base_uri=base_uri, fetch=fetch)
    # remaining registered alias names (ntriples-plus/n3 -> turtle,
    # raptor -> rdfxml; the rdfa10/rdfa11 aliases are version-forcing
    # and already dispatched above) resolve through the factory table
    from raptor_spark.kernel.guess import ALIASES

    fmt = ALIASES.get(fmt, fmt)
    if fmt == "ntriples":
        return _nt.parse_document(text, is_nquads=False)
    if fmt == "nquads":
        return _nt.parse_document(text, is_nquads=True)
    if fmt == "turtle":
        return _ttl.parse_document(text, base_uri=base_uri, trig=False)
    if fmt == "trig":
        return _ttl.parse_document(text, base_uri=base_uri, trig=True)
    if fmt == "rdfxml":
        from raptor_spark.kernel import rdfxml as _rx

        return _rx.parse_document(text, base_uri=base_uri)
    if fmt == "json":
        from raptor_spark.kernel import rdfjson as _rj

        return _rj.parse_document(text)
    if fmt == "rss-tag-soup":
        from raptor_spark.kernel import rss as _rss

        return _rss.parse_document(text, base_uri=base_uri)
    return [], [{"line": 0, "message": "unknown format %r" % fmt}]


def guess_format(text: str) -> str:
    """Content sniffing (reference: raptor_guess.c:117-183 + per-parser
    recognise_syntax scorers, e.g. src/ntriples_parse.c:595-670)."""
    import re

    head = text[:2048]
    stripped = head.lstrip()
    if (
        "-//W3C//DTD XHTML+RDFa 1.0//EN" in head
        or "http://www.w3.org/MarkUp/DTD/xhtml-rdfa-1.dtd" in head
    ):
        # the reference's rdfa recogniser outscores rdfxml exactly on
        # these two DTD markers (src/raptor_librdfa.c:327-349)
        return "rdfa"
    if stripped.startswith("<?xml") or "<rdf:RDF" in head:
        return "rdfxml"
    # RDF/JSON may open with /* */ or // comments (YAJL comment mode)
    json_head = stripped
    while json_head.startswith("/*") or json_head.startswith("//"):
        if json_head.startswith("/*"):
            end = json_head.find("*/")
            json_head = json_head[end + 2 :].lstrip() if end >= 0 else ""
        else:
            nl = json_head.find("\n")
            json_head = json_head[nl + 1 :].lstrip() if nl >= 0 else ""
    if json_head.startswith("{"):
        return "json"
    has_directive = bool(re.search(r"(?mi)^\s*(@prefix|@base|prefix\s|base\s)", head))
    has_braces = re.search(r"(?m)(^|\s|>)\{", head) is not None
    if has_braces:
        return "trig"
    # 4-term lines => nquads; 3-term <..> lines => ntriples
    if not has_directive:
        if re.search(
            r'(?m)^\s*(<[^>]*>|_:\S+)\s+<[^>]*>\s+("(?:[^"\\]|\\.)*"\S*|<[^>]*>|_:\S+)'
            r"\s+(<[^>]*>|_:\S+)\s*\.",
            head,
        ):
            return "nquads"
        if re.search(
            r'(?m)^\s*(<[^>]*>|_:\S+)\s+<[^>]*>\s+("(?:[^"\\]|\\.)*"\S*|<[^>]*>|_:\S+)'
            r"\s*\.",
            head,
        ):
            return "ntriples"
    return "turtle"


def rebalance_for_parse(
    df: DataFrame, min_parallelism: Optional[int] = None
) -> DataFrame:
    """Round-robin repartition a CPU-bound stage's input up to the
    session's core count when the scan planned fewer splits.

    Parquet sizes scan splits by BYTES (spark.sql.files.maxPartitionBytes),
    but a parse UDF — or a per-token JVM expansion like shingle explode +
    minhash lanes — costs orders of magnitude more CPU per byte than a
    relational stage, so a small columnar input (one ~300KB file -> ONE
    split) serializes the whole stage onto a single core no
    matter how many the cluster has. Rebalancing is a one-pass shuffle of
    the NARROW pre-synthesis columns — call this on the scan BEFORE
    attaching/deriving wide payload columns, and only when the planned
    partition count is actually below the target (a 100 TB input already
    carries thousands of splits; repartitioning it would be a wasted
    full-input exchange). ``df.repartition(n)`` with an explicit count is
    exempt from AQE partition coalescing, so the advisory-size logic that
    is right for relational stages cannot re-serialize this one.
    ``df`` is a scan: its split count is read through ``df.rdd``, which
    runs nothing for a scan (``whole_waves`` sizes a shuffled input)."""
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def whole_waves(df: DataFrame) -> int:
    """Partition count for a CPU-bound Python stage fed by a shuffle of
    ``df``'s rows: a nonzero multiple of ``defaultParallelism``.

    This is AQE's own sizing for a shuffle (one partition per core until
    partitions reach ``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
    never more than the shuffle partition setting) made whole-wave: one
    wave per ``cores x advisory`` bytes of ``df``'s planned size, at
    most the whole waves that fit in that setting. An explicit count is
    exempt from AQE coalescing, which sizes by bytes alone and leaves a
    Python stage one ragged task past a whole wave (5 tasks on 4 cores:
    two waves for ~1.25 waves of work).

    The size is the optimized plan's estimate, so nothing runs here,
    whatever ``df`` is: reading a partition count through ``df.rdd``
    would run the exchanges of an adaptive or cached input's plan while
    the caller is still planning. For a file scan the estimate is the
    files' size (compressed, so below the bytes AQE would measure); an
    input with no estimate gets the cap. ``rebalance_for_parse`` is the
    one-wave scan side of the same rule (no exchange in front of the
    stage)."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = conf.getConf(sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES())
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    waves = -(-int(size) // (cores * advisory))
    cap = max(1, conf.numShufflePartitions() // cores)
    return min(max(1, waves), cap) * cores


def parse_documents(
    docs: DataFrame,
    base_uri_col: Optional[str] = None,
    dedup_per_doc: bool = False,
    mime_col: Optional[str] = None,
    identifier_col: Optional[str] = None,
    resources_col: Optional[str] = None,
) -> DataFrame:
    """(conv_id, doc_text, tool[, base_uri]) -> triples/errors rows.

    ``dedup_per_doc=True`` suppresses duplicate statements within each
    document in Python (insertion-ordered, first occurrence wins) — the
    reference's per-document duplicate check
    (src/raptor_abbrev.c:354-397) done where the whole document is
    already in hand, so graph materialization needs no dedup shuffle at
    all.

    ``mime_col``/``identifier_col`` feed rows whose ``tool`` is
    'guess' through the full scorer (kernel.guess.guess_parser_name —
    MIME and suffix ahead of content, like the reference's guess
    parser, which receives Content-Type + identifier alongside the
    bytes, src/raptor_guess.c:85-145).

    ``resources_col`` names a ``map<string,string>`` column of absolute
    URI -> payload used to resolve 'grddl' rows' <link> hrefs — a
    crawl-bundle layout (linked resources co-partitioned with their
    page, WARC-style) that keeps GRDDL recursion map-only: no row ever
    fetches outside its own bundle (the strong form of the reference's
    noNet option, kernel/grddl.py)."""
    has_base = base_uri_col is not None and base_uri_col in docs.columns
    has_mime = mime_col is not None and mime_col in docs.columns
    has_ident = identifier_col is not None and identifier_col in docs.columns
    has_res = resources_col is not None and resources_col in docs.columns
    cols = ["conv_id", "doc_text", "tool"] + ([base_uri_col] if has_base else [])
    cols += [mime_col] if has_mime else []
    cols += [identifier_col] if has_ident else []
    cols += [resources_col] if has_res else []
    src = docs.select(*cols)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # each document's triples are transposed into the seven term
            # columns as soon as it is parsed (zip(*...) is C-level):
            # a batch's worth of live Triple tuples made CPython's cyclic
            # GC rescan them on every collection (sf0.01, 225k triples in
            # two batches: 5 gen-2 passes and 1.85 CPU s; none and 1.6 s
            # with per-document columns)
            terms: tuple = ([], [], [], [], [], [], [])
            t_conv: list = []
            t_fmt: list = []
            e_conv: list = []
            e_fmt: list = []
            e_line: list = []
            e_msg: list = []
            conv_a = rb.column("conv_id").to_pylist()
            text_a = rb.column("doc_text").to_pylist()
            tool_a = rb.column("tool").to_pylist()
            base_a = rb.column(base_uri_col).to_pylist() if has_base else None
            mime_a = rb.column(mime_col).to_pylist() if has_mime else None
            ident_a = (
                rb.column(identifier_col).to_pylist() if has_ident else None
            )
            res_a = rb.column(resources_col).to_pylist() if has_res else None
            for i, (conv, text, fmt) in enumerate(
                zip(conv_a, text_a, tool_a)
            ):
                base = base_a[i] if base_a is not None else None
                fetch = None
                if res_a is not None and res_a[i] is not None:
                    r = res_a[i]
                    # Arrow map columns arrive as [(k, v), ...]
                    bundle = r if isinstance(r, dict) else dict(r)
                    fetch = bundle.get
                try:
                    tl, errors = parse_one(
                        text, fmt, base,
                        mime_type=mime_a[i] if mime_a is not None else None,
                        identifier=(
                            ident_a[i] if ident_a is not None else None
                        ),
                        fetch=fetch,
                    )
                except Exception as e:  # one bad doc must not kill a batch
                    tl, errors = [], [
                        {"line": 0, "message": "internal: %r" % e}
                    ]
                if dedup_per_doc and tl:
                    tl = list(dict.fromkeys(tl))
                if tl:
                    for col, vals in zip(terms, zip(*tl)):
                        col.extend(vals)
                    t_conv.extend([conv] * len(tl))
                    t_fmt.extend([fmt] * len(tl))
                for er in errors:
                    e_conv.append(conv)
                    e_fmt.append(fmt)
                    e_line.append(er.get("line", 0))
                    e_msg.append(er.get("message"))
            s = _PA_TRIPLES_SCHEMA
            if t_conv:
                subj, pred, ok, ol, od, og, g = terms
                n = len(t_conv)
                none = [None] * n
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(t_conv, pa.string()),
                        pa.array(["t"] * n, pa.string()),
                        pa.array(subj, pa.string()),
                        pa.array(pred, pa.string()),
                        pa.array(ok, pa.int32()),
                        pa.array(ol, pa.string()),
                        pa.array(od, pa.string()),
                        pa.array(og, pa.string()),
                        pa.array(g, pa.string()),
                        pa.array(t_fmt, pa.string()),
                        pa.array(none, pa.int32()),
                        pa.array(none, pa.string()),
                    ],
                    schema=s,
                )
            if e_conv:
                m = len(e_conv)
                none = [None] * m
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(e_conv, pa.string()),
                        pa.array(["e"] * m, pa.string()),
                        pa.array(none, pa.string()),
                        pa.array(none, pa.string()),
                        pa.array(none, pa.int32()),
                        pa.array(none, pa.string()),
                        pa.array(none, pa.string()),
                        pa.array(none, pa.string()),
                        pa.array(none, pa.string()),
                        pa.array(e_fmt, pa.string()),
                        pa.array(e_line, pa.int32()),
                        pa.array(e_msg, pa.string()),
                    ],
                    schema=s,
                )

    return src.mapInArrow(run, schema=TRIPLES_SCHEMA)


def triples_of(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("rec") == "t").drop(
        "rec", "error_line", "error_message"
    )


def errors_of(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("rec") == "e").select(
        "conv_id", "src_format", "error_line", "error_message"
    )
