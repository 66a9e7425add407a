"""Operator catalog: (spark query, DuckDB oracle) pairs.

Each entry re-expresses one operator from SURVEY.md §2 (or a training-data
pipeline operator) over the driver's parquet tables, with an ANSI/DuckDB
oracle producing identical rows — identical column names, integer/string
types wherever possible, floats stabilized before comparison.

Conventions:
- every computed column aliased the same in Spark and SQL;
- deterministic tie-breaks on every rank/order;
- relational operators are pure column expressions (whole-stage codegen);
  Python appears only as Arrow-batched kernels where the work is
  genuinely non-relational (the parse kernels inside kg_*, the
  serializer kernels, the stubbed media codecs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession

from raptor_spark.operators.parse import (
    rebalance_for_parse as _rebalance,  # CPU-bound-stage split fix
)
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# --------------------------------------------------------------------------
# flagship: whole-engine E2E (transcripts -> reassemble -> parse -> triples)
# --------------------------------------------------------------------------


def q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG-construction pipeline over RDF-ized TPC-H transcripts.

    The oracle reconstructs the expected triple set relationally — this
    checks reassembly, all four parse kernels, canonicalization, bnode
    relabeling and dedup end-to-end.
    """
    from raptor_spark.pipeline import build_graph
    from raptor_spark.sources.transcripts import tpch_transcripts

    transcripts = tpch_transcripts(spark, sf_dir)
    triples, _errors = build_graph(transcripts)
    return triples.select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph"
    )


_KG_ORACLE = """
WITH fmt AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         o_orderpriority AS pr,
         o_custkey AS c,
         CASE WHEN o_orderkey % 10 IN (8, 9)
              THEN 'http://ex.org/graph/' || o_orderkey END AS graph
  FROM orders
),
li AS (
  SELECT l_orderkey AS k,
         'ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn,
         '_:ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn_subj,
         l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
)
SELECT 'http://ex.org/order/' || k AS subj,
       'http://ex.org/ns#status' AS pred,
       2 AS obj_kind, st AS obj_lex,
       CAST(NULL AS VARCHAR) AS obj_datatype,
       CAST(NULL AS VARCHAR) AS obj_lang, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || k, 'http://ex.org/ns#priority', 2, pr,
       NULL, NULL, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || k, 'http://ex.org/ns#customer', 1,
       'http://ex.org/customer/' || c, NULL, NULL, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || li.k, 'http://ex.org/ns#item', 4, li.bn,
       NULL, NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT li.bn_subj, 'http://ex.org/ns#part', 1, 'http://ex.org/part/' || li.pk,
       NULL, NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT li.bn_subj, 'http://ex.org/ns#qty', 2, CAST(li.qty AS VARCHAR),
       'http://www.w3.org/2001/XMLSchema#integer', NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
"""


def q_kg_pipeline_iceberg(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Same pipeline, but reading the transcripts from a materialized
    parquet table (the input_hint's Iceberg-table shape) instead of
    re-synthesizing inside the job — the deployment-shaped path: the scan
    parallelizes by file splits, prunes columns, and the only exchanges
    left are conv_id reassembly and dedup.

    ``replicate`` multiplies the input (distinct conv_ids) so scaling
    benches can amortize fixed costs; only bench.py passes it — the
    correctness driver calls (spark, sf_dir) and always gets replicate=1,
    matching the DuckDB oracle."""
    from raptor_spark.pipeline import build_graph
    from raptor_spark.sources.transcripts import materialize_transcripts

    path = materialize_transcripts(spark, sf_dir, replicate=replicate)
    transcripts = spark.read.parquet(path)
    triples, _errors = build_graph(transcripts)
    return triples.select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph"
    )


# the stateful streaming path is oracle-equal to the batch pipeline over
# the ENTIRE corpus — same oracle as kg_pipeline, no row cap
_KG_STREAM_ORACLE = _KG_ORACLE


def q_kg_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming KG construction is value-equivalent to the
    batch pipeline: materialize the FULL transcript corpus plus one
    far-future 'advancer' conversation, drain
    streaming.incremental.stream_incremental_kg once (the advancer
    pushes the event-time watermark past every real conversation's gap,
    so the final no-data micro-batch fires all their timers; the
    advancer itself stays buffered and is excluded), relabel bnodes
    like the batch path, and return the streamed triples. The oracle is
    the same full-corpus KG reconstruction the batch pipeline is
    checked against, so the stateful path is value-verified at the
    same scale as the batch path.

    The stream input/output live in a VERSION-KEYED /tmp dir (like
    materialize_graph) rather than a fresh mkdtemp per call: the output
    must outlive this function (the caller collects the returned
    DataFrame), and repeated correctness runs must not accumulate
    corpus-sized parquet trees. A ``_DRAINED`` marker makes re-runs
    reuse the drained result; a stale partial dir is wiped first."""
    import os
    import shutil

    from raptor_spark.operators.canonical import relabel_bnodes
    from raptor_spark.sources.transcripts import (
        GEN_VERSION,
        GRAPH_VERSION,
        _sf_cache_key,
        tpch_transcripts,
    )
    from raptor_spark.streaming.incremental import (
        STREAM_VERSION,
        TRANSCRIPT_SCHEMA,
        stream_incremental_kg,
    )

    base = "/tmp/raptor_spark_stream_v%s.%s.%s_%s" % (
        GEN_VERSION, GRAPH_VERSION, STREAM_VERSION, _sf_cache_key(sf_dir)
    )
    inp = f"{base}/in"
    out = f"{base}/out"
    marker = f"{base}/_DRAINED"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        tpch_transcripts(spark, sf_dir).write.mode("overwrite").parquet(inp)
        adv = spark.createDataFrame(
            [(
                "zz-advancer", 0, "user",
                "<http://ex.org/zz> <http://ex.org/p> <http://ex.org/o> .\n",
                "ntriples",
                __import__("datetime").datetime(2100, 1, 1),
            )],
            TRANSCRIPT_SCHEMA,
        )
        adv.write.mode("append").parquet(inp)
        stream_incremental_kg(
            spark, inp, out, gap_seconds=3600, max_files_per_trigger=64
        )
        open(marker, "w").close()
    streamed = spark.read.parquet(f"{out}/triples")
    return relabel_bnodes(streamed).select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang",
        "graph",
    )


def q_kg_parse_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error side-channel: count of parse errors (must be zero rows)."""
    from raptor_spark.pipeline import build_graph
    from raptor_spark.sources.transcripts import tpch_transcripts

    _t, errors = build_graph(tpch_transcripts(spark, sf_dir))
    return errors.select("conv_id", "error_message")


_KG_ERRORS_ORACLE = (
    "SELECT CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS VARCHAR) AS "
    "error_message WHERE 1 = 0"
)


_RESUME_BUCKETS = 8


def _md5_bucket(col, n):
    """conv_id -> bucket via the first 4 md5 hex chars — the same
    arithmetic DuckDB reproduces as
    CAST(concat('0x', substr(md5(c),1,4)) AS BIGINT) % n."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long"), F.lit(n)
    ).cast("int")


def q_resumable_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule lineage counters through the ACTUAL resumable path
    (pipeline.run_resumable + plans/checkpoint): run 1 materializes a
    deterministic half of the buckets WITHOUT entity linking (an
    interrupted job), run 2 resumes over the full input WITH the
    customer-entity dictionary — the resume skips the finished buckets,
    completes the rest, and in the same pass relinks the half finished
    without linking. Returns the per-bucket
    counters (convs, turns parsed, triples emitted, parse errors, link
    decisions) merged across manifest generations exactly as a
    monitoring job reads them.

    Bucketing uses the md5-derived key (rather than the default
    xxhash64, which DuckDB cannot evaluate) so the oracle reconstructs
    the same partitioning relationally; the resume machinery is
    identical either way. The out_dir is a fresh temp dir per invocation
    (resume state is the thing under test), deleted after the counters
    are checkpointed."""
    import shutil
    import tempfile

    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.sources.transcripts import tpch_transcripts

    out = tempfile.mkdtemp(prefix="rsp_resume_q_")
    try:
        transcripts = tpch_transcripts(spark, sf_dir)
        nb = _RESUME_BUCKETS
        half = transcripts.filter(
            _md5_bucket(F.col("conv_id"), nb) < nb // 2
        )
        run_resumable(spark, half, out, n_buckets=nb, bucket_fn=_md5_bucket)
        run_resumable(
            spark, transcripts, out, n_buckets=nb,
            entities=customer_entities(spark, sf_dir),
            bucket_fn=_md5_bucket,
        )
        manifest = spark.read.option("mergeSchema", "true").parquet(
            f"{out}/manifest"
        )
        # per-bucket merge across generations: run-1 rows carry the parse
        # counters (link_decisions null), run 2's relink rows carry
        # link_decisions (other counters null) — max() over the bucket's
        # rows recovers the complete record
        return (
            manifest.groupBy("bucket")
            .agg(
                F.max("convs").cast("long").alias("convs"),
                F.max("turns").cast("long").alias("turns"),
                F.max("triples").cast("long").alias("triples"),
                F.max("errors").cast("long").alias("errors"),
                F.max("link_decisions").cast("long").alias("link_decisions"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


_RESUMABLE_MANIFEST_ORACLE = """
WITH li AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_li FROM lineitem GROUP BY l_orderkey
),
conv AS (
  SELECT 'ord-' || o_orderkey AS conv_id,
         o_orderkey % 10 AS b,
         o_orderkey % 5 + 1 AS chunk,
         COALESCE(li.n_li, 0) AS n_li,
         o_custkey
  FROM orders LEFT JOIN li ON li.k = o_orderkey
),
-- synthesis line counts per syntax (sources/transcripts.py): ntriples/
-- nquads = 3 header + 3 per lineitem; rdfxml = 8 fixed + 2/li;
-- json = 3 fixed; turtle = 5 + 2/li; trig = 7 + 2/li
per_conv AS (
  SELECT conv_id,
         CAST(CAST(concat('0x', substr(md5(conv_id), 1, 4)) AS BIGINT) % 8
              AS INTEGER) AS bucket,
         CAST(ceil(CAST(CASE
             WHEN b <= 3 OR b = 8 THEN 3 + 3 * n_li
             WHEN b = 4 THEN 8 + 2 * n_li
             WHEN b = 5 THEN 3
             WHEN b IN (6, 7) THEN 5 + 2 * n_li
             ELSE 7 + 2 * n_li
           END AS DOUBLE) / chunk) AS BIGINT) AS n_turns,
         3 + 3 * n_li AS n_triples,
         o_custkey
  FROM conv
),
links AS (
  SELECT p.bucket, COUNT(*) AS link_decisions
  FROM per_conv p JOIN customer c ON c.c_custkey = p.o_custkey
  GROUP BY p.bucket
)
SELECT p.bucket,
       CAST(COUNT(*) AS BIGINT) AS convs,
       CAST(SUM(n_turns) AS BIGINT) AS turns,
       CAST(SUM(n_triples) AS BIGINT) AS triples,
       CAST(0 AS BIGINT) AS errors,
       CAST(MAX(l.link_decisions) AS BIGINT) AS link_decisions
FROM per_conv p LEFT JOIN links l ON l.bucket = p.bucket
GROUP BY p.bucket
"""


# --------------------------------------------------------------------------
# raptor-shaped relational operators over the events/documents tables
# --------------------------------------------------------------------------


def q_reassemble_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn reassembly (window/groupBy form) — the conv_id reassembly
    operator expressed over events(user_id, ts, event_type)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(F.col("user_id")).agg(
        F.concat_ws(
            "|",
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type)))"
                ", s -> s.event_type)"
            ),
        ).alias("session"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


_REASSEMBLE_ORACLE = """
SELECT user_id,
       string_agg(event_type, '|' ORDER BY ts, event_id) AS session,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""


def q_ordinal_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdf:li -> rdf:_N container ordinals
    (reference: src/raptor_rdfxml.c:2503-2504) as a row_number window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("ordinal"),
    )


_ORDINAL_ORACLE = """
SELECT user_id, event_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ordinal
FROM events
"""


def q_collection_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection rdf:rest chain wiring (reference:
    src/turtle_parser.y:1157-1270) via lead() over ordered members."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_id").alias("node"),
        F.coalesce(
            F.lead("event_id").over(w).cast("string"), F.lit("rdf:nil")
        ).alias("rest"),
    )


_CHAIN_ORACLE = """
SELECT user_id, event_id AS node,
       COALESCE(CAST(LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts,
       event_id) AS VARCHAR), 'rdf:nil') AS rest
FROM events
"""


def q_reify_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reification fan-out: 1 statement -> 4 triples
    (reference: src/raptor_rdfxml.c:1308-1329) via explode."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_id") < 1000
    )
    stmt = F.concat(F.lit("http://ex.org/stmt/"), F.col("event_id"))
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    pairs = F.array(
        F.struct(
            F.lit(rdf + "type").alias("p"), F.lit(rdf + "Statement").alias("o")
        ),
        F.struct(
            F.lit(rdf + "subject").alias("p"),
            F.concat(F.lit("http://ex.org/user/"), F.col("user_id")).alias("o"),
        ),
        F.struct(
            F.lit(rdf + "predicate").alias("p"),
            F.concat(F.lit("http://ex.org/event/"), F.col("event_type")).alias("o"),
        ),
        F.struct(
            F.lit(rdf + "object").alias("p"),
            F.col("event_id").cast("string").alias("o"),
        ),
    )
    ex = ev.select(stmt.alias("stmt"), F.explode(pairs).alias("po"))
    return ex.select("stmt", F.col("po.p").alias("pred"), F.col("po.o").alias("obj"))


_REIFY_ORACLE = """
WITH e AS (SELECT * FROM events WHERE event_id < 1000)
SELECT 'http://ex.org/stmt/' || event_id AS stmt,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement' AS obj FROM e
UNION ALL
SELECT 'http://ex.org/stmt/' || event_id,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject',
       'http://ex.org/user/' || user_id FROM e
UNION ALL
SELECT 'http://ex.org/stmt/' || event_id,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate',
       'http://ex.org/event/' || event_type FROM e
UNION ALL
SELECT 'http://ex.org/stmt/' || event_id,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#object',
       CAST(event_id AS VARCHAR) FROM e
"""


def q_term_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-tag normalization + xsd:string datatype drop
    (reference: src/raptor_term.c:194-250) as column expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dt = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit("http://www.w3.org/2001/XMLSchema#string"),
    ).otherwise(F.lit("http://www.w3.org/2001/XMLSchema#token"))
    return docs.select(
        "doc_id",
        F.translate(F.lower(F.upper(F.col("lang"))), "_", "-").alias("lang_norm"),
        F.when(
            dt == "http://www.w3.org/2001/XMLSchema#string", F.lit(None)
        ).otherwise(dt).alias("datatype"),
    )


_CANON_ORACLE = """
SELECT doc_id,
       replace(lower(upper(lang)), '_', '-') AS lang_norm,
       CASE WHEN doc_id % 2 = 0 THEN NULL
            ELSE 'http://www.w3.org/2001/XMLSchema#token' END AS datatype
FROM documents
"""


def q_nt_escape_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-expression N-Triples line builder (serializer fast path,
    reference escape rules src/raptor_escaped.c:52-154 for the ASCII set)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    esc = F.col("text")
    for a, b in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]:
        esc = F.replace(esc, F.lit(a), F.lit(b))
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("<http://ex.org/doc/"),
            F.col("doc_id"),
            F.lit('> <http://ex.org/ns#text> "'),
            esc,
            F.lit('" .'),
        ).alias("nt_line"),
    )


_NT_ESCAPE_ORACLE = r"""
SELECT doc_id,
       '<http://ex.org/doc/' || doc_id || '> <http://ex.org/ns#text> "'
       || replace(replace(replace(replace(replace(text, '\', '\\'), '"', '\"'),
                  chr(10), '\n'), chr(13), '\r'), chr(9), '\t')
       || '" .' AS nt_line
FROM documents
"""


def q_format_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parser guessing — MIME type and identifier-suffix scoring
    AHEAD of content sniffing (reference:
    src/raptor_parse.c:1315-1466 raptor_world_guess_parser_name +
    every per-parser recognise_syntax scorer; see kernel/guess.py).

    Each event row is expanded (pure column expressions, JVM-side) into
    one of 16 deterministic (content, mime_type, identifier) scenario
    classes keyed by event_id %% 16 — high-Q media-type early break,
    parameterized media type, suffix-beats-content, suffix refusal
    rules, identifier-substring scoring, the reference's nquads-over-
    ntriples content preference, the below-MIN_GUESS_SCORE failure
    case, the unmatched-mime type-table sentinel (scores 0, not -1),
    the trailing-dot empty-but-non-NULL suffix, and the FIRSTN
    byte-window truncation — then the REAL scorer runs in an
    Arrow-batched mapInPandas stage. The oracle states the
    hand-derived expected winner per class straight from the
    reference's C scoring rules."""
    ev = _rebalance(
        spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    )
    cls = F.pmod(F.col("event_id"), F.lit(16)).cast("int")
    eid = F.col("event_id").cast("string")
    nt = F.concat(
        F.lit("<http://ex.org/s"), eid,
        F.lit("> <http://ex.org/p> <http://ex.org/o> .\n<http://ex.org/s"),
        eid, F.lit('> <http://ex.org/p> "v" .'),
    )
    ttl = F.concat(
        F.lit(
            "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ."
            "\n<http://ex.org/s"
        ),
        eid, F.lit('> rdf:value "v" .'),
    )
    html = F.lit("<html><body><p>no syntax signals here</p></body></html>")
    rss_xml = F.lit(
        '<?xml version="1.0"?><rss version="2.0"><channel/></rss>'
    )
    plain = F.concat(F.lit("hello plain text "), eid)
    js = F.concat(F.lit('{"http://ex.org/s'), eid, F.lit('": {}}'))
    n = F.lit(None).cast("string")

    def pick(*vals):
        c = F.when(cls == 0, vals[0])
        for i, v in enumerate(vals[1:], 1):
            c = c.when(cls == i, v)
        return c

    # class 15: 700 two-byte chars push the '@prefix ' marker to byte
    # ~1400 — outside the reference's FIRSTN = 1024 BYTE window even
    # though it sits inside the first 1024 characters
    ttl_past_window = F.concat(F.repeat(F.lit("é"), 700), ttl)
    content = pick(ttl, nt, nt, nt, plain, plain, html, rss_xml, html, js,
                   ttl, nt, plain, js, plain, ttl_past_window)
    mime = pick(
        F.lit("application/rdf+xml"),          # q=10 early break
        F.lit("text/turtle; charset=utf-8"),   # param stripped, q=10
        n, n, n, n,
        F.lit("application/xhtml+xml"),        # rdfa q=8, no break
        n, n,
        F.lit("application/json"),             # q=1 + suffix + content
        n, n, n,
        F.lit("application/octet-stream"),     # unmatched: sentinel q=0
        n, n,
    )
    ident = pick(
        n, n,
        F.concat(F.lit("data/part-"), eid, F.lit(".nt")),
        F.concat(F.lit("dump-"), eid, F.lit(".nq")),
        F.lit("model.ttl"),
        F.lit("graph.trig"),
        n,
        F.lit("posts/feed-rss2.xml"),
        F.lit("profile-RDFa.html"),
        F.lit("data.json"),
        n, n, n, n,
        F.concat(F.lit("dump-"), eid, F.lit(".json.")),  # empty suffix
        n,
    )
    src = ev.select(
        "event_id",
        content.alias("content"),
        mime.alias("mime_type"),
        ident.alias("identifier"),
    )

    def run(batches):
        from raptor_spark.kernel.guess import guess_parser_name

        for pdf in batches:
            fmts = [
                guess_parser_name(c, mime_type=m, identifier=i) or "unknown"
                for c, m, i in zip(
                    pdf["content"], pdf["mime_type"], pdf["identifier"]
                )
            ]
            yield pd.DataFrame({"event_id": pdf["event_id"], "fmt": fmts})

    return src.mapInPandas(run, schema="event_id bigint, fmt string")


# expected winner per scenario class, hand-derived from the reference's
# scoring rules (see q_format_guess's docstring): the oracle re-states
# the REFERENCE behavior independently of kernel/guess.py
_GUESS_ORACLE = """
SELECT event_id,
       CASE CAST(event_id % 16 AS INT)
            WHEN 0 THEN 'rdfxml'        -- application/rdf+xml Q10 beats turtle content
            WHEN 1 THEN 'turtle'        -- text/turtle;param Q10 beats ntriples content
            WHEN 2 THEN 'ntriples'      -- .nt suffix; nquads refuses .nt-named content
            WHEN 3 THEN 'nquads'        -- .nq suffix + content
            WHEN 4 THEN 'turtle'        -- .ttl suffix alone (content plain)
            WHEN 5 THEN 'trig'          -- .trig suffix alone
            WHEN 6 THEN 'rdfa'          -- application/xhtml+xml Q8; rss blocked by 'html' in mime
            WHEN 7 THEN 'rss-tag-soup'  -- .xml suffix + 'feed'/'rss2' identifier substrings
            WHEN 8 THEN 'rdfa'          -- 'RDFa' in identifier scores 10
            WHEN 9 THEN 'json'          -- .json suffix + json mime + '{' content
            WHEN 10 THEN 'turtle'       -- @prefix + rdf-ns content markers
            WHEN 11 THEN 'nquads'       -- bare NT content: reference prefers nquads (NT is a subset)
            WHEN 12 THEN 'unknown'      -- no signal clears MIN_GUESS_SCORE
            WHEN 13 THEN 'json'         -- unmatched mime lands on the {NULL,0,0} sentinel: 0 + '{' content 2 clears the bar (raptor_parse.c:1397-1400)
            WHEN 14 THEN 'unknown'      -- trailing-dot identifier: empty-but-non-NULL suffix blocks the !suffix 'json' arm (raptor_parse.c:1355-1380)
            ELSE 'unknown'              -- '@prefix ' past FIRSTN = 1024 BYTES is invisible (raptor_parse.c:1428-1436)
       END AS fmt
FROM events
"""


def q_rdfa_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFa 1.1 extraction end-to-end: synthesize one crawled-HTML-shaped
    page per customer (pure column expressions), route it through the
    same Arrow-batched parse operator the KG pipeline uses with the
    'rdfa' sniffing parser (reference: src/raptor_librdfa.c +
    librdfa/rdfa.c §host-language sniff), and return the extracted
    triples. Covers @about/@typeof/@property (plain, @xml:lang, typed
    via the xsd initial-context prefix), @rel+@href IRI resolution
    against the per-document base, @prefix mappings, and @inlist
    rdf:first/rest/nil chains with the kernel's deterministic per-
    document bnode labels — all reconstructed relationally by the
    oracle.

    The scan is rebalanced to the session's cores BEFORE the page
    synthesis: customer.parquet is a few hundred KB, so byte-sized
    split planning hands the whole Python parse stage to ONE task
    (measured 5.3s -> 1.3s at sf0.1 local[32] when fixed); the
    repartition shuffles only the narrow source columns."""
    from raptor_spark.operators.parse import (
        parse_documents,
        triples_of,
    )

    cust = _rebalance(
        spark.read.parquet(f"{sf_dir}/customer.parquet")
    )
    doc = F.format_string(
        '<!DOCTYPE html>\n<html xmlns="http://www.w3.org/1999/xhtml">\n'
        "<head><title>c</title></head>\n"
        '<body prefix="schema: http://schema.org/">\n'
        '<div about="#me" typeof="schema:Person">\n'
        '<span property="schema:name">%s</span>\n'
        '<span property="schema:segment" xml:lang="en">%s</span>\n'
        '<a rel="schema:nation" href="nation/%s">n</a>\n'
        '<span property="schema:nationkey" datatype="xsd:integer"'
        ' content="%s">k</span>\n'
        '<ol rel="schema:refs" inlist="">'
        '<li><a href="ref/%s-a">a</a><a href="ref/%s-b">b</a></li></ol>\n'
        "</div>\n</body></html>",
        F.col("c_name"),
        F.col("c_mktsegment"),
        F.col("c_nationkey"),
        F.col("c_nationkey"),
        F.col("c_custkey"),
        F.col("c_custkey"),
    )
    docs = cust.select(
        F.format_string("cust-%s", F.col("c_custkey")).alias("conv_id"),
        doc.alias("doc_text"),
        F.lit("rdfa").alias("tool"),
        F.format_string(
            "http://ex.org/crm/%s.html", F.col("c_custkey")
        ).alias("base_uri"),
    )
    parsed = parse_documents(docs, base_uri_col="base_uri")
    return triples_of(parsed).select(
        "conv_id", "subj", "pred", "obj_kind", "obj_lex",
        "obj_datatype", "obj_lang",
    )


_RDFA_ORACLE = """
WITH c AS (
  SELECT 'cust-' || c_custkey AS conv_id,
         'http://ex.org/crm/' || c_custkey || '.html' AS base,
         'http://ex.org/crm/' || c_custkey || '.html#me' AS me,
         c_name, c_mktsegment,
         CAST(c_nationkey AS VARCHAR) AS nk,
         CAST(c_custkey AS VARCHAR) AS ck
  FROM customer
)
SELECT conv_id, me AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       1 AS obj_kind, 'http://schema.org/Person' AS obj_lex,
       NULL AS obj_datatype, NULL AS obj_lang FROM c
UNION ALL
SELECT conv_id, me, 'http://schema.org/name', 2, c_name, NULL, NULL FROM c
UNION ALL
SELECT conv_id, me, 'http://schema.org/segment', 2, c_mktsegment,
       NULL, 'en' FROM c
UNION ALL
SELECT conv_id, me, 'http://schema.org/nation', 1,
       'http://ex.org/crm/nation/' || nk, NULL, NULL FROM c
UNION ALL
SELECT conv_id, me, 'http://schema.org/nationkey', 2, nk,
       'http://www.w3.org/2001/XMLSchema#integer', NULL FROM c
UNION ALL
SELECT conv_id, me, 'http://schema.org/refs', 4, 'rdfa2', NULL, NULL FROM c
UNION ALL
SELECT conv_id, '_:rdfa2',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#first', 1,
       'http://ex.org/crm/ref/' || ck || '-a', NULL, NULL FROM c
UNION ALL
SELECT conv_id, '_:rdfa2',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#rest', 4, 'rdfa3',
       NULL, NULL FROM c
UNION ALL
SELECT conv_id, '_:rdfa3',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#first', 1,
       'http://ex.org/crm/ref/' || ck || '-b', NULL, NULL FROM c
UNION ALL
SELECT conv_id, '_:rdfa3',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#rest', 1,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#nil', NULL, NULL FROM c
"""


def q_grddl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRDDL link-discovery end-to-end (reference: src/raptor_grddl.c
    alternate-form links, the path tests/grddl exercises under noNet):
    synthesize one crawl bundle per supplier — an XHTML page whose
    <head> links three RDF resources by type="application/rdf+xml"
    plus one unfetchable link and one non-RDF link — and route it
    through the shared parse operator with a per-row resource map.

    The bundle layout is the 100 TB shape: every linked resource is
    co-partitioned with its page (WARC-style), so GRDDL recursion is a
    pure map over rows — no per-link I/O, no shuffle, and the strong
    form of the reference's noNet option (a URI outside the bundle is
    recorded and skipped, covered here by missing.rdf). Linked docs
    cross three kernels picked by the GUESS parser from the link URI
    (.rdf -> rdfxml, .nt -> ntriples, .ttl -> turtle — the @type
    attribute is deliberately ignored, raptor_grddl.c:1901), the .ttl
    doc resolves relative URIs against ITS OWN URI (not the page's),
    and blank labels continue across inner parses from one shared
    counter (genid1 from meta.rdf, genid2 from links.ttl)."""
    from raptor_spark.operators.parse import (
        parse_documents,
        triples_of,
    )

    sup = _rebalance(
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
    )
    k = F.col("s_suppkey")
    root = F.format_string("http://ex.org/crawl/%s/", k)
    page = F.format_string(
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<html xmlns="http://www.w3.org/1999/xhtml">\n<head>\n'
        "<title>s</title>\n"
        '<link rel="meta" type="application/rdf+xml" href="meta.rdf"/>\n'
        '<link rel="meta" type="application/rdf+xml" href="name.nt"/>\n'
        '<link rel="meta" type="application/rdf+xml" href="links.ttl"/>\n'
        '<link rel="meta" type="application/rdf+xml" href="missing.rdf"/>\n'
        '<link rel="stylesheet" type="text/css" href="style.css"/>\n'
        "</head>\n<body></body>\n</html>\n"
    )
    meta_rdf = F.format_string(
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
        "<rdf:Description>\n  <rdf:value>%s</rdf:value>\n"
        "</rdf:Description>\n</rdf:RDF>\n",
        F.col("s_name"),
    )
    name_nt = F.format_string(
        '<http://ex.org/s/%s> <http://ex.org/p/name> "%s" .\n',
        k,
        F.col("s_name"),
    )
    links_ttl = F.format_string(
        "<> <http://ex.org/p/nation> <nations/%s> .\n"
        '[] <http://ex.org/p/suppkey> "%s" .\n',
        F.col("s_nationkey"),
        k,
    )
    docs = sup.select(
        F.format_string("sup-%s", k).alias("conv_id"),
        page.alias("doc_text"),
        F.lit("grddl").alias("tool"),
        F.concat(root, F.lit("page.html")).alias("base_uri"),
        F.create_map(
            F.concat(root, F.lit("meta.rdf")), meta_rdf,
            F.concat(root, F.lit("name.nt")), name_nt,
            F.concat(root, F.lit("links.ttl")), links_ttl,
        ).alias("resources"),
    )
    parsed = parse_documents(
        docs, base_uri_col="base_uri", resources_col="resources"
    )
    return triples_of(parsed).select(
        "conv_id", "subj", "pred", "obj_kind", "obj_lex",
        "obj_datatype", "obj_lang",
    )


_GRDDL_ORACLE = """
WITH s AS (
  SELECT 'sup-' || s_suppkey AS conv_id,
         CAST(s_suppkey AS VARCHAR) AS k,
         CAST(s_nationkey AS VARCHAR) AS nk,
         s_name,
         'http://ex.org/crawl/' || s_suppkey || '/' AS root
  FROM supplier
)
SELECT conv_id, '_:genid1' AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#value' AS pred,
       2 AS obj_kind, s_name AS obj_lex,
       NULL AS obj_datatype, NULL AS obj_lang FROM s
UNION ALL
SELECT conv_id, 'http://ex.org/s/' || k, 'http://ex.org/p/name', 2,
       s_name, NULL, NULL FROM s
UNION ALL
SELECT conv_id, root || 'links.ttl', 'http://ex.org/p/nation', 1,
       root || 'nations/' || nk, NULL, NULL FROM s
UNION ALL
SELECT conv_id, '_:genid2', 'http://ex.org/p/suppkey', 2, k,
       NULL, NULL FROM s
"""


def _synth_feed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One RSS 2.0 feed document per nation (suppliers as items), built
    with pure column expressions including the in-feed document order."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    item_xml = F.format_string(
        " <item>\n  <title>%s</title>\n"
        "  <link>http://ex.org/supp/%s</link>\n"
        "  <description>update from %s</description>\n"
        "  <pubDate>%02d Jun 2003 %02d:%02d:00 +0000</pubDate>\n"
        " </item>\n",
        F.col("s_name"),
        F.col("s_suppkey"),
        F.col("s_name"),
        (F.col("s_suppkey") % 27 + 1).cast("int"),
        (F.col("s_suppkey") % 24).cast("int"),
        (F.col("s_suppkey") % 60).cast("int"),
    )
    items = (
        sup.groupBy("s_nationkey")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("s_suppkey"), item_xml.alias("x"))
                        )
                    ),
                    lambda s: s["x"],
                ),
            ).alias("items_xml")
        )
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    doc = F.format_string(
        '<?xml version="1.0"?>\n<rss version="2.0">\n<channel>\n'
        " <title>%s</title>\n"
        " <link>http://ex.org/feed/%s</link>\n"
        " <description>%s wire</description>\n"
        " <pubDate>10 Jun 2003 04:00:00 +0000</pubDate>\n"
        "%s</channel>\n</rss>\n",
        F.col("n_name"),
        F.col("n_nationkey"),
        F.col("n_name"),
        F.coalesce(F.col("items_xml"), F.lit("")),
    )
    docs = nat.join(
        items, nat.n_nationkey == items.s_nationkey, "left"
    ).select(
        F.format_string("feed-%s", F.col("n_nationkey")).alias("conv_id"),
        doc.alias("doc_text"),
        F.lit("rss-tag-soup").alias("tool"),
        F.format_string(
            "http://ex.org/feeds/%s.rss", F.col("n_nationkey")
        ).alias("base_uri"),
    )
    return docs


def q_feed_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed ingestion end-to-end: synthesize one RSS 2.0 feed per nation
    (suppliers as items, pure column expressions incl. the in-feed
    document order), parse with the rss-tag-soup kernel through the
    shared Arrow-batched parse operator (reference: src/raptor_rss.c
    field tables + raptor_atom_to_rss uplift), and return the RSS-1.0
    triple model. Covers channel/item identification by rss:link,
    the rdf:Seq ordinal connection, the description -> content:encoded
    clone, and the parsedate-equivalent pubDate -> ISO dc:date uplift —
    all reconstructed relationally by the oracle."""
    from raptor_spark.operators.parse import parse_documents, triples_of

    docs = _synth_feed_docs(spark, sf_dir)
    parsed = parse_documents(docs, base_uri_col="base_uri")
    return triples_of(parsed).select(
        "conv_id", "subj", "pred", "obj_kind", "obj_lex",
    )


def q_serialize_rt_rss10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 1.0 serializer roundtrip: parse the per-nation feeds into the
    RSS model, serialize each feed back to RSS 1.0 XML (kernel/atom.py
    Rss10Serializer — the is_atom==0 mode of the reference's
    src/raptor_serialize_rss.c), reparse with the rss-tag-soup kernel
    and verify the roundtrip is lossless. Models the rss parser itself
    produced stay inside the serializer's lossless subset, so the
    oracle pins n_out == n_in and lossless = true per feed."""
    from raptor_spark.operators.parse import parse_documents, triples_of
    from raptor_spark.operators.serialize import rss10_roundtrip_stats

    docs = _synth_feed_docs(spark, sf_dir)
    parsed = parse_documents(docs, base_uri_col="base_uri")
    return rss10_roundtrip_stats(triples_of(parsed))


_FEED_ORACLE = """
WITH n AS (
  SELECT 'feed-' || n_nationkey AS conv_id,
         'http://ex.org/feed/' || n_nationkey AS ch,
         n_name, n_nationkey
  FROM nation
),
s AS (
  SELECT 'feed-' || s_nationkey AS conv_id,
         'http://ex.org/supp/' || s_suppkey AS it,
         s_name,
         printf('%02d Jun 2003 %02d:%02d:00 +0000',
                s_suppkey % 27 + 1, s_suppkey % 24, s_suppkey % 60)
             AS raw_date,
         printf('2003-06-%02dT%02d:%02d:00Z',
                s_suppkey % 27 + 1, s_suppkey % 24, s_suppkey % 60)
             AS iso_date,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey)
             AS ord
  FROM supplier
)
SELECT conv_id, ch AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       1 AS obj_kind, 'http://purl.org/rss/1.0/channel' AS obj_lex FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/rss/1.0/title', 2, n_name FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/rss/1.0/link', 2, ch FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/rss/1.0/description', 2,
       n_name || ' wire' FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/rss/1.0/modules/content/encoded', 2,
       n_name || ' wire' FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/rss/1.0/modules/rss091#pubDate', 2,
       '10 Jun 2003 04:00:00 +0000' FROM n
UNION ALL
SELECT conv_id, ch, 'http://purl.org/dc/elements/1.1/date', 2,
       '2003-06-10T04:00:00Z' FROM n
UNION ALL
-- the rdf:Seq of items: the single bnode per feed is the kernel's
-- first genid (no other bnodes exist in these block-free feeds)
SELECT conv_id, ch, 'http://purl.org/rss/1.0/items', 4, 'genid1' FROM n
  WHERE EXISTS (SELECT 1 FROM s WHERE s.conv_id = n.conv_id)
UNION ALL
SELECT conv_id, '_:genid1',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 1,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#Seq' FROM n
  WHERE EXISTS (SELECT 1 FROM s WHERE s.conv_id = n.conv_id)
UNION ALL
SELECT conv_id, '_:genid1',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#_' || ord, 1, it FROM s
UNION ALL
SELECT conv_id, it,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 1,
       'http://purl.org/rss/1.0/item' FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/rss/1.0/title', 2, s_name FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/rss/1.0/link', 2, it FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/rss/1.0/description', 2,
       'update from ' || s_name FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/rss/1.0/modules/content/encoded', 2,
       'update from ' || s_name FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/rss/1.0/modules/rss091#pubDate', 2,
       raw_date FROM s
UNION ALL
SELECT conv_id, it, 'http://purl.org/dc/elements/1.1/date', 2,
       iso_date FROM s
"""


def q_uri_mint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URI minting for conversation entities
    (north-rule operator; reproducible across retries — hash of content,
    never monotonically_increasing_id)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey"),
        F.concat(
            F.lit("http://ex.org/entity/"),
            F.md5(F.concat(F.lit("cust|"), F.col("c_name"))),
        ).alias("entity_uri"),
    )


_URI_MINT_ORACLE = """
SELECT c_custkey,
       'http://ex.org/entity/' || md5('cust|' || c_name) AS entity_uri
FROM customer
"""


def q_file_uri_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file <-> URI mapping (reference: raptor_uri.c:832-1260
    raptor_uri_filename_to_uri_string / uri_string_to_filename, POSIX
    rules): mint file: URIs for part-derived paths — '#' in p_brand and
    spaces in p_name exercise the %XX escape set, and every third path
    carries a 'tmp/../' infix the minter must dot-segment-normalize
    away — then map each URI back to its filename. The oracle rebuilds
    both columns relationally (the traversal infix normalizes to the
    same URI, so the oracle is uniform)."""
    from raptor_spark.kernel.uri import filename_to_uri, uri_to_filename

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    path = F.concat(
        F.lit("/data/"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("tmp/../")).otherwise(
            F.lit("")
        ),
        F.col("p_brand"),
        F.lit("/"),
        F.col("p_name"),
        F.lit(".txt"),
    )

    @F.pandas_udf("string")
    def to_uri(s: pd.Series) -> pd.Series:
        return s.map(filename_to_uri)

    @F.pandas_udf("string")
    def to_file(s: pd.Series) -> pd.Series:
        return s.map(uri_to_filename)

    out = part.select(
        F.col("p_partkey"), to_uri(path).alias("file_uri")
    ).withColumn("filename", to_file(F.col("file_uri")))
    return out


_FILE_URI_ORACLE = """
SELECT p_partkey,
       'file:///data/' || replace(replace(p_brand, '#', '%23'), ' ', '%20')
           || '/' || replace(p_name, ' ', '%20') || '.txt' AS file_uri,
       '/data/' || p_brand || '/' || p_name || '.txt' AS filename
FROM part
"""


def q_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking: mention detection over text, candidate generation
    via broadcast dictionary join, scoring, best-candidate-per-document
    (north-star operator). Dictionary = part-name vocabulary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    vocab = (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("prior"))
    )
    mentions = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    cand = mentions.join(F.broadcast(vocab), "word").groupBy(
        "doc_id", "word"
    ).agg(F.count(F.lit(1)).alias("mentions"), F.min("prior").alias("prior"))
    scored = cand.withColumn("score", F.col("mentions") * F.col("prior"))
    # best candidate per document as a min-of-struct aggregate (same
    # desc-score / asc-word tie-break as the row_number window it
    # replaces, with map-side partial aggregation and no sort — the
    # operators/link.py pattern)
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("_ns"),
                F.col("word").alias("word"),
            )
        ).alias("_b")
    )
    return best.select(
        "doc_id",
        F.col("_b.word").alias("entity"),
        (-F.col("_b._ns")).alias("score"),
    )


_ENTITY_LINK_ORACLE = """
WITH vocab AS (
  SELECT word, COUNT(*) AS prior
  FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) v
  GROUP BY word
),
mentions AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
  FROM documents
),
cand AS (
  SELECT m.doc_id, m.word, COUNT(*) AS mentions, MIN(v.prior) AS prior
  FROM mentions m JOIN vocab v USING (word)
  WHERE m.word <> ''
  GROUP BY m.doc_id, m.word
),
scored AS (
  SELECT doc_id, word, mentions * prior AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY mentions * prior DESC, word ASC) AS rk
  FROM cand
)
SELECT doc_id, word AS entity, score FROM scored WHERE rk = 1
"""


def q_serialize_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abbreviating-serializer shape: group statements by subject, sorted
    (reference: src/raptor_serialize_turtle.c:1388-1455 AVL model) as
    groupBy + ordered string_agg."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stmts = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.col("event_id").alias("obj"),
    )
    return stmts.groupBy("subj").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(pred, obj))),"
                " s -> concat(s.pred, ' ', s.obj))"
            ),
            " ; ",
        ).alias("body"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


_SERIALIZE_ORACLE = """
SELECT 'u' || user_id AS subj,
       string_agg(event_type || ' ' || event_id, ' ; '
                  ORDER BY event_type, event_id) AS body,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


def q_kg_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star entity linking over the transcript corpus itself:
    mention detection (vectorized regex over turn text, no Python),
    candidate generation via broadcast join against the entity
    dictionary (customers with minted URIs), scoring by mention count,
    best-candidate-per-conversation by deterministic rank. Delegates to
    operators/link.py — the same stage run_resumable wires into the
    bucketed job's link_decisions lineage counter."""
    from raptor_spark.operators.link import customer_entities, link_entities
    from raptor_spark.sources.transcripts import tpch_transcripts

    return link_entities(
        tpch_transcripts(spark, sf_dir), customer_entities(spark, sf_dir)
    )


_KG_ENTITY_LINK_ORACLE = """
SELECT 'ord-' || o_orderkey AS conv_id,
       'http://ex.org/entity/' || md5('cust|' || c_name) AS entity_uri,
       CAST(1 AS BIGINT) AS mentions
FROM orders JOIN customer ON c_custkey = o_custkey
"""


def q_pred_histogram_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-key aggregation with explicit two-phase salting: predicates
    are heavily skewed (6 hot keys over millions of rows — the rdf:type
    shape the north rule calls out), so the partial aggregate spreads
    each predicate over 16 salt buckets before the final combine.
    Reads the materialized graph table so the entry times the salted
    aggregation under test, not a per-call re-parse."""
    from raptor_spark.sources.transcripts import materialize_graph

    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    salted = triples.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("subj")), F.lit(16))
    )
    partial = salted.groupBy("pred", "_salt").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        partial.groupBy("pred")
        .agg(F.sum("c").cast("long").alias("n_statements"))
    )


_PRED_HISTOGRAM_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber, l_partkey,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
),
nli AS (SELECT COUNT(*) AS n FROM li),
nord AS (SELECT COUNT(*) AS n FROM orders)
SELECT 'http://ex.org/ns#status' AS pred,
       CAST((SELECT n FROM nord) AS BIGINT) AS n_statements
UNION ALL
SELECT 'http://ex.org/ns#priority', (SELECT n FROM nord)
UNION ALL
SELECT 'http://ex.org/ns#customer', (SELECT n FROM nord)
UNION ALL
SELECT 'http://ex.org/ns#item', (SELECT n FROM nli)
UNION ALL
SELECT 'http://ex.org/ns#part', (SELECT n FROM nli)
UNION ALL
SELECT 'http://ex.org/ns#qty', (SELECT n FROM nli)
"""


def q_serialize_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming N-Quads sink: canonical line per statement, pure column
    expression (reference: src/raptor_serialize_ntriples.c:194-332). The
    oracle rebuilds every line relationally — checks the whole
    parse -> canonicalize -> render path byte-for-byte. Reads the
    materialized graph table (a deployment serializes a stored graph,
    not a per-export re-parse); nt_lines_df is single-pass, so the
    export is one scan -> one projection, no shuffle."""
    from raptor_spark.operators.serialize import nt_lines_df
    from raptor_spark.sources.transcripts import materialize_graph

    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    return nt_lines_df(triples, with_graph=True, extra_cols=("conv_id",))


_SERIALIZE_NT_ORACLE = """
WITH fmt AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         o_orderpriority AS pr,
         o_custkey AS c,
         CASE WHEN o_orderkey % 10 IN (8, 9)
              THEN ' <http://ex.org/graph/' || o_orderkey || '>' ELSE '' END
             AS g
  FROM orders
),
li AS (
  SELECT DISTINCT l_orderkey AS k,
         '_:ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn,
         l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
)
SELECT 'ord-' || k AS conv_id,
       '<http://ex.org/order/' || k || '> <http://ex.org/ns#status> "'
           || st || '"' || g || ' .' AS nt_line
FROM fmt
UNION ALL
SELECT 'ord-' || k,
       '<http://ex.org/order/' || k || '> <http://ex.org/ns#priority> "'
           || pr || '"' || g || ' .'
FROM fmt
UNION ALL
SELECT 'ord-' || k,
       '<http://ex.org/order/' || k
           || '> <http://ex.org/ns#customer> <http://ex.org/customer/'
           || c || '>' || g || ' .'
FROM fmt
UNION ALL
SELECT 'ord-' || li.k,
       '<http://ex.org/order/' || li.k || '> <http://ex.org/ns#item> '
           || li.bn || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT 'ord-' || li.k,
       li.bn || ' <http://ex.org/ns#part> <http://ex.org/part/' || li.pk
           || '>' || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT 'ord-' || li.k,
       li.bn || ' <http://ex.org/ns#qty> "' || li.qty
           || '"^^<http://www.w3.org/2001/XMLSchema#integer>' || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
"""


def q_serialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffered abbreviating writer exercised distributed: serialize each
    conversation's graph as TriG (one group shuffle + batched Arrow
    writer stage), reparse it,
    count statements — the Spark form of the reference's
    check-turtle-serialize (rapper -o turtle | rdfdiff). Oracle knows the
    expected distinct-statement count per conversation."""
    from raptor_spark.operators.serialize import serialize_roundtrip_counts
    from raptor_spark.sources.transcripts import materialize_graph

    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    return serialize_roundtrip_counts(triples)


def _rt_query(fmt: str):
    """queries() entry factory: roundtrip-count the given buffered writer
    so every serializer (reference registry src/raptor_serialize.c) gets
    its own oracle row, not just pytest coverage. Reads the materialized
    graph table (sinks serialize a stored graph; the parse path has its
    own oracles)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from raptor_spark.operators.serialize import serialize_roundtrip_counts
        from raptor_spark.sources.transcripts import materialize_graph

        triples = spark.read.parquet(materialize_graph(spark, sf_dir))
        return serialize_roundtrip_counts(triples, fmt=fmt)

    q.__name__ = "q_serialize_rt_" + fmt.replace("-", "_")
    q.__doc__ = (
        f"Serialize each conversation as {fmt}, reparse/count, compare "
        "against the relational statement-count oracle."
    )
    return q


def q_serialize_rt_mkr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mKR serializer exercised distributed: serialize each
    conversation's graph with the byte-exact mkr writer
    (kernel/serialize.to_mkr — the emit_mkr mode of the reference's
    src/raptor_serialize_turtle.c, verified against all 10 tests/mkr
    goldens in pytest), then count subject blocks with a pure column
    expression: every subject — top-level 'X has' or inlined
    '{ _:b has' — emits exactly one ' has\\n'. The conversation graphs
    are one order node plus one once-referenced lineitem bnode each, so
    the oracle pins n_subjects = 1 + lineitem count. Reads the
    materialized graph table like every other sink entry (sinks
    serialize a stored graph, not a per-export re-parse)."""
    from raptor_spark.operators.serialize import serialize_documents
    from raptor_spark.sources.transcripts import materialize_graph

    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    docs = serialize_documents(triples, "mkr")
    return docs.select(
        "conv_id",
        (F.size(F.split(F.col("payload"), " has\n")) - 1).alias(
            "n_subjects"
        ),
    )


_MKR_RT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber AS ln, l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
),
cnt AS (SELECT k, COUNT(*) AS n FROM li GROUP BY k)
SELECT 'ord-' || o_orderkey AS conv_id,
       1 + COALESCE(cnt.n, 0) AS n_subjects
FROM orders LEFT JOIN cnt ON cnt.k = o_orderkey
"""


_RSS10_RT_ORACLE = """
SELECT conv_id,
       COUNT(*) AS n_in,
       COUNT(*) AS n_out,
       TRUE AS lossless
FROM (%s) model
GROUP BY conv_id
""" % _FEED_ORACLE


_SERIALIZE_RT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber AS ln, l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
),
cnt AS (SELECT k, COUNT(*) AS n FROM li GROUP BY k)
SELECT 'ord-' || o_orderkey AS conv_id,
       3 + 3 * COALESCE(cnt.n, 0) AS n_triples
FROM orders LEFT JOIN cnt ON cnt.k = o_orderkey
"""


# --------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; representative = min doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(F.md5(F.col("text")).alias("content_md5")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("dup_count"),
    )


_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_md5, MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def _shingles(toks, n=3):
    """Word n-gram shingles of a token-array column, as an array column.

    The k-th shingle joins tokens k..k+n-1 with one space — the oracle
    CTEs' own ``t[i] || ' ' || t[i+1] || ' ' || t[i+2]`` — built from n
    SHIFTED SLICES of the token array zipped element-wise, so the work
    is linear in the token count. A transform over index positions
    would have to reference the token array inside its lambda body,
    which a higher-order function re-evaluates per element. Pass the
    tokens as a column staged in its own projection (see
    _shingle_source), so the split itself also runs once.

    A document with fewer than n tokens yields the EMPTY array: every
    slice has length max(size - n + 1, 0), matching the oracle's empty
    range(1, len(t) - 1) — no short under-n shingle, which the SQL side
    would turn into NULL."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, k)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, i + 1, k), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def _shingle_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs, hs): one row per document with its DISTINCT
    word-3-gram shingles and their 60-bit hashes (hs[i] is the value of
    the first 15 hex digits of md5(shs[i])) — the single per-document source of every
    shingle-based signature: minhash bands, simhash fingerprints, set
    sizes and the exploded Jaccard index all derive from it, row-local,
    without an explode -> groupBy(doc_id) regroup.

    Documents with fewer than 3 tokens (empty, whitespace-only or NULL
    text included) have no shingle and are dropped here, so they get no
    signature and are never a candidate. Without the filter, array_min
    over an empty lane would make a NULL band key shared by all of them
    and an empty simhash vote a zero fingerprint pairing them all.

    Catalyst pushes predicates below projections by substituting the
    projected expressions, so a predicate on shs or hs would re-run the
    shingle kernel inside the filter. Hence the filter tests the token
    count (the same condition as size(shs) > 0), costing one extra
    split; and NULL text is read as empty text, which keeps shs, hs and
    their sizes non-nullable, so joins downstream infer no isnotnull
    filter on them."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = docs.select(
        "doc_id", F.split(F.trim(text), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    shs = toks.select(
        "doc_id", F.array_distinct(_shingles(F.col("t"))).alias("shs")
    )
    return shs.select(
        "doc_id",
        "shs",
        F.expr(
            "transform(shs, s -> "
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )


def _shingle_index(src: DataFrame) -> DataFrame:
    """_shingle_source -> (doc_id, sz, sh): one row per distinct shingle
    of each document, carrying the document's set size sz, the
    inverted-index form the Jaccard joins need.

    explode_OUTER on purpose: every source row has at least one shingle,
    so it emits the same rows as explode, but Catalyst infers no
    size(shs) > 0 filter from an outer generator — a plain explode of
    the shs attribute gets one, pushed below the projections, where it
    re-runs the whole shingle kernel a second time per document."""
    return src.select(
        "doc_id",
        F.size("shs").alias("sz"),
        F.explode_outer("shs").alias("sh"),
    )


#: LSH banding parameters shared by dedup_minhash / dedup_cascade. b=8
#: bands of r=2 concatenated minhashes: P(candidate) = 1-(1-j^2)^8, the
#: classic b x r S-curve (steep around j ~ 0.45). r >= 2 matters at scale:
#: a 1-row band degenerates to "any shared min-shingle", which buckets
#: boilerplate-heavy corpora into giant clusters.
_LSH_BANDS = 8
_LSH_ROWS = 2
#: hard cap on docs per (band, signature) bucket: an oversized bucket is
#: near-identical boilerplate whose k^2 pair fan-out would dominate the
#: shuffle at corpus scale; such clusters are better handled by the exact
#: dedup_exact path, so LSH drops them instead of emitting k^2 rows.
#: _blocks applies the cap.
_LSH_BUCKET_CAP = 50
#: universal-hash minhash lanes: each shingle is hashed ONCE (md5 -> 60-bit
#: prefix, reduced mod the Mersenne prime 2^31-1) and the b*r independent
#: minhash functions are h_i(x) = (a_i*x + b_i) mod p — 16 integer ops per
#: shingle instead of 16 md5 calls. The 31-bit modulus keeps a_i*x inside
#: a signed 64-bit lane on both engines (DuckDB raises on BIGINT
#: overflow); the two lanes of a band pack into one 62-bit long, so the
#: bucket join key is (int, long).
_MH_P = 2147483647
_MH_AB = [
    (2054730081, 1668083862), (1381560984, 71539990),
    (729512858, 133347923), (1473050824, 100270761),
    (1099550647, 283212492), (1181694378, 419802908),
    (1494373298, 318663385), (1945259633, 1367314271),
    (1382880978, 1593008560), (293948171, 2141913301),
    (1866669699, 352195579), (315686227, 1118610135),
    (1934400445, 1216675730), (963302574, 1005947103),
    (166792497, 2019800082), (1378874568, 613864793),
]


def _minhash_lane_sql(i: int) -> str:
    """Minhash lane i of a document: the min of h_i over its shingle
    hashes, row-local over the hs array (no explode, no groupBy)."""
    a, b = _MH_AB[i]
    return "array_min(transform(hs, h -> (%d * (h %% %d) + %d) %% %d))" % (
        a, _MH_P, b, _MH_P
    )


#: the 8 (band, mh) signature rows of a document as ONE SQL expression
#: over hs: the 16 lanes, two per band packed into one 62-bit long
_MH_BANDS_SQL = "array(%s)" % ", ".join(
    "named_struct('band', %d, 'mh', shiftleft(%s, 31) + %s)"
    % (
        b,
        _minhash_lane_sql(b * _LSH_ROWS),
        _minhash_lane_sql(b * _LSH_ROWS + 1),
    )
    for b in range(_LSH_BANDS)
)


def _minhash_bands(src: DataFrame) -> DataFrame:
    """(doc_id, hs) -> (doc_id, band, mh): the band signatures, computed
    per document from _shingle_source's hash array — the blocking keys
    of the minhash path (uncapped; _blocks applies the bucket cap)."""
    return src.select(
        "doc_id", F.explode(F.expr(_MH_BANDS_SQL)).alias("bm")
    ).select("doc_id", "bm.band", "bm.mh")


def _blocks(keyed: DataFrame, keys, item, cap=None) -> DataFrame:
    """(keys..., item) -> (keys..., ds): ONE groupBy(keys) collects each
    block's SORTED item list ds and drops blocks with more than `cap`
    members (no cap when None) — the only place a candidate-pair query
    builds or purges a block. The key functions upstream stay uncapped;
    _bucket_pairs turns the surviving blocks into pairs. `item` is a
    column name or a struct whose first field is the unique id."""
    blocks = keyed.groupBy(*keys).agg(
        F.sort_array(F.collect_list(item)).alias("ds")
    )
    return blocks if cap is None else blocks.filter(F.size("ds") <= cap)


def _bucket_pairs(blocks: DataFrame) -> DataFrame:
    """(..., ds: sorted array) -> (a, b) for every i < j pair of each
    block of two or more, via two CHAINED explodes (posexplode, then
    explode of the tail slice): a k-element block streams its k^2/2
    pairs row by row through codegen — the pair set is never
    materialized as one array value, so memory stays O(k) per block
    while the aggregation buffer upstream is the only place a whole
    block lives at once. Works for plain values and structs (array_sort
    on structs orders by the first field — the id — which is unique)."""
    ex = blocks.filter(F.size("ds") >= 2).select(
        F.posexplode("ds").alias("_i", "a"), F.col("ds").alias("_ds")
    )
    return ex.select(
        "a",
        F.explode(
            F.slice(F.col("_ds"), F.col("_i") + 2, F.size(F.col("_ds")))
        ).alias("b"),
    )


def _minhash_pairs(src: DataFrame) -> DataFrame:
    blocks = _blocks(
        _minhash_bands(src), ["band", "mh"], "doc_id", _LSH_BUCKET_CAP
    )
    return (
        _bucket_pairs(blocks)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: word-3-gram shingles ->
    8 bands x 2-lane universal-hash minhash signatures (one md5 per
    shingle, lanes packed into a 62-bit long — see _MH_AB) computed per
    document -> bucket join on any matching band, with oversized
    buckets capped (see _LSH_BUCKET_CAP). Scale path for dedup: no
    O(n^2) pairs, the band bucketing is the only signature shuffle, and
    the cap bounds the worst bucket's fan-out at corpus scale."""
    return _minhash_pairs(_shingle_source(spark, sf_dir))


# shared CTE prefix: shingles -> capped b x r band signatures (kept in
# lockstep with _minhash_bands: 8 bands x 2 universal-hash lanes over one
# md5-derived base value, lanes packed into one 62-bit BIGINT, cap 50)
_BANDS_SQL = (
    """
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
shb AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
           % """
    + str(_MH_P)
    + """ AS hb
  FROM sh
),
bands0 AS (
  SELECT doc_id,
"""
    + ",\n".join(
        "         MIN((%d * hb + %d) %% %d) AS m%d"
        % (_MH_AB[i][0], _MH_AB[i][1], _MH_P, i)
        for i in range(_LSH_BANDS * _LSH_ROWS)
    )
    + """
  FROM shb GROUP BY doc_id
),
bandsu AS (
"""
    + "\n  UNION ALL\n".join(
        "  SELECT doc_id, %d AS band, (m%d << 31) + m%d AS mh FROM bands0"
        % (b, b * _LSH_ROWS, b * _LSH_ROWS + 1)
        for b in range(_LSH_BANDS)
    )
    + """
),
bands AS (
  SELECT doc_id, band, mh
  FROM (SELECT doc_id, band, mh,
               COUNT(*) OVER (PARTITION BY band, mh) AS bsz
        FROM bandsu)
  WHERE bsz <= 50
)
"""
)

_MINHASH_ORACLE = (
    "WITH "
    + _BANDS_SQL
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
"""
)


#: drop shingles occurring in more than this many documents before the
#: inverted-index self-join. The join is quadratic in per-shingle document
#: frequency, so one stop-shingle ("of the and") at corpus scale explodes
#: it; high-DF shingles also carry no near-dup signal (they are corpus
#: boilerplate). Jaccard is then computed over the informative-shingle
#: sets on BOTH sides of the ratio — a consistent semantic, not a biased
#: estimate of full-set Jaccard. _blocks applies the cap.
_SHINGLE_DF_CAP = 100


def _jaccard_filter(j):
    """(doc_a, doc_b, common, sz_a, sz_b) -> exact Jaccard, keep pairs
    >= 0.5 (floored x1000 for engine-stable comparison). The ONE
    threshold + stabilization definition shared by dedup_jaccard and the
    LSH cascade (_cascade_pairs) so they can never silently drift."""
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return j.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.floor(jac * 1000).cast("long").alias("jaccard_x1000")
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verification of near-dup candidates: exact overlap
    of distinct word-3-gram shingle sets over a shingle-inverted index
    (candidate pairs from shared shingles, never a cross join). Shingles
    with document frequency > _SHINGLE_DF_CAP are dropped first, which
    bounds the worst block at DF_CAP^2 pairs."""
    # one block per shingle: its capped, sorted posting list. Sizes and
    # pairs both read this single exchange; the k^2 pair fan-out streams
    # through the chained explode instead of a self-join's shuffle fetch.
    blocks = _blocks(
        _shingle_index(_shingle_source(spark, sf_dir)),
        ["sh"],
        "doc_id",
        _SHINGLE_DF_CAP,
    )
    sizes = (
        blocks.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = (
        _bucket_pairs(blocks)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
    )
    return _jaccard_filter(j)


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
sh AS (
  SELECT doc_id, sh
  FROM (SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh_all)
  WHERE df <= 100
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(floor(common * 1000.0 / (sa.sz + sb.sz - common)) AS BIGINT)
           AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
"""


def _cascade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard_x1000): MinHash-LSH
    candidates -> exact n-gram Jaccard >= 0.5. Shared by dedup_cascade
    and dedup_clusters.

    Both inputs derive row-local from the one per-document
    _shingle_source: the candidates from its band signatures, the
    intersection from its exploded index, whose rows carry each
    document's set size — so no per-document size aggregate or size
    join is needed.

    (An array_intersect formulation over per-document shingle-SET
    columns was tried in round 6 and rejected on measurement: the
    planner broadcasts the corpus-side set table at test scale, and
    with sort-merge hints the two set-array shuffles still measured
    slower than this exploded-index join, whose candidate side the
    planner broadcasts.)"""
    src = _shingle_source(spark, sf_dir)
    sh = _shingle_index(src)
    inter = (
        _minhash_pairs(src)
        .join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy(
            "doc_a",
            "doc_b",
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_filter(inter)


def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct near-dup pipeline: MinHash-LSH banding generates
    candidate pairs (no O(n^2) join), then exact n-gram Jaccard verifies
    only those candidates. At 100 TB the verify stage touches a vanishing
    fraction of the pair space while recall is bounded by the band count."""
    return _cascade_pairs(spark, sf_dir)


#: round cap for the connected-components loop. With root hooking the
#: round count grows with log2 of the component size whatever the order
#: of the ids: 8 rounds for 200-node paths and 10-11 for 2000-node paths
#: with shuffled ids (tests/test_clusters.py pins ceil(log2 n) + 2). 24
#: leaves a wide margin over that growth, so hitting the cap while labels
#: still change is a hard signal, not a tail case.
_CC_MAX_ROUNDS = 24


def _components(pairs: DataFrame):
    """Connected components of the undirected graph whose edges are the
    (doc_a, doc_b) rows of ``pairs``: returns (labels(node, lbl), rounds),
    lbl the least node id of node's component, one row per node that has
    an edge.

    Each round reads (u, lu, v, lv) rows, one per directed edge with the
    current label of each end, and takes ONE groupBy(node).min over three
    proposals: (u, lv) propagates a neighbour's label, (lu, lv) hooks the
    node u points at — the root of u's label tree — to the least label
    any of its members has seen, and (u, lu) keeps every node. Then one
    pointer jump, lbl <- least(lbl, lbl(lbl)): an inner self-join, since
    every label is a node of the same component and has its own row.
    Hooking roots as well as nodes is what makes the round count
    logarithmic: plain min-label propagation with pointer jumping needs
    rounds in the order of the diameter when ids are not sorted along a
    path.

    A label never rises (the node's own label is one of its proposals,
    and the jump takes a least), so the labels are unchanged exactly when
    their sum is: the sum is an Observation on the localCheckpoint that
    materializes each round, and no second job counts changes. Unchanged
    labels are the fixpoint, constant on each component and at most
    every member's id, hence the component minimum. Round 1 reads the
    checkpointed edges with every label equal to its node; per-round
    ``localCheckpoint`` truncates the lineage, so the plan never grows
    with the rounds. Raises if labels still change after _CC_MAX_ROUNDS
    rounds: the labeling would be incomplete."""
    # both edge directions from ONE pass over the pairs (explode of a
    # 2-struct array) — the union-of-two-selects form put the whole
    # cascade subtree in the plan twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .localCheckpoint()
    )
    rows = edges.select(
        "u", F.col("u").alias("lu"), "v", F.col("v").alias("lv")
    )
    # (node, proposed label): neighbour propagation, root hooking, self
    props = F.array(
        *(
            F.struct(F.col(n).alias("node"), F.col(lb).alias("lbl"))
            for n, lb in (("u", "lv"), ("lu", "lv"), ("u", "lu"))
        )
    )
    prev = None
    for rounds in range(1, _CC_MAX_ROUNDS + 1):
        best = (
            rows.select(F.explode(props).alias("_p"))
            .select("_p.node", "_p.lbl")
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        jump = best.toDF("_at", "_up")
        obs = Observation()
        labels = (
            best.join(jump, F.col("lbl") == F.col("_at"))
            .select("node", F.least("lbl", "_up").alias("lbl"))
            .observe(obs, F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"))
            .localCheckpoint()
        )
        total = obs.get["s"]
        # an empty graph sums to NULL in round 1 and stops there
        if total == prev:
            return labels, rounds
        prev = total
        rows = edges.join(labels.toDF("u", "lu"), "u").join(
            labels.toDF("v", "lv"), "v"
        )
    raise RuntimeError(
        "dedup_clusters: labels still changing after %d rounds — "
        "component structure is pathological; raise _CC_MAX_ROUNDS"
        % _CC_MAX_ROUNDS
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components (_components) over
    the cascade's verified pairs, turning pairwise matches into keep/drop
    decisions (keep doc_id == cluster_rep). The returned frame reads the
    checkpointed labels, so downstream actions never re-run the LSH
    cascade, and no caches are leaked.

    Contract note: unlike the other queries() entries, CONSTRUCTING this
    frame runs Spark jobs eagerly — iterative convergence needs per-round
    actions; there is no lazy formulation of an until-fixpoint loop. If
    the round cap is ever hit while labels still change (see
    _CC_MAX_ROUNDS), the labeling would be incomplete, so it raises
    instead of silently returning wrong cluster reps."""
    labels, _ = _components(_cascade_pairs(spark, sf_dir))
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_rep"),
        "cluster_size",
    )


_DEDUP_CASCADE_ORACLE = (
    "WITH "
    + _BANDS_SQL
    + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       CAST(floor(common * 1000.0 / (sa.sz + sb.sz - common)) AS BIGINT)
           AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
"""
)

# connected components over the cascade pairs: the oracle computes the
# transitive closure with a recursive CTE (UNION dedups, so it
# terminates) and labels every member with the component's min doc_id —
# exactly what the label-propagation fixpoint converges to.
_DEDUP_CLUSTERS_ORACLE = (
    """
WITH RECURSIVE p AS (
  SELECT doc_a, doc_b FROM (%s) cp
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
lab AS (SELECT u AS doc_id, MIN(v) AS cluster_rep FROM reach GROUP BY u),
sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_rep)
SELECT doc_id, cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size
FROM lab JOIN sz USING (cluster_rep)
"""
    % _DEDUP_CASCADE_ORACLE
)


#: SimHash width and banding: 60 fingerprint bits (15 md5 hex chars —
#: stays inside a signed 64-bit lane on both engines) split into 4 blocks
#: of 15. By pigeonhole, any pair at Hamming distance <= 3 shares at least
#: one full block, so candidates are the pairs inside each
#: (block_id, block_value) block, and the exact bit_count(xor) verify
#: touches candidates only.
_SIMHASH_BITS = 60
_SIMHASH_BLOCKS = 4
_SIMHASH_MAX_HAMMING = 3


#: the 60-bit SimHash fingerprint of a document as ONE SQL expression
#: over its shingle hashes hs: one pass over hs accumulates the 60 +1/-1
#: bit votes, then bit b is set when its vote is positive. hs appears
#: only as an argument, never inside a lambda body: Catalyst inlines a
#: once-referenced projection into its consumer, and a lambda body
#: re-evaluates its non-lambda subexpressions per element — the whole
#: shingle kernel would run once per bit.
_SIMHASH_FP_SQL = (
    "aggregate(transform(aggregate(hs, array_repeat(0, %d), "
    "(votes, h) -> transform(votes, "
    "(v, b) -> v + IF((shiftright(h, b) & 1) = 1, 1, -1))), "
    "(v, b) -> IF(v > 0, shiftleft(1L, b), 0L)), 0L, (fp, bit) -> fp | bit)"
    % _SIMHASH_BITS
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit sign-sum fingerprint over the
    document's shingle hashes, 4x15-bit block banding for candidates
    (Hamming <= 3 guarantees a shared block), exact Hamming verify.
    The fingerprint is computed per document from _shingle_source's
    hash array (_SIMHASH_FP_SQL), so the block bucketing is the first
    exchange after the source; candidates come from the block buckets,
    never an all-pairs comparison."""
    fps = _shingle_source(spark, sf_dir).select(
        "doc_id", F.expr(_SIMHASH_FP_SQL).alias("simhash")
    )
    width = _SIMHASH_BITS // _SIMHASH_BLOCKS
    mask = (1 << width) - 1
    blocks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(i) for i in range(_SIMHASH_BLOCKS)])
        ).alias("blk"),
    ).withColumn(
        "blk_val", F.expr(f"shiftright(simhash, blk * {width}) & {mask}")
    )
    # blocks of (doc_id, simhash) structs sort by doc_id (unique), so
    # a < b holds for every emitted pair exactly as the oracle join's
    # a.doc_id < b.doc_id. No cap: the oracle has none.
    cand = (
        _bucket_pairs(
            _blocks(blocks, ["blk", "blk_val"], F.struct("doc_id", "simhash"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(ham <= _SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
hashes AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
  FROM sh
),
votes AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashes, UNNEST(range(0, 60)) AS b(b)
  GROUP BY doc_id, b.b
),
fps AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, blk.blk,
         (simhash >> CAST(blk.blk * 15 AS INT)) & 32767 AS blk_val
  FROM fps, UNNEST(range(0, 4)) AS blk(blk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


#: sign-bit LSH for embeddings: _EMB_TABLES independent hash tables, each
#: keyed by _EMB_BITS sign bits over a disjoint slice of dimensions. For
#: isotropic vectors a table key collides with probability ~2^-_EMB_BITS,
#: so the candidate space is ~N^2 * _EMB_TABLES / 2^_EMB_BITS — at 8 bits
#: x 4 tables, a 64x reduction vs all-pairs; recall comes from the OR over
#: tables (a true near-dup agrees on most sign bits, so the chance all 4
#: disjoint 8-bit slices break is small). Oversized buckets (degenerate
#: regions) are capped like the minhash path; _blocks applies the cap.
_EMB_TABLES = 4
_EMB_BITS = 8
_EMB_BUCKET_CAP = 200


def _emb_dot(a, b):
    """Ordered-fold dot product of two array<double> column expressions —
    the fold order is load-bearing for bit-exact oracle parity."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _emb_norm(c):
    """sqrt of the ordered sum of squares — the ONE norm expression shared
    by every cosine form below, so a hoisted/staged norm is always the
    bit-identical double the inline form would have produced."""
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _emb_cos(a: str, b: str):
    """Cosine between two named array<double> columns."""
    a, b = F.col(a), F.col(b)
    return _emb_dot(a, b) / (_emb_norm(a) * _emb_norm(b))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e: array<double>) — the embeddings table as every
    embedding query reads it."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )


def _emb_lsh_keys(emb: DataFrame) -> DataFrame:
    """(vec_id, e) -> (vec_id, tab, bucket): the sign-bit blocking key of
    each vector in each table (uncapped; _blocks applies the bucket
    cap)."""
    tabs = emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(t) for t in range(_EMB_TABLES)])).alias("tab"),
        "e",
    )
    key = F.lit(0)
    for d in range(_EMB_BITS):
        key = key + F.when(
            F.element_at(F.col("e"), F.col("tab") * _EMB_BITS + d + 1) > 0,
            F.lit(2**d),
        ).otherwise(F.lit(0))
    return tabs.select("vec_id", "tab", key.cast("int").alias("bucket"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, LSH-bucket cascade: 4 tables of
    8 sign-bit keys over disjoint dimension slices restrict the candidate
    space (see _EMB_TABLES/_EMB_BITS), ids-only pair dedup across tables,
    then exact cosine verifies candidates (threshold 0.35 — the synthetic
    embeddings are near-orthogonal, so the tail above 0.35 is the
    "near-duplicate" set). The verify stage re-fetches vectors by id so
    the wide arrays never ride through the bucket shuffle."""
    emb = _embeddings(spark, sf_dir)
    blocks = _blocks(
        _emb_lsh_keys(emb), ["tab", "bucket"], "vec_id", _EMB_BUCKET_CAP
    )
    cand = (
        _bucket_pairs(blocks)
        .select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"))
        .distinct()
    )
    # per-vector norms computed once at the re-fetch (same _emb_norm
    # expression as the inline cosine -> bit-identical cos values),
    # instead of re-folding both norms per candidate pair
    embn = emb.select("vec_id", "e", _emb_norm(F.col("e")).alias("nrm"))
    pairs = (
        cand.join(
            embn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("e").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            embn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (_emb_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            .alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= 0.35).select(
        "vec_a", "vec_b", F.floor(F.col("cos") * 1000).cast("long").alias("cos_x1000")
    )


def _emb_bucket_sql_key() -> str:
    """SQL expression for the per-table sign-bit key (dims are 1-indexed
    in DuckDB; tab comes from an UNNEST alias)."""
    terms = [
        f"(CASE WHEN e[tab.tab * 8 + {d + 1}] > 0 THEN {2 ** d} ELSE 0 END)"
        for d in range(_EMB_BITS)
    ]
    return " + ".join(terms)


_EMB_BUCKETS_SQL = f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bucketed0 AS (
  SELECT vec_id, CAST(tab.tab AS INT) AS tab,
         CAST({_emb_bucket_sql_key()} AS INT) AS bucket
  FROM e, UNNEST(range(0, 4)) AS tab(tab)
),
bucketed AS (
  SELECT vec_id, tab, bucket
  FROM (SELECT vec_id, tab, bucket,
               COUNT(*) OVER (PARTITION BY tab, bucket) AS bsz
        FROM bucketed0)
  WHERE bsz <= 200
)
"""

_EMB_NEARDUP_ORACLE = (
    "WITH "
    + _EMB_BUCKETS_SQL
    + """,
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a JOIN bucketed b
    ON a.tab = b.tab AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         list_dot_product(ea.e, eb.e)
           / (sqrt(list_dot_product(ea.e, ea.e))
              * sqrt(list_dot_product(eb.e, eb.e))) AS cos
  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
              JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, CAST(floor(cos * 1000) AS BIGINT) AS cos_x1000
FROM pairs WHERE cos >= 0.35
"""
)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, distinct-token ratio, mean token
    length, repetition flag (integer-stabilized for comparison)."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        F.floor(nd * 1000 / n).cast("long").alias("distinct_ratio_x1000"),
        F.floor((F.length(F.col("text")) - (n - 1)) * 100 / n)
        .cast("long")
        .alias("mean_token_len_x100"),
        (nd * 1000 / n < 400).cast("int").alias("repetitive"),
    )


_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS nd
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(floor(nd * 1000.0 / n) AS BIGINT) AS distinct_ratio_x1000,
       CAST(floor((length(text) - (n - 1)) * 100.0 / n) AS BIGINT)
           AS mean_token_len_x100,
       CAST(nd * 1000.0 / n < 400 AS INT) AS repetitive
FROM t
"""


#: closed-class stopword profiles for the heuristic language scorer.
#: Scoring = whitespace-token membership counts over lowercased text —
#: identical semantics in Spark's higher-order filter() and DuckDB's
#: list_filter(), so the oracle matches bit-for-bit. Shared words
#: (es/fr "la") just contribute to both scores; strict argmax decides.
_LANG_PROFILES = {
    "en": ["the", "and", "of", "to"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "une"],
    "de": ["der", "die", "und", "nicht"],
}


def _lang_hits(text_col):
    """Per-language stopword token counts: whitespace-tokenize the
    lowercased text once, count tokens belonging to each profile with a
    higher-order filter. One compact loop per language in codegen —
    the per-word substring-count formulation blew janino's 64 KB
    method limit once the argmax below (and any pushed-down filter on
    its result) re-inlined every count several times."""
    toks = F.split(F.lower(text_col), r"\s+")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in _LANG_PROFILES.items()
    }


def _lang_pred(hits):
    """Strict-argmax decision over _lang_hits: any tie for the top
    score, including the all-zero case, yields 'und'."""
    langs = list(_LANG_PROFILES)
    best = F.greatest(*[hits[lang] for lang in langs])
    n_best = sum((hits[lang] == best).cast("int") for lang in langs)
    pred = F.lit("und")
    for lang in langs:
        pred = F.when(
            (best > 0) & (n_best == 1) & (hits[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return pred


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: per-language stopword-profile hit counts
    (4 languages) with a strict-argmax decision. Pure column
    expressions over the documents table; the synthetic corpus is
    English-vocab so the interesting part is the scoring plumbing,
    checked bit-for-bit vs the oracle."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    hits = _lang_hits(F.col("text"))
    # two projections on purpose: the argmax references each hit count
    # several times, so computing hits into named columns first keeps
    # the (expensive) counting expressions single-instance — Catalyst's
    # CollapseProject preserves the split for exactly this reason
    counted = docs.select(
        "doc_id",
        *[hits[lang].cast("long").alias(f"{lang}_hits") for lang in _LANG_PROFILES],
    )
    hcols = {lang: F.col(f"{lang}_hits") for lang in _LANG_PROFILES}
    return counted.select(
        "doc_id",
        *[f"{lang}_hits" for lang in _LANG_PROFILES],
        _lang_pred(hcols).alias("lang_pred"),
    )


_LANGID_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
  FROM documents
),
h AS (
  SELECT doc_id,
         len(list_filter(tk, x -> x IN ('the','and','of','to'))) AS en_hits,
         len(list_filter(tk, x -> x IN ('el','la','los','que'))) AS es_hits,
         len(list_filter(tk, x -> x IN ('le','les','des','une'))) AS fr_hits,
         len(list_filter(tk, x -> x IN ('der','die','und','nicht'))) AS de_hits
  FROM t
),
s AS (
  SELECT *, greatest(en_hits, es_hits, fr_hits, de_hits) AS best,
         CAST(en_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(es_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(fr_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(de_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           AS n_best
  FROM h
)
SELECT doc_id,
       CAST(en_hits AS BIGINT) AS en_hits,
       CAST(es_hits AS BIGINT) AS es_hits,
       CAST(fr_hits AS BIGINT) AS fr_hits,
       CAST(de_hits AS BIGINT) AS de_hits,
       CASE WHEN best = 0 OR n_best > 1 THEN 'und'
            WHEN en_hits = best THEN 'en'
            WHEN es_hits = best THEN 'es'
            WHEN fr_hits = best THEN 'fr'
            ELSE 'de' END AS lang_pred
FROM s
"""


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the selection a training-data
    pipeline actually materializes: quality gate (>= 10 tokens,
    distinct-token ratio >= 0.4), language gate (stopword-profile
    'en'), exact dedup (keep min doc_id per normalized-text md5),
    near-dup drop (only cluster representatives survive
    dedup_clusters), then a deterministic md5-keyed 18/1/1
    train/val/test split. Every stage is a column expression or an
    already-bucketed operator; the only driver-side work is
    dedup_clusters' convergence test, one label sum per round read from
    an Observation on that round's checkpoint."""
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hits = _lang_hits(F.col("text"))
    # hits as named columns first, argmax second (see q_text_langid:
    # fusing the re-referenced counts into one projection overflows
    # janino's 64 KB codegen limit)
    counted = docs.select(
        "doc_id",
        "text",
        n.cast("long").alias("n_tokens"),
        (nd * 1000 / n).alias("ratio"),
        F.md5(norm).alias("fp"),
        *[hits[lang].alias(f"_h_{lang}") for lang in _LANG_PROFILES],
    )
    hcols = {lang: F.col(f"_h_{lang}") for lang in _LANG_PROFILES}
    scored = counted.select(
        "doc_id",
        "text",
        "n_tokens",
        "ratio",
        "fp",
        _lang_pred(hcols).alias("lang_pred"),
    ).filter(
        (F.col("n_tokens") >= 10)
        & (F.col("ratio") >= 400)
        & (F.col("lang_pred") == "en")
    )
    # keep-min-doc_id-per-fingerprint as a min-of-struct AGGREGATE (the
    # struct compares doc_id first, which is unique): identical rows to
    # the row_number()-over-(fp, doc_id)-window form it replaces, but
    # with map-side partial aggregation and no per-partition sort
    exact = (
        scored.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "text", "n_tokens", "lang_pred")
            ).alias("_m")
        )
        .select("_m.doc_id", "_m.text", "_m.n_tokens", "_m.lang_pred")
    )
    dropped = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )
    kept = exact.join(dropped, "doc_id", "left_anti")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10).cast("long"),
        F.lit(20),
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        F.when(bucket < 18, F.lit("train"))
        .when(bucket == 18, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_CORPUS_CURATE_ORACLE = (
    """
WITH RECURSIVE clus AS (
  SELECT * FROM ("""
    + _DEDUP_CLUSTERS_ORACLE
    + """) c
),
scored AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
           * 1000.0
           / len(regexp_split_to_array(trim(text), '\\s+')) AS ratio,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
langp AS ("""
    + _LANGID_ORACLE
    + """),
gated AS (
  SELECT s.doc_id, s.text, s.n_tokens, s.fp, l.lang_pred
  FROM scored s JOIN langp l USING (doc_id)
  WHERE s.n_tokens >= 10 AND s.ratio >= 400 AND l.lang_pred = 'en'
),
exact AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM gated
),
kept AS (
  SELECT e.* FROM exact e
  WHERE e.rk = 1
    AND NOT EXISTS (SELECT 1 FROM clus c
                    WHERE c.doc_id = e.doc_id
                      AND c.doc_id <> c.cluster_rep)
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, lang_pred,
       CASE WHEN b < 18 THEN 'train' WHEN b = 18 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *,
             CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 20 AS b
      FROM kept)
"""
)


# GPT-2-style BPE pre-tokenizer, restricted to RE2-safe constructs so the
# exact same pattern (no lookahead) runs in both Spark (java.util.regex)
# and the DuckDB oracle (RE2): contractions, space-attached letter runs,
# space-attached digit runs, space-attached punctuation runs, then
# leftover whitespace runs (filtered out of the token count).
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: segment text with the GPT-2 pre-tokenizer
    regex (letter/digit/punct runs with leading-space attachment plus
    English contraction suffixes) and count tokens per class.  Pure
    column expressions — the whole stage stays in whole-stage codegen;
    chars_per_tok_x100 is the usual 'fertility' proxy for how many
    real BPE merges a tokenizer would spend on the document.

    The documents scan is rebalanced first: the regex extraction plus
    three per-token filter passes are the CPU-bound first stage, and
    documents.parquet is byte-small (one split) at test scales."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    nonws = F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))
    n = F.size(nonws)
    n_word = F.size(F.filter(nonws, lambda t: t.rlike(r"^ ?[A-Za-z]+$")))
    n_num = F.size(F.filter(nonws, lambda t: t.rlike(r"^ ?[0-9]+$")))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_bpe_tokens"),
        n_word.cast("long").alias("n_word_tokens"),
        n_num.cast("long").alias("n_num_tokens"),
        (n - n_word - n_num).cast("long").alias("n_other_tokens"),
        F.floor(F.length(F.col("text")) * 100 / F.greatest(n, F.lit(1)))
        .cast("long")
        .alias("chars_per_tok_x100"),
    )


_TEXT_TOKENS_ORACLE = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(
           regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'),
           t -> NOT regexp_matches(t, '^\\s+$')) AS ts
  FROM documents
),
c AS (
  SELECT doc_id, n_chars, len(ts) AS n,
         len(list_filter(ts, t -> regexp_matches(t, '^ ?[A-Za-z]+$'))) AS nw,
         len(list_filter(ts, t -> regexp_matches(t, '^ ?[0-9]+$'))) AS nn
  FROM toks
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bpe_tokens,
       CAST(nw AS BIGINT) AS n_word_tokens,
       CAST(nn AS BIGINT) AS n_num_tokens,
       CAST(n - nw - nn AS BIGINT) AS n_other_tokens,
       CAST(floor(n_chars * 100.0 / greatest(n, 1)) AS BIGINT)
           AS chars_per_tok_x100
FROM c
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# multimodal binary columns (decode / features / frame sampling stubs with
# real Spark plumbing — raptor_spark/functions/multimodal.py)
# --------------------------------------------------------------------------


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> typed metadata via an Arrow-batched
    map-only stage. Image rows carry REAL P6 PPM bytes and audio rows
    REAL RIFF/WAVE bytes (functions.multimodal.synth_media_real), and
    the codec='auto' decode genuinely parses those containers with the
    pure-Python PPM/WAV decoders (_parse_ppm / _parse_wav); video rows
    have no synthesizable container and take the documented stub path.
    The oracle reconstructs every field from the same deterministic
    derivations (PPM dims / WAV frame layout from doc_id arithmetic,
    video metadata from the payload's md5 bytes)."""
    from raptor_spark.functions.multimodal import (
        decode_media,
        synth_media_real,
    )
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return decode_media(synth_media_real(docs), codec="auto").select(
        "doc_id", "media_type", "byte_len", "width", "height", "channels", "ok"
    )


_MEDIA_DECODE_ORACLE = """
WITH m AS (
  SELECT doc_id, md5(text) AS h,
         CAST(doc_id % 3 AS INT) AS kind,
         CAST(doc_id % 13 + 2 AS INT) AS w,
         CAST(doc_id % 7 + 2 AS INT) AS hh,
         CAST(doc_id % 2 + 1 AS INT) AS ch,
         CAST(doc_id % 16 + 4 AS INT) AS frames
  FROM documents
),
b AS (
  SELECT *,
         CASE kind WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b0,
         (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS b1
  FROM m
)
SELECT doc_id, media_type,
       CAST(CASE kind
            WHEN 0 THEN length('P6' || chr(10) || w || ' ' || hh
                              || chr(10) || '255' || chr(10)) + w*hh*3
            WHEN 1 THEN 44 + frames*ch*2
            ELSE 64 END AS INT) AS byte_len,
       CAST(CASE kind WHEN 0 THEN w WHEN 1 THEN frames
            ELSE b0 % 64 + 1 END AS INT) AS width,
       CAST(CASE kind WHEN 0 THEN hh WHEN 1 THEN 8
            ELSE b1 % 64 + 1 END AS INT) AS height,
       CAST(CASE kind WHEN 0 THEN 3 WHEN 1 THEN ch
            ELSE 3 END AS INT) AS channels,
       TRUE AS ok
FROM b
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic feature extraction over the binary payload
    (sha256-derived stand-in for an embedding model), projected to
    scalar columns for exact oracle comparison."""
    from raptor_spark.functions.multimodal import extract_features, synth_media
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    feats = extract_features(synth_media(docs))
    return feats.select(
        "doc_id",
        *[
            F.element_at(F.col("feature"), i + 1).cast("double").alias("f%d" % i)
            for i in range(4)
        ],
    )


_MEDIA_FEATURES_ORACLE = """
WITH m AS (
  SELECT doc_id,
         sha256(repeat(md5(text), 4)) AS s
  FROM documents
),
d AS (
  SELECT doc_id, s,
         ((strpos('0123456789abcdef', substr(s, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 2, 1)) - 1) / 256.0 AS f0,
         ((strpos('0123456789abcdef', substr(s, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 4, 1)) - 1) / 256.0 AS f1,
         ((strpos('0123456789abcdef', substr(s, 5, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 6, 1)) - 1) / 256.0 AS f2,
         ((strpos('0123456789abcdef', substr(s, 7, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 8, 1)) - 1) / 256.0 AS f3
  FROM m
)
SELECT doc_id, f0, f1, f2, f3 FROM d
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: video payloads exploded to per-frame rows inside
    the Python stage (one row per 16-byte 'frame')."""
    from raptor_spark.functions.multimodal import sample_frames, synth_media
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return sample_frames(synth_media(docs)).select("doc_id", "frame_offset")


_MEDIA_FRAMES_ORACLE = """
SELECT doc_id, CAST(off AS INT) AS frame_offset
FROM documents, UNNEST([0, 16, 32, 48]) AS f(off)
WHERE CAST(doc_id % 3 AS INT) = 2
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column: query set =
    vec_id < 8, ranked among all candidates. Baseline ANN path; the
    candidate side broadcasts the (tiny) query set."""
    # stage each side's norm once per row (candidate norms were being
    # re-folded per (query, candidate) pair); _emb_norm is the module's
    # single ordered-fold norm, so sim = dot / (qn * cn) is bit-identical
    # to the inline _emb_cos it replaces
    withn = _embeddings(spark, sf_dir).select(
        "vec_id", "e", _emb_norm(F.col("e")).alias("nrm")
    )
    dots = (
        withn.alias("c")
        .crossJoin(F.broadcast(withn.filter(F.col("vec_id") < 8).alias("q")))
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
    )
    sim = _emb_dot(F.col("q.e"), F.col("c.e")) / (
        F.col("q.nrm") * F.col("c.nrm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    scored = dots.select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        sim.alias("sim"),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.col("rk").cast("int").alias("rk"))
    )


_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
           FROM embeddings),
q AS (SELECT vec_id, embedding FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding, c.embedding)
           / (sqrt(list_dot_product(q.embedding, q.embedding))
              * sqrt(list_dot_product(c.embedding, c.embedding))) AS sim
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk
FROM (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM scored) WHERE rk <= 10
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-space diagnostic for the ANN path: per (table,
    bucket) candidate-pair counts under the same 4-table x 8-sign-bit
    scheme embedding_neardup uses. The sum over this table is exactly the
    number of cosine evaluations the bucketed path pays — the evidence
    that the candidate space stays sub-quadratic. (The usable ANN query
    is ann_topk below.)"""
    # a bucket of k vectors contributes exactly k*(k-1)/2 ordered pairs,
    # so the count is pure arithmetic over bucket sizes — no pair row is
    # enumerated. Buckets of one vector have no pair, and buckets above
    # _EMB_BUCKET_CAP are the ones _blocks drops in embedding_neardup.
    return (
        _emb_lsh_keys(_embeddings(spark, sf_dir))
        .groupBy("tab", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k").between(2, _EMB_BUCKET_CAP))
        .select(
            "tab",
            "bucket",
            F.expr("CAST(k * (k - 1) DIV 2 AS BIGINT)").alias(
                "candidate_pairs"
            ),
        )
    )


_ANN_LSH_ORACLE = (
    "WITH "
    + _EMB_BUCKETS_SQL
    + """
SELECT a.tab, CAST(a.bucket AS INT) AS bucket, COUNT(*) AS candidate_pairs
FROM bucketed a JOIN bucketed b
  ON a.tab = b.tab AND a.bucket = b.bucket AND a.vec_id < b.vec_id
GROUP BY a.tab, a.bucket
"""
)


#: IVF-Flat coarse quantization, scale-parameterized: the cell count
#: grows as ~sqrt(N) with the corpus (so per-query probe work is
#: ~probes * N / cells = O(sqrt N), the classic IVF operating point),
#: and the codebook is FIT, not seeded: a deterministic hash-sampled
#: subset (~_IVF_SAMPLE_MULT vectors per cell) runs _IVF_ITERS rounds of
#: spherical-k-means Lloyd refinement, then the trained codebook
#: broadcasts to the assignment pass. The one-time build cost is the
#: N x cells assignment (embarrassingly parallel, no shuffle of the
#: vectors); per-query search touches only the probed cells. All float
#: reductions are ordered folds so the DuckDB oracle reproduces the
#: centroids bit-for-bit.
#: probes is the recall knob: trained k-means at cells ~ sqrt(N) SPLITS
#: natural clusters (k exceeds the cluster count), so a query's true
#: neighbors spread over a few adjacent cells — 4 probes recovers them
#: (measured: recall 0.34 @ 2 probes -> 0.55 @ 4 on the 16-cell corpus)
#: while per-query work stays ~probes * sqrt(N).
_IVF_PROBES = 4
_ANN_K = 10
_IVF_ITERS = 2

_IVF_MIN_CELLS = 16
_IVF_SAMPLE_MULT = 32


def _ivf_params(n: int):
    """(cells, sample_denom) for a corpus of n vectors — identical
    arithmetic to the par CTE in the oracle (floor(sqrt) on the DOUBLE
    sqrt, matching SQL, not isqrt)."""
    import math

    cells = max(_IVF_MIN_CELLS, int(math.floor(math.sqrt(n))))
    s = min(n, max(512, _IVF_SAMPLE_MULT * cells))
    return cells, max(1, n // s)


def _raise_bad_vector(rb, dim: int):
    """Name the first vector of an Arrow batch that is NULL, holds a
    NULL value or does not have ``dim`` values — which would otherwise
    surface as a reshape error or as NaN cosines."""
    for vid, v in zip(rb.column("vec_id").to_pylist(), rb.column("e").to_pylist()):
        if v is None:
            what = "NULL"
        elif len(v) != dim:
            what = "%d values long" % len(v)
        elif None in v:
            what = "holding a NULL value"
        else:
            continue
        raise ValueError(
            "ann: embedding of vec_id %s is %s; every embedding needs %d "
            "non-NULL values" % (vid, what, dim)
        )


def _ivf_assign(emb: DataFrame, cent_rows) -> DataFrame:
    """Full-corpus IVF cell assignment, (vec_id, e) -> (vec_id, cell, ne,
    nen), as ONE numpy mapInArrow stage (guide §4.2: hand whole batches
    to vectorized native code). The trained codebook (a cells x dim
    model artifact) ships in the task closure; the plan has NO join and
    NO exchange at all between the scan and the assignment output
    (test_plan_shape.py::test_ann_assign_no_exchange).

    Bit-exactness with the DuckDB oracle's ordered folds is preserved by
    accumulating PER DIMENSION IN ORDER: ``acc += E[:, d] * C[c, d]``
    applies, for every (row, cell) element, exactly the IEEE add/multiply
    sequence of the JVM fold it replaces (acc starts 0.0, one product
    added per dimension in ascending order) — vectorized ACROSS rows,
    ordered WITHIN each scalar accumulation. numpy.dot/np.sum would use
    pairwise/SIMD association and break the parity. Ties in the argmax
    go to the first (lowest) cell, matching ORDER BY ccos DESC, cell ASC.
    ``nen`` carries each vector's norm so the downstream re-rank cosine
    reuses it instead of re-walking the array per candidate."""
    import numpy as np
    import pyarrow as pa

    rows = sorted(cent_rows)
    cells = [c for c, _ in rows]
    C = np.array([ce for _, ce in rows], dtype=np.float64)  # cells x dim
    dim = C.shape[1]
    cn_acc = np.zeros(len(rows))
    for d in range(dim):
        cn_acc += C[:, d] * C[:, d]
    cn = np.sqrt(cn_acc)
    cell_ids = np.array(cells, dtype=np.int32)

    out_schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("cell", pa.int32()),
            ("ne", pa.list_(pa.float64())),
            ("nen", pa.float64()),
        ]
    )

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            e_col = rb.column("e")
            flat = e_col.flatten()
            lens = np.diff(e_col.offsets.to_numpy())
            if e_col.null_count or flat.null_count or (lens != dim).any():
                _raise_bad_vector(rb, dim)
            E = np.asarray(flat.to_numpy(zero_copy_only=False))
            E = E.reshape(n, dim)
            en_acc = np.zeros(n)
            dots = np.zeros((n, len(cells)))
            for d in range(dim):
                col = E[:, d]
                en_acc += col * col
                dots += col[:, None] * C[None, :, d]
            en = np.sqrt(en_acc)
            ccos = dots / (en[:, None] * cn[None, :])
            best = cell_ids[np.argmax(ccos, axis=1)]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("vec_id"),
                    pa.array(best, pa.int32()),
                    e_col,
                    pa.array(en, pa.float64()),
                ],
                schema=out_schema,
            )

    return emb.select("vec_id", "e").mapInArrow(
        run, schema="vec_id bigint, cell int, ne array<double>, nen double"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-k with a trained, scale-parameterized codebook:
    cells = max(16, floor(sqrt(N))) centroids are fit by 2 Lloyd rounds
    of spherical k-means over a deterministic hash sample (~32 vectors
    per cell), broadcast, and every vector is assigned to its max-cosine
    cell; queries (vec_id < 8) probe their _IVF_PROBES best cells and
    re-rank exactly inside them. Returns (query_id, neighbor_id, rk)
    like embedding_topk, whose brute-force ranks serve as the recall
    reference (tests/test_ann.py).

    Contract note: like Spark ML's KMeans.fit, training is EAGER at
    construction time — a handful of small jobs over the hash sample;
    the codebook is a model artifact (cells x dim doubles) collected to
    the driver and re-broadcast per round. Keeping the whole 2-round
    Lloyd lineage lazy was tried and rejected: the nested
    window/groupBy/join tree makes driver-side plan analysis quadratic
    (15s+ of pure planning at 44 cells). The returned SEARCH frame is a
    shallow lazy plan over the trained codebook. The assignment pass is
    genuinely map-only: the codebook rides as ONE broadcast
    array<struct> column and each vector folds over it (array_max of
    (ccos, -cell) structs) — no N x cells row expansion, no exchange
    between the scan and the assignment (gated by
    test_plan_shape.py::test_ann_assign_no_exchange); per-query search
    is ~probes * N / cells = O(sqrt N) behind a broadcast probe join.
    """
    emb = _embeddings(spark, sf_dir)
    n = emb.count()
    cells, denom = _ivf_params(n)
    hv = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    samp = emb.withColumn("hv", hv).filter(
        F.col("hv") % denom == 0
    ).localCheckpoint()
    # k-means++-style seeding stand-in: hash order is corpus-independent
    # and uniform, so the top-`cells` hash ranks are a deterministic
    # uniform seed draw. orderBy(...).limit(cells) is a parallel
    # TakeOrdered (partial top-K per partition, merged ordered on the
    # driver) — identical rows and order to the row_number()-over-a-
    # global-window form it replaces, which sorted the whole sample in
    # ONE task; cell = position in that order either way.
    seed_rows = (
        samp.select("hv", "vec_id", "e")
        .orderBy("hv", "vec_id")
        .limit(cells)
        .collect()
    )
    cent_rows = [(i, r["e"]) for i, r in enumerate(seed_rows)]

    def _cent_df(rows):
        # Python floats round-trip IEEE doubles exactly, so the collected
        # codebook re-enters the plan bit-identical
        return spark.createDataFrame(rows, "cell int, ce array<double>")

    for _ in range(_IVF_ITERS):
        # sample assignment through the same numpy mapInArrow stage the
        # full corpus uses (ordered per-dimension accumulation ->
        # bit-identical cosines; see _ivf_assign)
        win = _ivf_assign(samp, cent_rows).select(
            "cell", "vec_id", F.col("ne").alias("e")
        )
        # ordered fold (by vec_id) -> bit-exact across engines; a plain
        # SUM() would depend on partition-order float association.
        # ONE groupBy(cell) collects the cell's vectors sorted by vec_id
        # and folds each dimension across them in that order — the same
        # adds in the same order as the previous posexplode +
        # groupBy(cell, pos) + groupBy(cell) pair, without exploding
        # sample_size x dim rows through two exchanges.
        dim = len(cent_rows[0][1])
        cell_vecs = win.groupBy("cell").agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "e"))).alias("vs")
        )
        nce = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda p: F.aggregate(
                F.col("vs"),
                F.lit(0.0),
                lambda acc, v: acc + F.element_at(v["e"], p + 1),
            )
            / F.size("vs"),
        )
        newc = {
            r["cell"]: r["nce"]
            for r in cell_vecs.select("cell", nce.alias("nce")).collect()
        }
        # an empty cell keeps its previous centroid
        cent_rows = [
            (c, newc.get(c, ce)) for c, ce in cent_rows
        ]
    # full-corpus assignment: broadcast the codebook-as-a-column and fold
    # per row — map-only, the plan has NO exchange between the parquet
    # scan and the assignment (gated by test_plan_shape.py)
    assign = _ivf_assign(emb, cent_rows)
    # probe selection runs only over the 8 query vectors (top _IVF_PROBES
    # cells each): the crossJoin + window is 8 x cells rows, driver-trivial
    wp = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probe = (
        emb.filter(F.col("vec_id") < 8)
        .crossJoin(F.broadcast(_cent_df(cent_rows)))
        .select(
            F.col("vec_id").alias("query_id"), "cell",
            F.col("e").alias("qe"), _emb_cos("e", "ce").alias("ccos"),
        )
        .withColumn("crk", F.row_number().over(wp))
        .filter(F.col("crk") <= _IVF_PROBES)
        .select(
            "query_id", "cell", "qe",
            # query norm, computed once per probe row: the re-rank cosine
            # below reuses it per candidate (same _emb_norm expression ->
            # bit-identical sim values)
            _emb_norm(F.col("qe")).alias("qn"),
        )
    )
    # probe is queries x probes rows — broadcast it so the big assign side
    # joins map-side (no shuffle of vector payloads)
    cand = F.broadcast(probe).join(assign, "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_emb_dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nen")))
            .alias("sim"),
        )
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _ANN_K)
        .select("query_id", "neighbor_id", F.col("rk").cast("int").alias("rk"))
    )


_SQL_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b})))"
)


def _ivf_oracle_sql() -> str:
    """DuckDB mirror of q_ann_topk: same parameter arithmetic (par CTE),
    same hash sample/seeds, same unrolled Lloyd rounds with ordered-fold
    centroid means, same probe/re-rank."""
    it = """
asg{i} AS (
  SELECT s.vec_id, s.e, c.cell,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id
                            ORDER BY {cos_sc} DESC, c.cell ASC) AS rk
  FROM samp s, cent{p} c
),
win{i} AS (SELECT cell, vec_id, e FROM asg{i} WHERE rk = 1),
pe{i} AS (
  SELECT cell, vec_id, i - 1 AS pos, e[i] AS val
  FROM win{i}, UNNEST(range(1, len(e) + 1)) AS d(i)
),
dim{i} AS (
  SELECT cell, pos,
         list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
           / COUNT(*) AS mv
  FROM pe{i} GROUP BY cell, pos
),
newc{i} AS (SELECT cell, list(mv ORDER BY pos) AS nce FROM dim{i} GROUP BY cell),
cent{i} AS (
  SELECT c.cell, COALESCE(n.nce, c.ce) AS ce
  FROM cent{p} c LEFT JOIN newc{i} n ON n.cell = c.cell
)"""
    iters = "".join(
        "," + it.format(
            i=i + 1, p=i,
            cos_sc=_SQL_COS.format(a="s.e", b="c.ce"),
        )
        for i in range(_IVF_ITERS)
    )
    return (
        """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
par0 AS (SELECT COUNT(*) AS n FROM e),
par1 AS (SELECT n, GREATEST({min_cells}, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS cells
         FROM par0),
par AS (SELECT n, cells,
               GREATEST(1, n // LEAST(n, GREATEST(512, {mult} * cells))) AS denom
        FROM par1),
h AS (
  SELECT vec_id, e,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM e
),
samp AS (SELECT vec_id, e, hv FROM h, par WHERE hv % par.denom = 0),
seeds AS (
  SELECT vec_id, e,
         ROW_NUMBER() OVER (ORDER BY hv, vec_id) - 1 AS cell
  FROM samp
),
cent0 AS (SELECT cell, e AS ce FROM seeds, par WHERE cell < par.cells)"""
        + iters
        + """,
scored AS (
  SELECT e.vec_id, e.e, c.cell,
         {cos_full} AS ccos
  FROM e, cent{last} c
),
ranked AS (
  SELECT vec_id, e, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cell ASC) AS crk
  FROM scored
),
assign AS (SELECT vec_id, cell, e AS ne FROM ranked WHERE crk = 1),
probe AS (SELECT vec_id AS query_id, cell, e AS qe
          FROM ranked WHERE vec_id < 8 AND crk <= {probes}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {cos_qn} AS sim
  FROM probe p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk
FROM (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM cand) WHERE rk <= {k}
"""
    ).format(
        min_cells=_IVF_MIN_CELLS,
        mult=_IVF_SAMPLE_MULT,
        last=_IVF_ITERS,
        probes=_IVF_PROBES,
        k=_ANN_K,
        cos_full=_SQL_COS.format(a="e.e", b="c.ce"),
        cos_qn=_SQL_COS.format(a="p.qe", b="a.ne"),
    )


_ANN_TOPK_ORACLE = _ivf_oracle_sql()


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "kg_pipeline": q_kg_pipeline,
    "kg_pipeline_iceberg": q_kg_pipeline_iceberg,
    "kg_stream_incremental": q_kg_stream_incremental,
    "kg_parse_errors": q_kg_parse_errors,
    "resumable_manifest": q_resumable_manifest,
    "reassemble_sessions": q_reassemble_sessions,
    "ordinal_members": q_ordinal_members,
    "collection_chain": q_collection_chain,
    "reify_fanout": q_reify_fanout,
    "term_canonicalize": q_term_canonicalize,
    "nt_escape_line": q_nt_escape_line,
    "format_guess": q_format_guess,
    "rdfa_extract": q_rdfa_extract,
    "grddl_extract": q_grddl_extract,
    "feed_triples": q_feed_triples,
    "uri_mint": q_uri_mint,
    "file_uri_map": q_file_uri_map,
    "entity_link": q_entity_link,
    "kg_entity_link": q_kg_entity_link,
    "pred_histogram_salted": q_pred_histogram_salted,
    "serialize_grouped": q_serialize_grouped,
    "serialize_ntriples": q_serialize_ntriples,
    "serialize_roundtrip": q_serialize_roundtrip,
    "serialize_rt_turtle": _rt_query("turtle"),
    "serialize_rt_rdfxml": _rt_query("rdfxml"),
    "serialize_rt_rdfxml_abbrev": _rt_query("rdfxml-abbrev"),
    "serialize_rt_json": _rt_query("json"),
    "serialize_rt_dot": _rt_query("dot"),
    "serialize_rt_html": _rt_query("html"),
    "serialize_rt_rss10": q_serialize_rt_rss10,
    "serialize_rt_mkr": q_serialize_rt_mkr,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_cascade": q_dedup_cascade,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "embedding_neardup": q_embedding_neardup,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_tokens": q_text_tokens,
    "corpus_curate": q_corpus_curate,
    "doc_fingerprint": q_doc_fingerprint,
    "media_decode": q_media_decode,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "embedding_topk": q_embedding_topk,
    "ann_lsh": q_ann_lsh,
    "ann_topk": q_ann_topk,
}

ORACLES = {
    "kg_pipeline": _KG_ORACLE,
    "kg_pipeline_iceberg": _KG_ORACLE,
    "kg_stream_incremental": _KG_STREAM_ORACLE,
    "kg_parse_errors": _KG_ERRORS_ORACLE,
    "resumable_manifest": _RESUMABLE_MANIFEST_ORACLE,
    "reassemble_sessions": _REASSEMBLE_ORACLE,
    "ordinal_members": _ORDINAL_ORACLE,
    "collection_chain": _CHAIN_ORACLE,
    "reify_fanout": _REIFY_ORACLE,
    "term_canonicalize": _CANON_ORACLE,
    "nt_escape_line": _NT_ESCAPE_ORACLE,
    "format_guess": _GUESS_ORACLE,
    "rdfa_extract": _RDFA_ORACLE,
    "grddl_extract": _GRDDL_ORACLE,
    "feed_triples": _FEED_ORACLE,
    "uri_mint": _URI_MINT_ORACLE,
    "file_uri_map": _FILE_URI_ORACLE,
    "entity_link": _ENTITY_LINK_ORACLE,
    "kg_entity_link": _KG_ENTITY_LINK_ORACLE,
    "pred_histogram_salted": _PRED_HISTOGRAM_ORACLE,
    "serialize_grouped": _SERIALIZE_ORACLE,
    "serialize_ntriples": _SERIALIZE_NT_ORACLE,
    "serialize_roundtrip": _SERIALIZE_RT_ORACLE,
    "serialize_rt_turtle": _SERIALIZE_RT_ORACLE,
    "serialize_rt_rdfxml": _SERIALIZE_RT_ORACLE,
    "serialize_rt_rdfxml_abbrev": _SERIALIZE_RT_ORACLE,
    "serialize_rt_json": _SERIALIZE_RT_ORACLE,
    "serialize_rt_dot": _SERIALIZE_RT_ORACLE,
    "serialize_rt_html": _SERIALIZE_RT_ORACLE,
    "serialize_rt_rss10": _RSS10_RT_ORACLE,
    "serialize_rt_mkr": _MKR_RT_ORACLE,
    "dedup_exact": _DEDUP_EXACT_ORACLE,
    "dedup_minhash": _MINHASH_ORACLE,
    "dedup_jaccard": _JACCARD_ORACLE,
    "dedup_cascade": _DEDUP_CASCADE_ORACLE,
    "dedup_clusters": _DEDUP_CLUSTERS_ORACLE,
    "dedup_simhash": _SIMHASH_ORACLE,
    "embedding_neardup": _EMB_NEARDUP_ORACLE,
    "text_quality": _QUALITY_ORACLE,
    "text_langid": _LANGID_ORACLE,
    "text_tokens": _TEXT_TOKENS_ORACLE,
    "corpus_curate": _CORPUS_CURATE_ORACLE,
    "doc_fingerprint": _FINGERPRINT_ORACLE,
    "media_decode": _MEDIA_DECODE_ORACLE,
    "media_features": _MEDIA_FEATURES_ORACLE,
    "media_frames": _MEDIA_FRAMES_ORACLE,
    "embedding_topk": _TOPK_ORACLE,
    "ann_lsh": _ANN_LSH_ORACLE,
    "ann_topk": _ANN_TOPK_ORACLE,
}
