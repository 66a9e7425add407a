"""The measured workloads: seeded set-up, one timed pass, and the check
of each pass's output against the repository's DuckDB oracles
(``raptor_spark.queries.ORACLES``) computed in set-up over the same
input files.
"""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from raptor_spark import queries as Q
from raptor_spark.pipeline import build_graph
from raptor_spark.sources.transcripts import materialize_transcripts

TRIPLE_COLS = (
    "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph"
)
CORPUS_QUERIES = ("corpus_curate", "dedup_simhash", "embedding_neardup")


def spark_digest(df: DataFrame, cols) -> tuple:
    """(rows, order-independent digest): the sum over rows of the first
    32 bits of md5 over the '|'-joined column values; the same formula
    as oracle_digest, so the two compare exactly."""
    line = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(line), 1, 8), 16, 10).cast("long")
    r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return int(r[0]), int(r[1])


def oracle_digest(con, sql: str, cols) -> tuple:
    line = ", ".join(
        "coalesce(CAST(%s AS VARCHAR), '~')" % c for c in cols
    )
    r = con.sql(
        "SELECT count(*), coalesce(sum(CAST(('0x' || substr(md5("
        "concat_ws('|', %s)), 1, 8)) AS BIGINT)), 0) FROM (%s) o"
        % (line, sql)
    ).fetchone()
    return int(r[0]), int(r[1])


def normalize(cols, rows) -> list:
    """Rows as sorted tuples of strings, columns in name order, floats
    at 10 significant digits (the comparison tools/check_oracle.py
    makes)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None:
                vals.append("\x00NULL")
            elif isinstance(v, float):
                vals.append("%.10g" % v)
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def oracle_connection(data_dir: str, tables, temp_dir: str):
    con = duckdb.connect()
    con.execute("SET temp_directory = '%s'" % temp_dir)
    con.execute("SET threads = %d" % (os.cpu_count() or 1))
    for t in tables:
        con.execute(
            "CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data_dir, t)
        )
    return con


class Workload:
    """One workload: ``prepare`` writes the seeded inputs into a fresh
    directory and computes the expected outputs, ``program_setup`` is
    the program's own set-up over those inputs (timed into setup_s),
    ``run_pass`` is the timed unit of work, ``check`` returns None for a
    correct pass output or a one-line reason."""

    name = ""
    tables: tuple = ()
    #: warm-up time; no warm-up pass starts after it
    warm_s = 12.0

    def __init__(self, spark: SparkSession, sf: float):
        self.spark = spark
        self.sf = sf
        self.data_dir = ""
        self.rows = 0

    def write_inputs(self, data_dir: str, seed: int) -> dict:
        shutil.rmtree(data_dir, ignore_errors=True)
        self.data_dir = data_dir
        return inputs.write_tables(self.tables, self.sf, data_dir, seed)

    def program_setup(self, out_dir: str) -> None:
        """The program's set-up before the first pass; none by default."""

    def oracle(self, temp_dir: str):
        return oracle_connection(self.data_dir, self.tables, temp_dir)

    def once_check(self):
        """A check too costly for every pass, run once before the
        warm-up passes; None or a one-line reason."""
        return None


class KgBuild(Workload):
    """transcripts -> pipeline.build_graph -> digest of the triples."""

    name = "kg_build"
    tables = ("orders", "lineitem", "customer")

    def prepare(self, data_dir: str, seed: int) -> None:
        self.convs = self.write_inputs(data_dir, seed)["orders"]
        con = self.oracle(os.path.join(data_dir, "duck"))
        try:
            self.expected = oracle_digest(
                con, Q.ORACLES["kg_pipeline"], TRIPLE_COLS
            )
        finally:
            con.close()
        self.rows = self.expected[0]

    def program_setup(self, out_dir: str) -> None:
        """The transcript table, written the way the repository's own
        bench writes it."""
        self.tx_path = materialize_transcripts(
            self.spark, self.data_dir, out_dir=out_dir
        )

    def transcripts(self) -> DataFrame:
        return self.spark.read.parquet(self.tx_path)

    def run_pass(self):
        triples, _errors = build_graph(self.transcripts())
        return spark_digest(triples, TRIPLE_COLS)

    def check(self, out):
        if out != self.expected:
            return "kg_build digest %r != oracle %r" % (out, self.expected)
        return None

    def once_check(self):
        _triples, errors = build_graph(self.transcripts())
        n = errors.count()
        return None if n == 0 else "kg_build: %d parse errors" % n


class CorpusDedup(Workload):
    """queries.q_corpus_curate + q_dedup_simhash + q_embedding_neardup
    over the documents and embeddings tables, each collected."""

    name = "corpus_dedup"
    tables = ("documents", "embeddings")
    # the first pass compiles ~100 stage plans and takes ~2.5x a warm one
    warm_s = 25.0

    def prepare(self, data_dir: str, seed: int) -> None:
        self.rows = self.write_inputs(data_dir, seed)["documents"]
        con = self.oracle(os.path.join(data_dir, "duck"))
        try:
            self.expected = {}
            for q in CORPUS_QUERIES:
                res = con.sql(self._oracle_sql(con, q))
                self.expected[q] = normalize(res.columns, res.fetchall())
        finally:
            con.close()

    @staticmethod
    def _oracle_sql(con, q: str) -> str:
        sql = Q.ORACLES[q]
        cascade = Q.ORACLES["dedup_cascade"]
        if cascade in sql:
            # the same query with the near-dup pair set computed once:
            # DuckDB would otherwise re-evaluate it on every step of the
            # clusters oracle's recursive closure
            con.execute("CREATE OR REPLACE TEMP TABLE _cascade AS " + cascade)
            sql = sql.replace(cascade, "SELECT * FROM _cascade")
        return sql

    def run_query(self, q: str) -> tuple:
        df = getattr(Q, "q_" + q)(self.spark, self.data_dir)
        return df.columns, df.collect()

    def run_pass(self):
        return {q: self.run_query(q) for q in CORPUS_QUERIES}

    def check(self, out):
        for q in CORPUS_QUERIES:
            got = normalize(*out[q])
            if got != self.expected[q]:
                return "%s: %d rows differ from its oracle's %d" % (
                    q, len(got), len(self.expected[q])
                )
        return None


WORKLOADS = {w.name: w for w in (KgBuild, CorpusDedup)}
