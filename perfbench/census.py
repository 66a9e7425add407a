"""Traced run: per-layer metrics of every pipeline the benchmark knows.

Layers are named after ``raptor_spark`` modules. Spans are recorded
around calls into each module's public functions from this file (the
program itself is not instrumented). A layer's self time is a staged
run up to and including the layer minus the staged run of its input;
intermediate tables are materialized untimed, so a layer is timed over
a stored copy of its input.

Every traced run measures all pipelines, whatever ``--workload`` names,
so each traced run reports the whole per-layer table:

- ``kg_build``: sources, reassemble, parse, canonical;
- ``kg_export``: serialize (writer and verification reparse) over a
  graph table built in set-up;
- ``kg_resume``: link and checkpoint (``pipeline.run_resumable`` into an
  empty directory, then again over the finished one);
- ``corpus_dedup``: the three dedup-family queries;
- ``kernel``: per-syntax parse, turtle write and turtle reparse costs,
  single-threaded in this process over a fixed sample of documents;
- ``spark_job``: the fixed cost of a job (``build_graph`` at sf 0.001,
  best of three) and, per pipeline, jobs, stages and tasks.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.kernel import turtle as T
from raptor_spark.kernel.serialize import to_turtle
from raptor_spark.operators.canonical import relabel_bnodes
from raptor_spark.operators.link import customer_entities, link_entities
from raptor_spark.operators.parse import parse_documents, parse_one, triples_of
from raptor_spark.operators.reassemble import reassemble
from raptor_spark.operators.serialize import (
    serialize_bytes,
    serialize_roundtrip_counts,
)
from raptor_spark.pipeline import build_graph, run_resumable
from raptor_spark.queries import ORACLES
from workloads import (
    CORPUS_QUERIES,
    TRIPLE_COLS,
    CorpusDedup,
    KgBuild,
    oracle_connection,
    oracle_digest,
    spark_digest,
)

#: buckets of the resumable materialization (one per shuffle partition)
RESUME_BUCKETS = 16
FIXED_RUNS = 3
#: documents of the kernel sample: conversations ord-0 .. ord-(N-1)
KERNEL_SAMPLE = 600
KERNEL_FORMATS = ("ntriples", "nquads", "turtle", "trig", "rdfxml", "json")


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once, at the end of the run."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; returns (result, seconds)."""
        with self.span(name) as rec:
            out = fn()
        return out, rec["end"] - rec["start"]

    def self_time(self, rec) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(
            s["end"] - s["start"] for s in kids
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Jobs, stages and tasks of a block of work, counted through a
    job group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, fn):
        self.n += 1
        group = "perfbench-%d" % self.n
        self.sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out, self.counts(group)

    def counts(self, group: str) -> dict:
        """Stages and tasks that ran. A job lists every stage of its
        graph, and a stage whose shuffle output is reused stays listed,
        as skipped, with all of its tasks; so a stage counts only when
        one of its tasks ran, and tasks count as they completed or
        failed."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                ran = 0 if si is None else (
                    si.numCompletedTasks + si.numFailedTasks
                )
                if ran:
                    stages += 1
                    tasks += ran
                    failed += si.numFailedTasks
        return {
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed,
        }


def scan_agg(df: DataFrame) -> tuple:
    """Rows and total string length of every string column: an action
    that must read every column."""
    strs = [f.name for f in df.schema.fields if f.dataType.typeName() == "string"]
    r = df.agg(
        F.count(F.lit(1)),
        *[F.coalesce(F.sum(F.length(c)), F.lit(0)) for c in strs],
    ).first()
    return int(r[0]), int(sum(r[1:]))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class Census:
    def __init__(self, spark, work, log):
        self.spark = spark
        self.work = work
        self.log = log
        self.tr = Tracer()
        self.jobs = JobCounter(spark)
        self.m = {}
        self.units = {}
        self.failures = []
        self.attempted = 0

    def put(self, name, value, unit):
        self.m[name] = value
        self.units[name] = unit

    def put_jobs(self, prefix, counts):
        for k, v in counts.items():
            self.put("%s.spark_job.%s" % (prefix, k), v, "count")

    def expect(self, what: str, ok: bool, detail="") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append("%s %s" % (what, detail))
            self.log("check FAILED: %s %s" % (what, detail))

    def path(self, name):
        return os.path.join(self.work, "census", name)

    # -- kg_build: sources -> reassemble -> parse -> canonical ----------
    def kg_build(self, kb: KgBuild):
        read = self.spark.read.parquet
        tr = self.tr
        out, _ = tr.timed("kg_build.warmup", kb.run_pass)
        self.expect("kg_build warm-up digest", out == kb.expected)

        (turns, text_bytes), scan_s = tr.timed(
            "kg_build.sources", lambda: scan_agg(kb.transcripts())
        )
        self.put("kg_build.sources.scan_s", scan_s, "s")
        self.put("kg_build.sources.turns", turns, "count")
        self.put("kg_build.sources.text_bytes", text_bytes, "bytes")

        docs_df = lambda: reassemble(kb.transcripts(), extra_cols=("tool",))
        r, t = tr.timed(
            "kg_build.reassemble",
            lambda: docs_df().agg(
                F.count(F.lit(1)), F.sum(F.length("doc_text"))
            ).first(),
        )
        self.put("kg_build.reassemble.self_s", t - scan_s, "s")
        self.put("kg_build.reassemble.docs", int(r[0]), "count")
        self.put("kg_build.reassemble.doc_bytes", int(r[1]), "bytes")
        docs_path = self.path("docs")
        docs_df().write.parquet(docs_path)

        _, t_docs = tr.timed(
            "kg_build.docs_scan", lambda: scan_agg(read(docs_path))
        )
        parsed = lambda: parse_documents(read(docs_path), dedup_per_doc=True)
        internal = F.col("error_message").startswith("internal:")
        r, t = tr.timed(
            "kg_build.parse",
            lambda: parsed().agg(
                F.sum((F.col("rec") == "t").cast("long")),
                F.sum(((F.col("rec") == "e") & ~internal).cast("long")),
                F.sum(((F.col("rec") == "e") & internal).cast("long")),
            ).first(),
        )
        self.put("kg_build.parse.self_s", t - t_docs, "s")
        self.put("kg_build.parse.triples_out", int(r[0] or 0), "count")
        self.put("kg_build.parse.errors_out", int(r[1] or 0), "count")
        self.put("kg_build.parse.internal_errors_out", int(r[2] or 0), "count")
        self.expect("kg_build parse errors", not (r[1] or r[2]), str(r))
        tri_path = self.path("triples")
        triples_of(parsed()).write.parquet(tri_path)

        _, t_tri = tr.timed(
            "kg_build.triples_scan",
            lambda: spark_digest(read(tri_path), TRIPLE_COLS),
        )
        dig, t = tr.timed(
            "kg_build.canonical",
            lambda: spark_digest(relabel_bnodes(read(tri_path)), TRIPLE_COLS),
        )
        self.expect("kg_build relabel digest", dig == kb.expected)
        self.put("kg_build.canonical.relabel_self_s", t - t_tri, "s")
        # kg_resume's checkpoint self time subtracts these same layers
        self.kg_layers_s = layers = sum(
            self.m["kg_build." + k]
            for k in ("sources.scan_s", "reassemble.self_s", "parse.self_s",
                      "canonical.relabel_self_s")
        )

        with tr.span("kg_build.traced_pass") as rec:
            out, counts = self.jobs.run(lambda: self._traced_kg_pass(kb))
        traced = rec["end"] - rec["start"]
        self.expect("kg_build traced digest", out == kb.expected)
        self.put_jobs("kg_build", counts)
        self.put("kg_build.remainder_s", traced - layers, "s")
        out, untraced = tr.timed("kg_build.untraced_pass", kb.run_pass)
        self.expect("kg_build untraced digest", out == kb.expected)
        self.put("kg_build.trace_overhead_s", traced - untraced, "s")

    def _traced_kg_pass(self, kb: KgBuild):
        tr = self.tr
        with tr.span("sources.read"):
            tx = kb.transcripts()
        with tr.span("pipeline.build_graph"):
            triples, _errors = build_graph(tx)
        with tr.span("digest"):
            return spark_digest(triples, TRIPLE_COLS)

    # -- kg_export: serialize over the stored graph ---------------------
    def kg_export(self, kb: KgBuild):
        graph_path = self.path("graph")
        build_graph(kb.transcripts())[0].select(
            "conv_id", *TRIPLE_COLS
        ).write.parquet(graph_path)
        con = oracle_connection(
            kb.data_dir, kb.tables, self.path("duck_export")
        )
        try:
            expected = oracle_digest(
                con, ORACLES["serialize_rt_turtle"], ("conv_id", "n_triples")
            )
        finally:
            con.close()
        graph = lambda: self.spark.read.parquet(graph_path)
        tr = self.tr

        _, scan_s = tr.timed("kg_export.sources", lambda: scan_agg(graph()))
        self.put("kg_export.sources.scan_s", scan_s, "s")

        def export():
            r, t_w = tr.timed(
                "kg_export.serialize.writer",
                lambda: serialize_bytes(graph(), "turtle").agg(
                    F.count(F.lit(1)), F.sum("n_bytes")
                ).first(),
            )
            dig, t_rt = tr.timed(
                "kg_export.serialize.roundtrip",
                lambda: spark_digest(
                    serialize_roundtrip_counts(graph(), fmt="turtle"),
                    ("conv_id", "n_triples"),
                ),
            )
            return r, t_w, dig, t_rt

        (r, t_w, dig, t_rt), counts = self.jobs.run(export)
        self.expect("kg_export roundtrip digest", dig == expected,
                    "%r != %r" % (dig, expected))
        self.put("kg_export.serialize.writer_s", t_w - scan_s, "s")
        self.put("kg_export.serialize.reparse_s", t_rt - t_w, "s")
        self.put("kg_export.serialize.groups", int(r[0]), "count")
        self.put("kg_export.serialize.bytes_out", int(r[1]), "bytes")
        self.put_jobs("kg_export", counts)

    # -- kg_resume: link + checkpoint -----------------------------------
    def kg_resume(self, kb: KgBuild):
        tr = self.tr
        ent = customer_entities(self.spark, kb.data_dir)
        n_convs = kb.convs
        decisions, t = tr.timed(
            "kg_resume.link",
            lambda: link_entities(kb.transcripts(), ent).count(),
        )
        link_s = t - self.m["kg_build.sources.scan_s"]
        self.put("kg_resume.link.self_s", link_s, "s")
        self.put("kg_resume.link.decisions", decisions, "count")

        out = self.path("resume")
        run = lambda: run_resumable(
            self.spark, kb.transcripts(), out, n_buckets=RESUME_BUCKETS,
            entities=ent,
        ).collect()

        def both():
            first, t_w = tr.timed("kg_resume.checkpoint.write", run)
            second, t_r = tr.timed("kg_resume.checkpoint.resume", run)
            return first, t_w, second, t_r

        (first, t_w, second, t_r), counts = self.jobs.run(both)
        tot = lambda k: sum(row[k] or 0 for row in first)
        self.expect(
            "kg_resume manifest totals",
            (tot("convs"), tot("triples"), tot("errors"), tot("link_decisions"))
            == (n_convs, kb.expected[0], 0, n_convs),
            str((tot("convs"), tot("triples"), tot("errors"),
                 tot("link_decisions"))),
        )
        self.expect("kg_resume second pass wrote nothing", len(second) == 0)
        self.put(
            "kg_resume.checkpoint.write_s", t_w - self.kg_layers_s - link_s, "s"
        )
        self.put("kg_resume.checkpoint.resume_s", t_r, "s")
        self.put("kg_resume.checkpoint.bytes_written", dir_bytes(out), "bytes")
        self.put("kg_resume.checkpoint.buckets_written", len(first), "count")
        self.put(
            "kg_resume.checkpoint.buckets_skipped",
            RESUME_BUCKETS - len(second), "count",
        )
        self.put_jobs("kg_resume", counts)

    # -- corpus_dedup: the dedup-family queries -------------------------
    def corpus_dedup(self, cd: CorpusDedup):
        tr = self.tr
        _, scan_s = tr.timed(
            "corpus_dedup.sources",
            lambda: [
                scan_agg(self.spark.read.parquet(
                    os.path.join(cd.data_dir, t + ".parquet")))
                for t in cd.tables
            ],
        )
        self.put("corpus_dedup.sources.scan_s", scan_s, "s")
        out, _ = tr.timed("corpus_dedup.warmup", cd.run_pass)
        self.expect("corpus_dedup warm-up", cd.check(out) is None)

        def traced():
            outs = {}
            for q in CORPUS_QUERIES:
                outs[q], t = tr.timed(
                    "corpus_dedup.queries." + q, lambda: cd.run_query(q)
                )
                self.put("corpus_dedup.queries.%s_s" % q, t, "s")
                self.put(
                    "corpus_dedup.queries.%s_rows" % q, len(outs[q][1]),
                    "count",
                )
            return outs

        with tr.span("corpus_dedup.traced_pass") as rec:
            out, counts = self.jobs.run(traced)
        traced_s = rec["end"] - rec["start"]
        self.expect("corpus_dedup traced", cd.check(out) is None)
        self.put_jobs("corpus_dedup", counts)
        self.put("corpus_dedup.remainder_s", self.tr.self_time(rec), "s")
        out, untraced = tr.timed("corpus_dedup.untraced_pass", cd.run_pass)
        self.expect("corpus_dedup untraced", cd.check(out) is None)
        self.put("corpus_dedup.trace_overhead_s", traced_s - untraced, "s")

    # -- kernel: single-threaded per-syntax costs -----------------------
    def kernel(self):
        rows = (
            self.spark.read.parquet(self.path("docs"))
            .filter(
                F.expr("cast(substr(conv_id, 5) as long)") < KERNEL_SAMPLE
            )
            .select("conv_id", "doc_text", "tool")
            .orderBy("conv_id")
            .collect()
        )

        def per_triple(fn, items):
            """Best of three sweeps, in microseconds per triple."""
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                n = sum(fn(x) for x in items)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return 1e6 * best / max(n, 1)

        graphs = []
        with self.tr.span("kernel"):
            for fmt in KERNEL_FORMATS:
                docs = [r["doc_text"] for r in rows if r["tool"] == fmt]
                self.put(
                    "kernel.parse_us_per_triple." + fmt,
                    per_triple(lambda d: len(parse_one(d, fmt)[0]), docs),
                    "us/triple",
                )
                graphs += [list(dict.fromkeys(parse_one(d, fmt)[0]))
                           for d in docs]
            written = [to_turtle(g) for g in graphs]
            def write(g):
                to_turtle(g)
                return len(g)

            self.put(
                "kernel.write_us_per_triple.turtle",
                per_triple(write, graphs),
                "us/triple",
            )
            self.put(
                "kernel.reparse_us_per_triple.turtle",
                per_triple(
                    lambda d: len(T.parse_document(
                        d, base_uri="http://roundtrip/")[0]),
                    written,
                ),
                "us/triple",
            )

    # -- spark_job: fixed per-job cost ----------------------------------
    def fixed(self, tiny: KgBuild):
        best = None
        for i in range(FIXED_RUNS):
            out, t = self.tr.timed("spark_job.fixed", tiny.run_pass)
            self.expect("spark_job.fixed digest", out == tiny.expected)
            best = t if best is None else min(best, t)
        self.put("spark_job.fixed_s", best, "s")


def run(spark, args, scale: dict, fixed_sf: float, log) -> dict:
    """The traced run; ``scale`` maps each pipeline's workload to its
    scale factor, ``fixed_sf`` sizes the fixed-cost probe. Returns the
    result object of run.py's contract."""
    c = Census(spark, args.work, log)
    kb = KgBuild(spark, scale["kg_build"])
    cd = CorpusDedup(spark, scale["corpus_dedup"])
    tiny = KgBuild(spark, fixed_sf)
    t0 = time.perf_counter()
    for wl, name in ((kb, "kg"), (cd, "corpus"), (tiny, "tiny")):
        wl.prepare(os.path.join(args.work, name), args.seed)
        wl.program_setup(os.path.join(args.work, name + "_setup"))
    os.makedirs(c.path(""), exist_ok=True)
    log("census set-up %.2f s" % (time.perf_counter() - t0))
    for step in (
        lambda: c.kg_build(kb),
        lambda: c.kernel(),
        lambda: c.kg_export(kb),
        lambda: c.kg_resume(kb),
        lambda: c.corpus_dedup(cd),
        lambda: c.fixed(tiny),
    ):
        t1 = time.perf_counter()
        step()
        log("census step %.2f s" % (time.perf_counter() - t1))
    trace_path = os.path.join(
        os.path.dirname(args.work),
        "trace-%s-seed%d.json" % (args.workload, args.seed),
    )
    c.tr.write(trace_path)
    for k in sorted(c.m):
        log("%-48s %14.4f  %s" % (k, c.m[k], c.units[k]))
    log("spans written to %s" % trace_path)
    return {
        "correct": not c.failures,
        "attempted": c.attempted,
        "failed": len(c.failures),
        "metrics": {
            k: {"value": v, "unit": c.units[k]} for k, v in c.m.items()
        },
    }
