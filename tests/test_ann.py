"""ANN quality gates: ann_topk (IVF 2-probe) recall vs brute-force
embedding_topk, and the LSH candidate space staying sub-quadratic.

The reference has no ANN operator — these are the training-data-pipeline
extensions; the correctness driver checks both queries against DuckDB
oracles that replicate the same plan, so the ANN tests here check
*quality* (recall, candidate-count bounds), not value parity. The
shingle-family and hot-block tests at the end do check value parity
against the oracles: at sf0.01, on degenerate documents and at each
block cap's boundary.
"""

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_ann_topk_recall_vs_brute_force(spark):
    from raptor_spark.queries import q_ann_topk, q_embedding_topk

    exact = _pairs(q_embedding_topk(spark, SF_DIR))
    approx = _pairs(q_ann_topk(spark, SF_DIR))
    assert exact and approx
    recall = len(exact & approx) / len(exact)
    # 16-cell / 2-probe IVF over 10 synthetic clusters: queries probing
    # the right cluster cell recover most true neighbors. The floor is
    # deliberately conservative — the gate is "meaningfully better than
    # the ~12.5% a random 2-of-16-cell scan would give", with the exact
    # number recorded for the bench report.
    assert recall >= 0.5, f"recall {recall:.3f}"


def test_ann_topk_recall_at_64plus_cells(spark, tmp_path):
    """Scale-parameterization gate: on a corpus big enough that
    cells = floor(sqrt(N)) >= 64, the trained-codebook IVF path must
    still recover most brute-force neighbors. Replicates the sf0.01
    embeddings 32x under distinct vec_ids (clusters preserved; queries
    vec_id < 8 unchanged) so N ~ 6400 -> ~80 cells."""
    import pyspark.sql.functions as F

    from raptor_spark.queries import (
        _ivf_params,
        q_ann_topk,
        q_embedding_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n0 = emb.count()
    reps = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n0 * 10))
        for i in range(32)
    ]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    d = str(tmp_path / "sf_rep")
    import os

    os.makedirs(d, exist_ok=True)
    big.write.parquet(f"{d}/embeddings.parquet")
    cells, _denom = _ivf_params(n0 * 32)
    assert cells >= 64, cells
    exact = _pairs(q_embedding_topk(spark, d))
    approx = _pairs(q_ann_topk(spark, d))
    assert exact and approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall:.3f} at {cells} cells"


def test_ann_lsh_candidate_space_subquadratic(spark):
    from raptor_spark.queries import q_ann_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    total_pairs = n * (n - 1) // 2
    cand = sum(r.candidate_pairs for r in q_ann_lsh(spark, SF_DIR).collect())
    # 4 tables x 8 sign bits: candidate evaluations must stay well under
    # the all-pairs count (theory: ~4/256 of it for isotropic data; the
    # clustered synthetic data concentrates buckets, so allow 10x slack)
    assert cand < total_pairs * 0.20, (cand, total_pairs)


def test_simhash_pairs_are_near_duplicates(spark):
    """Hamming <= 3 SimHash pairs must be textually close: verify every
    reported pair also clears 0.5 word-3-gram Jaccard (the cascade's
    exact verifier) — SimHash is a coarser filter over the same corpus."""
    from raptor_spark.queries import q_dedup_cascade, q_dedup_simhash

    sim = {(r.doc_a, r.doc_b) for r in q_dedup_simhash(spark, SF_DIR).collect()}
    jac = {(r.doc_a, r.doc_b) for r in q_dedup_cascade(spark, SF_DIR).collect()}
    assert sim, "no simhash pairs found at sf0.01"
    # every simhash hit should be confirmed by exact Jaccard >= 0.5
    false_pos = sim - jac
    assert len(false_pos) <= len(sim) * 0.5, f"too many weak pairs: {false_pos}"


def _write_documents(d, docs):
    """docs -> d/documents.parquet as ONE file, readable by both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
        f"{d}/documents.parquet",
    )


def _oracle_mismatches(spark, sf_dir, names):
    """Run each named query on Spark and its ORACLES entry in DuckDB over
    the same parquet files; return {name: reason} for every query whose
    columns or normalized rows differ, and the Spark rows of each."""
    import os

    import duckdb

    from raptor_spark.queries import ORACLES, QUERIES
    from tools.check_oracle import normalize

    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        path = f"{sf_dir}/{table}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    bad, rows = {}, {}
    for name in names:
        sdf = QUERIES[name](spark, sf_dir)
        rows[name] = [r.asDict() for r in sdf.collect()]
        res = con.sql(ORACLES[name])
        if sorted(sdf.columns) != sorted(res.columns):
            bad[name] = "columns %s != %s" % (sdf.columns, res.columns)
            continue
        got = normalize([tuple(r.values()) for r in rows[name]], sdf.columns)
        want = normalize(res.fetchall(), res.columns)
        if got != want:
            bad[name] = "%d rows, oracle %d" % (len(got), len(want))
    con.close()
    return bad, rows


def test_shingles_short_doc_parity_with_oracle(spark, tmp_path):
    """Word-3-gram shingling must agree between the Spark column
    expression and the DuckDB oracle CTE for EVERY token count,
    including documents shorter than the shingle width: both sides
    drop sub-3-token docs entirely (no signature, never a candidate).
    The pre-fix versions diverged there — Spark emitted a short
    shingle, SQL a NULL — so two identical 2-token docs were a dup
    pair in Spark and invisible to the oracle."""
    import duckdb

    from raptor_spark.queries import _shingle_index, _shingle_source

    docs = [
        (1, "one"),
        (2, "two tokens"),
        (3, "now three tokens"),
        (4, "four whitespace split tokens"),
        (5, "  padded   with   extra   spaces  "),
    ]
    _write_documents(tmp_path, docs)
    spark_sh = {
        (r.doc_id, r.sh)
        for r in _shingle_index(_shingle_source(spark, str(tmp_path))).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    oracle_sh = set(
        con.execute(
            r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents
            )
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            """
        ).fetchall()
    )
    assert spark_sh == oracle_sh
    # sub-3-token docs have NO shingles on either side
    assert not any(d in (1, 2) for d, _ in spark_sh)
    # and a 3-token doc has exactly one
    assert sum(1 for d, _ in spark_sh if d == 3) == 1


def test_shingle_signatures_degenerate_docs_parity_with_oracle(spark, tmp_path):
    """Documents without a shingle — empty, whitespace-only, NULL, 1 and
    2 tokens — get no minhash/simhash signature and are in no pair, on
    Spark exactly as in the oracles. Without the source's shingle-count
    filter, array_min over an empty lane makes a NULL band key and the
    empty simhash vote a zero fingerprint, pairing all of them."""
    from raptor_spark.queries import _shingle_source

    fox = "the quick brown fox jumps over the lazy dog"
    docs = [
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "two tokens"),
        (5, None),
        (6, "now three tokens"),
        (7, fox),
        (8, fox),
        (9, "a b c a b c a b c a b c"),
        (10, "two tokens"),
    ]
    _write_documents(tmp_path, docs)
    d = str(tmp_path)
    assert {r.doc_id for r in _shingle_source(spark, d).collect()} == {6, 7, 8, 9}
    names = ["dedup_minhash", "dedup_simhash", "dedup_cascade"]
    bad, rows = _oracle_mismatches(spark, d, names)
    assert not bad, bad
    for name in names:
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows[name]}
        assert (7, 8) in pairs, (name, pairs)
        assert not {a for p in pairs for a in p} & {1, 2, 3, 4, 5, 10}, (
            name, pairs
        )


def test_shingle_family_parity_with_oracle(spark):
    """Every shingle-based query equals its DuckDB oracle at sf0.01 —
    the tier-1 share of tools/check_oracle.py for this family."""
    import time

    names = [
        "dedup_minhash",
        "dedup_jaccard",
        "dedup_cascade",
        "dedup_clusters",
        "dedup_simhash",
        "corpus_curate",
    ]
    t0 = time.time()
    bad, rows = _oracle_mismatches(spark, SF_DIR, names)
    assert not bad, bad
    assert all(rows[n] for n in names), {n: len(rows[n]) for n in names}
    print("shingle-family oracle parity: %.1f s" % (time.time() - t0))


def _group_pairs(ids):
    return {(a, b) for a in ids for b in ids if a < b}


@pytest.mark.parametrize(
    "name, cap",
    [("dedup_minhash", 50), ("dedup_jaccard", 100), ("dedup_simhash", None)],
)
def test_hot_block_cap_boundary_parity_with_oracle(spark, tmp_path, name, cap):
    """A block of exactly `cap` identical documents survives _blocks and
    pairs fully; a block of cap + 1 is dropped whole — on Spark exactly
    as in the oracle's COUNT(*) OVER window. The two groups share no
    token, so every block holds one group. simhash has no cap (nor does
    its oracle), so its 60- and 61-document groups both pair fully."""
    size = cap or 60
    kept = list(range(1, size + 1))
    hot = list(range(1001, 1001 + size + 1))
    docs = [(i, " ".join("k%d" % t for t in range(8))) for i in kept]
    docs += [(i, " ".join("h%d" % t for t in range(8))) for i in hot]
    _write_documents(tmp_path, docs)
    bad, rows = _oracle_mismatches(spark, str(tmp_path), [name])
    assert not bad, bad
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows[name]}
    assert _group_pairs(kept) <= pairs
    hot_pairs = _group_pairs(hot)
    if cap is None:
        assert hot_pairs <= pairs
    else:
        assert not hot_pairs & pairs


def test_hot_embedding_bucket_cap_boundary_parity_with_oracle(spark, tmp_path):
    """The embedding bucket cap at its boundary: 200 identical all-+1
    vectors share one bucket per table (kept, at _EMB_BUCKET_CAP), 201
    all--1 vectors another (dropped). embedding_neardup and ann_lsh
    equal their oracles, and only the kept group pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raptor_spark.queries import _EMB_BUCKET_CAP

    kept = list(range(_EMB_BUCKET_CAP))
    hot = list(range(1000, 1000 + _EMB_BUCKET_CAP + 1))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(kept + hot, pa.int64()),
                "embedding": pa.array(
                    [[1.0] * 32] * len(kept) + [[-1.0] * 32] * len(hot),
                    pa.list_(pa.float32()),
                ),
            }
        ),
        f"{tmp_path}/embeddings.parquet",
    )
    names = ["embedding_neardup", "ann_lsh"]
    bad, rows = _oracle_mismatches(spark, str(tmp_path), names)
    assert not bad, bad
    pairs = {(r["vec_a"], r["vec_b"]) for r in rows["embedding_neardup"]}
    assert pairs == _group_pairs(kept)
    k = _EMB_BUCKET_CAP
    assert sorted(r["candidate_pairs"] for r in rows["ann_lsh"]) == [
        k * (k - 1) // 2
    ] * 4


@pytest.mark.parametrize(
    "bad_row, why",
    [
        ((2, [0.0, 1.0]), "2 values long"),
        ((2, None), "NULL"),
        ((2, [0.0, None, 1.0]), "holding a NULL value"),
    ],
)
def test_ivf_assign_rejects_degenerate_vectors(spark, bad_row, why):
    """A ragged or NULL embedding fails the IVF assignment with an error
    naming its vec_id, instead of a reshape error or NaN cosines."""
    from raptor_spark.queries import _ivf_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), bad_row, (3, [0.0, 0.0, 1.0])],
        "vec_id bigint, e array<double>",
    ).coalesce(1)
    cent = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    with pytest.raises(Exception, match="vec_id 2 is %s" % why):
        _ivf_assign(emb, cent).collect()
