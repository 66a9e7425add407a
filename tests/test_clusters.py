"""Connected components (queries._components) on degenerate graph shapes,
and the job budget of q_dedup_clusters.

Each shape's labels are pinned against a Python union-find (label = the
least id of the component), and its round count against
ceil(log2 n) + 2 for its largest component of n nodes: root hooking keeps
the rounds logarithmic whatever the order of the ids along a path.
"""

import math
import random

import pytest

from tests.test_checkpoint_resume import _count_jobs

SF_DIR = "/root/testdata/sf0.01"


def _path(ids):
    return [(a, b) for a, b in zip(ids, ids[1:])]


def _shuffled(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return ids


def _star(center, leaves):
    return [(center, leaf) for leaf in leaves]


# (pairs, nodes in the largest component)
SHAPES = {
    "path_sorted": (_path(list(range(200))), 200),
    "path_reversed": (_path(list(range(199, -1, -1))), 200),
    "path_shuffled_seed1": (_path(_shuffled(200, 1)), 200),
    "path_shuffled_seed2": (_path(_shuffled(200, 2)), 200),
    "star_min_at_center": (_star(0, range(1, 201)), 201),
    "star_min_on_leaf": (_star(150, [i for i in range(201) if i != 150]), 201),
    # ids near 2**62: 200 of them overflow a long sum, not the decimal one
    "isolated_pairs_large_ids": (
        [(2**62 + 2 * i + 1, 2**62 + 2 * i) for i in range(100)],
        2,
    ),
}


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_components_match_union_find(spark, shape):
    from raptor_spark.queries import _components

    pairs, n = SHAPES[shape]
    labels, rounds = _components(
        spark.createDataFrame(pairs, "doc_a long, doc_b long")
    )
    got = {r.node: r.lbl for r in labels.collect()}
    assert got == _union_find(pairs)
    assert rounds <= math.ceil(math.log2(n)) + 2, "%s: %d rounds" % (
        shape,
        rounds,
    )


def test_components_of_no_pairs(spark):
    from raptor_spark.queries import _components

    labels, rounds = _components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    assert labels.collect() == []
    assert rounds == 1


def test_dedup_clusters_job_budget(spark):
    """Building and collecting dedup_clusters at sf0.01 (2 rounds) starts
    at most 23 jobs: one checkpointing action per round, with the
    convergence sum observed on it instead of counted by a second job."""
    from raptor_spark.queries import q_dedup_clusters

    rows, jobs = _count_jobs(
        spark, lambda: q_dedup_clusters(spark, SF_DIR).collect()
    )
    assert rows
    assert jobs <= 23, "dedup_clusters started %d jobs" % jobs
