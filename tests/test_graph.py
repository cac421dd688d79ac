"""PageRank tests: mass conservation, authority ordering, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dotnetvectorsearch_spark.operators.graph import pagerank_undirected


@pytest.fixture(scope="module")
def star_pairs(spark):
    # star: hub 0 connected to 1..4, plus an isolated pair (10, 11)
    rows = [Row(id_a=0, id_b=i) for i in range(1, 5)]
    rows.append(Row(id_a=10, id_b=11))
    return spark.createDataFrame(rows)


def test_pagerank_mass_conserved_and_hub_ranks_highest(star_pairs):
    ranks = {r.node: r.pagerank
             for r in pagerank_undirected(star_pairs, iters=5).collect()}
    assert len(ranks) == 7
    # no dangling nodes -> total rank mass stays 1 every iteration
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    hub, leaf = ranks[0], ranks[1]
    assert hub > leaf                      # authority concentrates
    assert ranks[1] == ranks[2] == ranks[3] == ranks[4]  # symmetry
    assert ranks[10] == ranks[11]


def test_pagerank_deterministic_across_partitionings(spark, star_pairs):
    a = {r.node: r.pagerank
         for r in pagerank_undirected(star_pairs).collect()}
    b = {r.node: r.pagerank
         for r in pagerank_undirected(
             star_pairs.repartition(7)).collect()}
    assert a == b   # decimal-summed contributions: bit-equal either way


def test_pagerank_driver_fast_path_matches_distributed(spark,
                                                      force_distributed):
    """The bounded driver fast path must be BIT-IDENTICAL to the
    distributed join loop — same decimal-summed recurrence, same
    HALF_UP rounding — on an irregular multi-component graph whose
    ranks exercise many distinct deg/rank combinations."""
    import random
    rnd = random.Random(7)
    rows = [(a, b) for a, b in
            {(rnd.randrange(60), rnd.randrange(60)) for _ in range(150)}
            if a != b]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = {r.node: r.pagerank
            for r in pagerank_undirected(pairs).collect()}
    with force_distributed():
        dist = {r.node: r.pagerank
                for r in pagerank_undirected(pairs).collect()}
    assert fast == dist
    # and through more iterations (deeper recurrence, more rounding)
    fast9 = {r.node: r.pagerank
             for r in pagerank_undirected(pairs, iters=9).collect()}
    with force_distributed():
        dist9 = {r.node: r.pagerank
                 for r in pagerank_undirected(pairs, iters=9).collect()}
    assert fast9 == dist9


def test_pagerank_null_id_takes_the_distributed_loop(spark,
                                                     force_distributed):
    """A null id never becomes a driver-side int64 node: the bounded
    path defers to the join loop, whose answer it must equal."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (None, 3), (3, 4)],
                                  "id_a long, id_b long")
    got = sorted(map(tuple, pagerank_undirected(pairs).collect()), key=str)
    with force_distributed():
        want = sorted(map(tuple, pagerank_undirected(pairs).collect()),
                      key=str)
    assert got == want
