"""Tests for operators/graph.py (triangles, PageRank) and
functions/sketches.py (cross-engine HLL)."""

from __future__ import annotations

import collections
import itertools
import math
import random
import re

import pytest
from pyspark.sql import functions as F

from spark_tensors_spark.functions.sketches import hll_estimate
from spark_tensors_spark.operators.graph import (
    pagerank,
    triangle_counts,
    undirect_edges,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _brute_triangles(pairs):
    """Per-node triangle counts by enumerating all node triples."""
    adj = set()
    nodes = set()
    for u, v in pairs:
        if u != v:
            adj.add((min(u, v), max(u, v)))
            nodes.update((u, v))
    counts: dict[int, int] = {}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if (a, b) in adj and (a, c) in adj and (b, c) in adj:
            for x in (a, b, c):
                counts[x] = counts.get(x, 0) + 1
    return counts


def test_triangles_k4(spark):
    # K4: every vertex is in C(3,2) = 3 triangles
    pairs = list(itertools.combinations(range(4), 2))
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_path_has_none(spark):
    pairs = [(i, i + 1) for i in range(10)]
    assert triangle_counts(_edges_df(spark, pairs)).count() == 0


def test_triangles_match_brute_force_random(spark):
    rng = random.Random(7)
    pairs = [
        (rng.randrange(30), rng.randrange(30)) for _ in range(120)
    ]
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    assert got == _brute_triangles(pairs)


def test_triangles_input_form_irrelevant(spark):
    # duplicates, self-loops, and reversed duplicates must not change
    # counts (undirect_edges normal form)
    base = [(0, 1), (1, 2), (0, 2)]
    noisy = base + [(1, 0), (2, 2), (0, 1), (2, 0)]
    a = sorted(
        map(tuple, triangle_counts(_edges_df(spark, base)).collect())
    )
    b = sorted(
        map(tuple, triangle_counts(_edges_df(spark, noisy)).collect())
    )
    assert a == b == [(0, 1), (1, 1), (2, 1)]


def test_undirect_edges_normal_form(spark):
    e = undirect_edges(
        _edges_df(spark, [(2, 1), (1, 2), (3, 3), (1, 2)])
    ).collect()
    assert sorted(map(tuple, e)) == [(1, 2)]


def test_pagerank_cycle_uniform(spark):
    # directed n-cycle: uniform rank is the exact fixed point, and the
    # power iteration preserves it from the uniform start
    n = 8
    pairs = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(pairs, "s long, d long")
    ranks = {r.node: r.rank for r in pagerank(df, "s", "d").collect()}
    assert len(ranks) == n
    for v in ranks.values():
        assert v == pytest.approx(1.0 / n, rel=1e-12)


def test_pagerank_star_center_dominates(spark):
    # all leaves point at the hub: hub rank must exceed any leaf's, and
    # leaves (no in-edges) sit at exactly (1-d)/n
    n = 10
    pairs = [(i, 0) for i in range(1, n)]
    df = spark.createDataFrame(pairs, "s long, d long")
    ranks = {r.node: r.rank for r in pagerank(df, "s", "d").collect()}
    leaf = (1 - 0.85) / n
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0)
    for k in range(1, n):
        assert ranks[k] == pytest.approx(leaf, rel=1e-12)


def test_hll_error_within_bound(spark):
    # 1.04/sqrt(m) standard error; assert within 4 sigma at m=1024
    n = 20_000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("val")
    )
    est = hll_estimate(df, "val", ["g"]).collect()[0].hll_estimate
    assert abs(est - n) / n < 4 * 1.04 / math.sqrt(1024)


def test_hll_insensitive_to_duplication(spark):
    # the sketch registers are max-aggregated: duplicating every row
    # must leave the estimate bit-identical
    df = spark.range(5_000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("val")
    )
    once = hll_estimate(df, "val", ["g"]).collect()[0].hll_estimate
    twice = hll_estimate(df.union(df), "val", ["g"]).collect()[0].hll_estimate
    assert once == twice


def test_graph_queries_no_cartesian(spark):
    import contextlib
    import io

    from spark_tensors_spark.queries import graph_queries as gq
    from tests.conftest import SF_SMOKE

    for fn in (gq.QUERIES["graph_triangles"],):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_SMOKE).explain("formatted")
        p = buf.getvalue()
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_cms_never_underestimates(spark):
    from spark_tensors_spark.functions.sketches import (
        cms_estimate,
        cms_sketch,
    )

    rng = random.Random(11)
    # zipf-ish skew: key k appears ~ 200/k times
    rows = [(f"k{k}",) for k in range(1, 60) for _ in range(200 // k)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "val string").coalesce(2)
    exact = {r.val: r.n for r in df.groupBy("val").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    sk = cms_sketch(df, "val", depth=4, width=256)
    keys = df.select("val").distinct()
    est = {r.val: r.cms_estimate
           for r in cms_estimate(sk, keys, "val", depth=4, width=256).collect()}
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert est[k] >= n          # CMS upper-bound guarantee
        assert est[k] <= n + 64     # and collisions stay sane at this load


def test_cms_sketch_merge_is_sum(spark):
    # sketch(A ∪ B) == cell-wise sum of sketch(A) and sketch(B): counts
    # are linear, so sketches merge by addition (the distributed story)
    from spark_tensors_spark.functions.sketches import cms_sketch

    a = spark.range(0, 400).select(F.col("id").cast("string").alias("val"))
    b = spark.range(200, 500).select(F.col("id").cast("string").alias("val"))
    whole = {
        (r.cms_d, r.cms_col): r.cnt
        for r in cms_sketch(a.union(b), "val", width=64).collect()
    }
    sa = cms_sketch(a, "val", width=64)
    sb = cms_sketch(b, "val", width=64)
    merged = {
        (r.cms_d, r.cms_col): r.cnt
        for r in sa.union(sb)
        .groupBy("cms_d", "cms_col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert whole == merged


def test_cms_estimate_absent_key_low(spark):
    from spark_tensors_spark.functions.sketches import (
        cms_estimate,
        cms_sketch,
    )

    df = spark.range(1000).select(F.col("id").cast("string").alias("val"))
    sk = cms_sketch(df, "val")
    absent = spark.createDataFrame([("nope-1",), ("nope-2",)], "val string")
    got = {r.val: r.cms_estimate
           for r in cms_estimate(sk, absent, "val").collect()}
    # absent keys may collide with occupied cells but stay near zero at
    # this load factor (1000 rows into 4×1024 cells)
    assert set(got) == {"nope-1", "nope-2"}
    for v in got.values():
        assert 0 <= v <= 5


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: each clique collapses
    to its min label; determinism across runs."""
    import pandas as pd

    from spark_tensors_spark.operators.graph import label_propagation

    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((3, 10))  # bridge
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["u", "v"]), "u long, v long"
    )
    labels = {r.node: r.label for r in label_propagation(df, 3).collect()}
    assert set(labels) == set(range(4)) | set(range(10, 14))
    # clique 0 all label 0
    assert {labels[i] for i in range(4)} == {0}
    # clique 10: members 11-13 converge to 10's community; with the
    # bridge, node 10 hears clique-0 labels too, but its majority
    # neighborhood is its own clique
    assert len({labels[i] for i in range(10, 14)}) == 1
    labels2 = {r.node: r.label for r in label_propagation(df, 3).collect()}
    assert labels == labels2


def test_common_neighbor_scores_and_degree_cap(spark):
    """Star + square: the two star leaves share the hub (1 common
    neighbor); opposite square corners share 2. The hub cap removes
    star wedges but keeps square ones."""
    import pandas as pd

    from spark_tensors_spark.operators.graph import common_neighbor_scores

    edges = [
        # square 10-11-12-13
        (10, 11), (11, 12), (12, 13), (13, 10),
        # star: hub 0 with leaves 1..4
        (0, 1), (0, 2), (0, 3), (0, 4),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["u", "v"]), "u long, v long"
    )
    got = {
        (r.u, r.v): r.n_common
        for r in common_neighbor_scores(df, min_common=1).collect()
    }
    # opposite square corners: two common neighbors
    assert got[(10, 12)] == 2 and got[(11, 13)] == 2
    # star leaves share only the hub
    assert got[(1, 2)] == 1
    # existing edges never appear
    assert (10, 11) not in got and (0, 1) not in got
    capped = {
        (r.u, r.v): r.n_common
        for r in common_neighbor_scores(
            df, min_common=1, max_wedge_degree=3
        ).collect()
    }
    # hub (degree 4) removed as wedge middle: star-leaf pairs vanish,
    # square pairs (middles have degree 2) survive
    assert (1, 2) not in capped
    assert capped[(10, 12)] == 2


def test_kcore_peels_tree_keeps_clique(spark):
    """A 5-clique with a pendant path: the path (degrees <=2) fully
    peels out of the 3-core; the clique survives with degree 4."""
    import pandas as pd

    from spark_tensors_spark.operators.graph import kcore_peel

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    path = [(4, 100), (100, 101), (101, 102)]
    df = spark.createDataFrame(
        pd.DataFrame(clique + path, columns=["u", "v"]), "u long, v long"
    )
    core = {r.node: r.degree for r in kcore_peel(df, k=3, rounds=4).collect()}
    assert set(core) == set(range(5))
    assert all(d == 4 for d in core.values())


def _brute_kcore(pairs, k, rounds):
    """Fixed-round peeling on the undirected simple graph: each round
    drops the nodes with degree < k and every edge touching them."""
    alive = {(min(u, v), max(u, v)) for u, v in pairs if u != v}
    for _ in range(rounds):
        deg = collections.Counter(n for e in alive for n in e)
        alive = {(u, v) for u, v in alive if deg[u] >= k and deg[v] >= k}
    return dict(collections.Counter(n for e in alive for n in e))


def _brute_lpa(pairs, iterations):
    """Synchronous LPA: every node takes its neighbors' most frequent
    label, the smallest label on a tie."""
    nbrs = collections.defaultdict(set)
    for u, v in pairs:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    label = {n: n for n in nbrs}
    for _ in range(iterations):
        votes = {n: collections.Counter(label[m] for m in ns)
                 for n, ns in nbrs.items()}
        label = {n: min(c, key=lambda lab: (-c[lab], lab))
                 for n, c in votes.items()}
    return label


def _noisy_random_graph(spark, seed, n_nodes):
    """A random edge list with self-loops and reversed duplicates."""
    import pandas as pd

    rng = random.Random(seed)
    pairs = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
             for _ in range(3 * n_nodes)]
    pairs += [(v, u) for u, v in pairs[:n_nodes]]
    pairs += [(i, i) for i in range(0, n_nodes, 7)]
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["u", "v"]), "u long, v long"
    )
    return pairs, df


def test_zero_rounds_return_the_input_state(spark):
    """rounds=0 is the unpeeled degree of every node (a path's degrees
    are all < k, so any peel would drop them), and iterations=0 labels
    every node with itself."""
    from spark_tensors_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )

    df = _edges_df(spark, [(0, 1), (1, 2), (2, 1), (3, 3)])
    got = {r.node: r.degree for r in kcore_peel(df, k=3, rounds=0).collect()}
    assert got == {0: 1, 1: 2, 2: 1}
    labels = {r.node: r.label for r in label_propagation(df, 0).collect()}
    assert labels == {0: 0, 1: 1, 2: 2}


@pytest.mark.parametrize("rounds", [0, 1, 2, 4, 5])
def test_kcore_and_lpa_match_brute_force_random(spark, rounds):
    from spark_tensors_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )

    for seed, n_nodes in ((3, 14), (5, 40)):
        pairs, df = _noisy_random_graph(spark, seed, n_nodes)
        for k in (2, 3):
            got = {r.node: r.degree
                   for r in kcore_peel(df, k=k, rounds=rounds).collect()}
            assert got == _brute_kcore(pairs, k, rounds), (seed, k)
        got = {r.node: r.label
               for r in label_propagation(df, rounds).collect()}
        assert got == _brute_lpa(pairs, rounds), seed


def test_kcore_and_lpa_rounds_are_one_exchange_each(spark):
    """Each round is one hash exchange, with no barrier job and nothing
    left persisted: k-core's plan holds the edge distinct, ``rounds``
    round exchanges and the final degree count (r + 2); LPA's holds the
    distinct and one exchange per iteration (n + 1)."""
    from spark_tensors_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )

    _pairs, df = _noisy_random_graph(spark, 9, 30)
    sc = spark.sparkContext._jsc.sc()
    for build, n_exchanges in (
        (lambda: kcore_peel(df, k=3, rounds=4), 4 + 2),
        (lambda: label_propagation(df, 3), 3 + 1),
    ):
        persisted = sc.getPersistentRDDs().size()
        out = build()
        out.collect()
        assert sc.getPersistentRDDs().size() == persisted
        # the final adaptive plan; a reused exchange is not a new one
        plan = out._jdf.queryExecution().executedPlan().executedPlan()
        text = plan.toString()
        exchanges = re.findall(r"^\W*Exchange hashpartitioning", text, re.M)
        assert len(exchanges) == n_exchanges, text
        assert "ExistingRDD" not in text, text


def test_personalized_pagerank_localizes_to_seeds(spark):
    """On two disjoint directed cycles, PPR seeded in cycle A puts all
    mass in A and none in B; ranks match a numpy power iteration."""
    import numpy as np
    import pandas as pd

    from spark_tensors_spark.operators.graph import personalized_pagerank

    edges = [(i, (i + 1) % 4) for i in range(4)] + [
        (10 + i, 10 + (i + 1) % 4) for i in range(4)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["s", "d"]), "s long, d long"
    )
    seeds = spark.createDataFrame(
        pd.DataFrame({"node": [0, 1]}), "node long"
    )
    got = {
        r.node: r.rank
        for r in personalized_pagerank(
            df, seeds, iterations=6, damping=0.85
        ).collect()
    }
    # cycle B never receives mass
    assert all(got[10 + i] == 0.0 for i in range(4))
    # numpy reference: same fixed-iteration update on cycle A
    nodes = list(range(4))
    tele = np.array([0.075, 0.075, 0.0, 0.0])
    r = tele.copy()
    for _ in range(6):
        inflow = np.array([r[(i - 1) % 4] for i in nodes])  # outdeg 1
        r = tele + 0.85 * inflow
    for i in nodes:
        assert abs(got[i] - r[i]) < 1e-12
    # the node fed by BOTH teleport and seed-0's outflow ranks highest
    assert max(got, key=got.get) == 1


def test_kmv_small_set_exact(spark):
    """A group with fewer than k distinct values: the signature IS the
    distinct set and the estimate is the exact count."""
    from spark_tensors_spark.functions.sketches import (
        kmv_estimate_from_signature,
        kmv_signature,
    )

    df = spark.createDataFrame(
        [("a", f"v{i % 10}") for i in range(100)], "g string, v string"
    )
    sig = kmv_signature(df, "v", ["g"])
    assert sig.count() == 10
    est = kmv_estimate_from_signature(sig, ["g"]).collect()[0]
    assert est.kmv_estimate == 10.0


def test_kmv_estimate_within_error_bound(spark):
    """k=64 gives ~1/sqrt(k) = 12.5% standard error; require the
    estimate of 5000 distinct values within 3 sigma."""
    from spark_tensors_spark.functions.sketches import (
        kmv_estimate_from_signature,
        kmv_signature,
    )

    df = spark.range(5000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    est = kmv_estimate_from_signature(
        kmv_signature(df, "v", ["g"]), ["g"]
    ).collect()[0].kmv_estimate
    assert abs(est - 5000) < 3 * 0.125 * 5000


def test_kmv_merge_is_union_signature(spark):
    """CRDT merge law: k smallest of (sig_A union sig_B) equals the
    signature of A union B computed from scratch — what makes KMV
    map-side combinable, streaming-safe, and set-algebraic."""
    from spark_tensors_spark.functions.sketches import kmv_signature

    a = spark.range(0, 300).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(200, 500).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    sig_a = kmv_signature(a, "v", ["g"]).select("g", "kmv_h")
    sig_b = kmv_signature(b, "v", ["g"]).select("g", "kmv_h")
    from pyspark.sql.window import Window

    w = Window.partitionBy("g").orderBy("kmv_h")
    merged = sorted(
        r.kmv_h
        for r in sig_a.unionByName(sig_b)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .collect()
    )
    direct = sorted(
        r.kmv_h
        for r in kmv_signature(a.unionByName(b), "v", ["g"]).collect()
    )
    assert merged == direct


def test_kmv_jaccard_estimator_tracks_truth(spark):
    """Jaccard estimate from merged signatures lands near the true
    overlap for a 50%-overlap pair (3-sigma-ish loose bound)."""
    from pyspark.sql.window import Window

    from spark_tensors_spark.functions.sketches import kmv_signature

    n = 2000
    a = spark.range(0, n).select(
        F.lit("a").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(n // 2, n + n // 2).select(
        F.lit("b").alias("g"), F.col("id").cast("string").alias("v")
    )
    sig = kmv_signature(a.unionByName(b), "v", ["g"])
    w = Window.orderBy("kmv_h")
    tagged = (
        sig.groupBy("kmv_h")
        .agg(
            F.max(F.when(F.col("g") == "a", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("g") == "b", 1).otherwise(0)).alias("in_b"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
    )
    row = tagged.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter"),
        F.count(F.lit(1)).alias("n_s"),
    ).collect()[0]
    j_est = row.inter / row.n_s
    true_j = (n // 2) / (n + n // 2)  # 1000 / 3000
    assert abs(j_est - true_j) < 0.20


def test_kmv_estimate_enforces_k_truncation(spark):
    """An UNTRUNCATED merged signature (more than k rows per group) must
    estimate from the k-th smallest hash, not the max of everything
    handed in (ADVICE r7): the estimate from a raw 2×k-row union of two
    signatures must equal the estimate from the properly re-truncated
    union signature."""
    from spark_tensors_spark.functions.sketches import (
        kmv_estimate_from_signature,
        kmv_signature,
    )

    a = spark.range(3000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(2000, 6000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    sig_a, sig_b = kmv_signature(a, "v", ["g"]), kmv_signature(b, "v", ["g"])
    raw_union = sig_a.unionByName(sig_b)  # up to 2k rows, ranks stale
    proper = kmv_signature(a.unionByName(b), "v", ["g"])
    got = kmv_estimate_from_signature(raw_union, ["g"]).collect()[0]
    want = kmv_estimate_from_signature(proper, ["g"]).collect()[0]
    assert got.kmv_estimate == want.kmv_estimate
