"""Property-based tests (hypothesis) for algebraic laws the reference
guarantees by construction (SURVEY.md §6): AggFunc monoid laws (split →
aggregate parts → combine ≡ aggregate whole — the partial-aggregation
contract), filter composition, union cardinality."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# SPARK_GRAFT_HYPO_EXAMPLES raises the example count for stress audits
# (e.g. 100 before a driver round); 12 keeps the default suite fast.
import os as _os

SETTINGS = dict(
    max_examples=int(_os.environ.get("SPARK_GRAFT_HYPO_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # key
        st.integers(min_value=-1000, max_value=1000),   # int value
    ),
    min_size=0,
    max_size=40,
)


def _df(spark, data):
    return spark.createDataFrame(data, "k int, v long") if data else spark.createDataFrame(
        [], "k int, v long"
    )


@given(data=rows, split=st.integers(min_value=0, max_value=40))
@settings(**SETTINGS)
def test_agg_monoid_partition_invariance(spark, data, split):
    """sum/count/min/max over (part1 ++ part2) == over whole — the
    commutative-monoid property Spark's partial aggregation relies on."""
    split = min(split, len(data))
    whole = _df(spark, data)
    parts = _df(spark, data[:split]).unionByName(_df(spark, data[split:]))
    aggs = [
        F.sum("v").alias("s"),
        F.count(F.lit(1)).alias("c"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    ]
    a = {tuple(r) for r in whole.groupBy("k").agg(*aggs).collect()}
    b = {tuple(r) for r in parts.groupBy("k").agg(*aggs).collect()}
    assert a == b


@given(data=rows, t1=st.integers(-1000, 1000), t2=st.integers(-1000, 1000))
@settings(**SETTINGS)
def test_filter_composition(spark, data, t1, t2):
    """filter(p).filter(q) ≡ filter(p & q) — the law behind predicate
    pushdown/reordering."""
    df = _df(spark, data)
    a = df.filter(F.col("v") > t1).filter(F.col("v") <= t2)
    b = df.filter((F.col("v") > t1) & (F.col("v") <= t2))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@given(data=rows)
@settings(**SETTINGS)
def test_union_count_additive(spark, data):
    df = _df(spark, data)
    assert df.unionByName(df).count() == 2 * df.count()


@given(data=rows)
@settings(**SETTINGS)
def test_distinct_idempotent(spark, data):
    df = _df(spark, data)
    once = sorted(map(tuple, df.distinct().collect()))
    twice = sorted(map(tuple, df.distinct().distinct().collect()))
    assert once == twice


edge_lists = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@given(edges=edge_lists)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """The iterative pointer-jumping operator must agree with a plain
    union-find ground truth on arbitrary graphs (chains, stars, cycles,
    disjoint unions — whatever hypothesis draws)."""
    from trembita_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {n: find(n) for n in parent}
    # canonical representative = min node id of the component
    comp_min: dict[int, int] = {}
    for n, r in truth.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {(n, comp_min[find(n)]) for n in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r.node, r.cluster_id) for r in connected_components(df).collect()}
    assert got == expected


@given(edges=st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=25, unique=True))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pagerank_matches_power_iteration(spark, edges):
    """pagerank() must agree with a dense numpy power iteration of the
    same recurrence (mass-leaking dangling convention, d=0.85, k=3)."""
    from trembita_spark.operators.graph import pagerank

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    score = [1.0 / n] * n
    for _ in range(3):
        mass = [0.0] * n
        for u, v in edges:
            mass[idx[v]] += score[idx[u]] / outdeg[u]
        score = [(1.0 - 0.85) / n + 0.85 * m for m in mass]
    expected = {nodes[i]: score[i] for i in range(n)}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.score for r in pagerank(df, iters=3, damping=0.85).collect()}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-12, (k, got[k], expected[k])


@given(edges=st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=25, unique=True))
# the two seeds reach each other and share later nodes
@example(edges=[(0, 1), (1, 2), (2, 0), (1, 3), (3, 4), (4, 5)])
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_matches_reference_bfs(spark, edges):
    """bfs() must agree with a plain queue BFS: min hop distance from
    the source set along directed edges, capped at max_hops. On the
    same graph, seeded_bfs() must agree with one such BFS per seed."""
    from collections import deque

    from trembita_spark.operators.graph import bfs, seeded_bfs

    sources = sorted({a for a, _ in edges})[:2]
    max_hops = 3
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    def reference(starts):
        dist = {s: 0 for s in starts}
        q = deque(starts)
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {r.node: r.dist for r in bfs(edf, sdf, max_hops=max_hops).collect()}
    expected = reference(sources)
    assert got == expected, (got, expected)

    got_seeded = {
        (r.seed, r.node): r.dist
        for r in seeded_bfs(edf, sdf, max_hops=max_hops).collect()
    }
    expected_seeded = {
        (s, v): d for s in sources for v, d in reference([s]).items()
    }
    assert got_seeded == expected_seeded, (got_seeded, expected_seeded)


@given(
    weights=st.lists(st.integers(min_value=1, max_value=20), min_size=0, max_size=40),
    budget=st.integers(min_value=0, max_value=300),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
def test_budget_select_matches_sequential_reference(spark, weights, budget, nparts):
    """Distributed two-phase prefix-sum selection ≡ a sequential scan,
    for ANY weights/budget/input partitioning — the correctness contract
    of the scalable cumsum (no row kept or dropped by partitioning)."""
    from trembita_spark.operators.sampling import budget_select

    data = list(enumerate(weights))
    df = (
        spark.createDataFrame(data, "id long, w long")
        if data
        else spark.createDataFrame([], "id long, w long")
    ).repartition(nparts)
    got = sorted(
        (r.id, r.cum)
        for r in budget_select(df, "w", [F.col("id")], budget, cum_col="cum").collect()
    )
    cum, expected = 0, []
    for i, w in data:
        cum += w
        if cum > budget:
            break
        expected.append((i, cum))
    assert got == sorted(expected)


@given(
    n=st.integers(min_value=0, max_value=120),
    shards=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_shard_assign_partitions_exactly(spark, n, shards):
    """Every row lands in exactly one shard; within-shard positions are
    a contiguous 1..size run (a valid deterministic total order)."""
    from trembita_spark.operators.sampling import shard_assign

    df = (
        spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        if n
        else spark.createDataFrame([], "doc_id long")
    )
    out = shard_assign(df, n_shards=shards).collect()
    assert len(out) == n
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < shards
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    data=rows,
    where_t=st.integers(-1000, 1000),
    having_n=st.integers(0, 10),
    mode=st.sampled_from(["groupBy", "rollup", "cube"]),
)
@settings(**SETTINGS)
def test_query_builder_matches_sql(spark, data, where_t, having_n, mode):
    """The trembita-QL builder must be plan-equivalent to the handwritten
    SQL for ANY (filter, grouping mode, having) combination — the API
    correctness contract fuzzed across all three grouping modes."""
    from trembita_spark.query import Query

    df = _df(spark, data)
    q = Query(df).where(F.col("v") > where_t)
    q = getattr(q, {"groupBy": "group_by", "rollup": "rollup", "cube": "cube"}[mode])(
        k="k"
    )
    q = q.aggregate(s=F.sum("v"), n=F.count(F.lit(1))).having(F.col("n") >= having_n)
    got = {tuple(r) for r in q.to_df().collect()}

    df.createOrReplaceTempView("qprop")
    grouping = {"groupBy": "GROUP BY k", "rollup": "GROUP BY ROLLUP(k)",
                "cube": "GROUP BY CUBE(k)"}[mode]
    expected = {
        tuple(r)
        for r in spark.sql(
            f"SELECT k, sum(v) AS s, count(1) AS n FROM qprop "
            f"WHERE v > {where_t} {grouping} HAVING n >= {having_n}"
        ).collect()
    }
    assert got == expected


@given(
    data=rows,
    mul=st.integers(-5, 5),
    t=st.integers(-1000, 1000),
    reps=st.integers(0, 3),
)
@settings(**SETTINGS)
def test_pipeline_chain_matches_python_reference(spark, data, mul, t, reps):
    """map_ → filter_ → flat_map → zip_with_index must equal the plain
    Python evaluation of the same program for ANY input — the Pipeline
    API's semantics contract, including the distributed index's total
    order."""
    from trembita_spark.pipeline import Pipeline

    p = (
        Pipeline(_df(spark, data))
        .map_({"k": F.col("k"), "v2": F.col("v") * mul})
        .filter_(F.col("v2") > t)
        .with_column("arr", F.expr(f"array_repeat(v2, {reps})"))
        .flat_map("arr", alias="e", keep=["k", "v2"])
        .zip_with_index(order_by=[F.col("v2"), F.col("k"), F.col("e")], name="idx")
    )
    got = [(r.k, r.v2, r.e, r.idx) for r in p.df.orderBy("idx").collect()]

    ref = []
    for k, v in data:
        v2 = v * mul
        if v2 > t:
            ref.extend((k, v2, v2) for _ in range(reps))
    ref.sort(key=lambda r: (r[1], r[0], r[2]))
    expected = [(k, v2, e, i) for i, (k, v2, e) in enumerate(ref)]
    assert got == expected


points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # minimize dim
        st.integers(min_value=0, max_value=20),  # maximize dim
    ),
    min_size=1,
    max_size=30,
)


@given(pts=points)
@settings(**SETTINGS)
def test_skyline_matches_bruteforce_dominance(spark, pts):
    """skyline2d (sort + prefix-max) must equal the O(n²) strict-
    dominance definition on arbitrary point sets, duplicates included."""
    from trembita_spark.operators.skyline import skyline2d

    data = [(i, float(a), b) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(data, "id long, price double, size int")
    got = sorted(r.id for r in skyline2d(df, "price", "size").collect())
    expect = sorted(
        i
        for i, (a, b) in enumerate(pts)
        if not any(
            (qa < a and qb >= b) or (qa <= a and qb > b) for qa, qb in pts
        )
    )
    assert got == expect


edges_small = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=0,
    max_size=25,
)


@given(es=edges_small)
@settings(**SETTINGS)
def test_triangle_count_matches_bruteforce(spark, es):
    """Degree-oriented wedge-close must equal brute-force triangle
    enumeration on arbitrary undirected graphs (self-loops, duplicate
    and reversed edges included)."""
    from itertools import combinations

    from trembita_spark.operators.graph import triangle_count

    und = {(min(u, v), max(u, v)) for u, v in es if u != v}
    nodes = sorted({n for e in und for n in e})
    expect = {}
    for a, b, c in combinations(nodes, 3):
        if ((a, b) in und and (b, c) in und and (a, c) in und):
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    if not es:
        return
    df = spark.createDataFrame(es, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == expect


@given(es=edges_small, k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_kcore_peel_matches_reference(spark, es, k):
    """Fixed-round peeling must equal the same rounds applied by a
    sequential reference."""
    from trembita_spark.operators.graph import kcore_peel

    und = {(min(u, v), max(u, v)) for u, v in es if u != v}
    if not und:
        return
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    for _ in range(3):
        keep = {n for n in alive if len(adj[n] & alive) >= k}
        alive = keep
    expect = {n: len(adj[n] & alive) for n in alive}
    df = spark.createDataFrame(sorted(und), "src long, dst long")
    got = {r.node: r.deg for r in kcore_peel(df, k=k, rounds=3).collect()}
    assert got == expect


@given(es=edges_small)
@settings(**SETTINGS)
def test_sssp_matches_reference(spark, es):
    """Bounded-round Bellman-Ford must equal min path weight over all
    paths of <= rounds edges, computed by sequential relaxation."""
    from trembita_spark.operators.graph import sssp

    dir_edges = sorted(
        {(u, v) for u, v in es if u != v}
    )  # directed, de-duplicated
    if not dir_edges:
        return
    # deterministic integer-valued weights (exact in double), including
    # NEGATIVE ones — it's Bellman-Ford, and the docstring promises them
    wedges = [(u, v, float((u * 7 + v * 3) % 13 - 3)) for u, v in dir_edges]
    srcs = sorted({u for u, v, w in wedges})[:2]
    dist = {s: 0.0 for s in srcs}
    for _ in range(3):
        cand = dict(dist)
        for u, v, w in wedges:
            if u in dist and dist[u] + w < cand.get(v, float("inf")):
                cand[v] = dist[u] + w
        dist = cand
    df = spark.createDataFrame(wedges, "src long, dst long, weight double")
    sdf = spark.createDataFrame([(s,) for s in srcs], "node long")
    got = {r.node: r.dist for r in sssp(df, sdf, rounds=3).collect()}
    assert got == dist


@given(es=edges_small)
@settings(**SETTINGS)
def test_label_propagation_matches_reference(spark, es):
    """Synchronous LPA with (count DESC, label ASC) tie-break must equal
    the sequential simultaneous-update reference."""
    from trembita_spark.operators.graph import label_propagation

    und = {(min(u, v), max(u, v)) for u, v in es if u != v}
    if not und:
        return
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n in adj:
            counts = {}
            for p in adj[n]:
                counts[labels[p]] = counts.get(labels[p], 0) + 1
            nxt[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    df = spark.createDataFrame(sorted(und), "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, rounds=3).collect()}
    assert got == labels


@given(
    n=st.integers(min_value=0, max_value=60),
    k=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
def test_ntile_exact_matches_sql_ntile(spark, n, k):
    """ntile_exact (prefix-sum + arithmetic buckets) must equal Spark's
    own global ntile window for every (n rows, k tiles) hypothesis
    draws — including n < k and n % k != 0 edge splits."""
    from pyspark.sql.window import Window

    from trembita_spark.operators.ranking import ntile_exact

    if n == 0:
        df = spark.createDataFrame([], "id long, v long")
    else:
        df = spark.range(n).select(
            "id", ((F.col("id") * 37) % 101).alias("v")
        )
    got = {
        r.id: r.t
        for r in ntile_exact(df, [F.col("v"), F.col("id")], k, "t").collect()
    }
    w = Window.orderBy(F.col("v"), F.col("id"))
    want = {r.id: r.t for r in df.select("id", F.ntile(k).over(w).alias("t")).collect()}
    assert got == want


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_prefix_sum_multi_matches_sequential(spark, vals):
    """Multi-column two-phase prefix sum must equal the sequential
    cumulative sums of BOTH columns under the shared order — including
    negative values (offsets compose by addition, not monotonicity)."""
    from trembita_spark.operators.ranking import prefix_sum_multi

    if not vals:
        return
    rows = [(i, a, b) for i, (a, b) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = prefix_sum_multi(
        df.repartition(5), ["a", "b"], order_by=[F.col("id")], names=["ca", "cb"]
    )
    got = {r.id: (r.ca, r.cb) for r in out.collect()}
    ca = cb = 0
    want = {}
    for i, (a, b) in enumerate(vals):
        ca += a
        cb += b
        want[i] = (ca, cb)
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=400),
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=8),
)
@settings(**SETTINGS)
def test_prefix_sum_range_key_matches_generic(spark, n, vals):
    """The dense-integer range_key specialization (one arithmetic-bucket
    exchange instead of range + __pid shuffles) must return exactly the
    generic path's rows for any [lo, hi) span — including spans smaller
    than the parallelism (empty buckets) and negative values."""
    from trembita_spark.operators.ranking import prefix_sum

    lo = vals[0]  # arbitrary non-zero origin exercises the (key−lo) shift
    df = spark.range(lo, lo + n).selectExpr("id AS i", "id % 7 - 3 AS v")
    generic = prefix_sum(df, "v", [F.col("i")], name="c")
    ranged = prefix_sum(df, "v", [F.col("i")], name="c", range_key=(lo, lo + n))
    g = sorted((r.i, r.c) for r in generic.collect())
    r = sorted((r.i, r.c) for r in ranged.collect())
    assert g == r


@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),    # key
            st.integers(min_value=0, max_value=80),   # start sec
            st.integers(min_value=1, max_value=25),   # length sec
        ),
        min_size=0,
        max_size=14,
    ),
    bucket=st.integers(min_value=3, max_value=40),
)
@settings(**SETTINGS)
def test_interval_overlap_matches_bruteforce(spark, ivs, bucket):
    """bucket-gridded interval_overlap_join == brute-force O(n²) overlap
    check, for ANY bucket size (bucketing affects cost, never results)."""
    import datetime as dt

    from trembita_spark.operators.joins import interval_overlap_join

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, k, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + ln))
        for i, (k, s, ln) in enumerate(ivs)
    ]
    schema = "iid long, k long, s timestamp, e timestamp"
    left = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    right = (
        left.selectExpr("iid AS jid", "k", "s AS rs", "e AS re")
    )
    got = {
        (r.iid, r.jid)
        for r in interval_overlap_join(
            left, right, on="k",
            left_start="s", left_end="e", right_start="rs", right_end="re",
            bucket_seconds=bucket,
        ).collect()
    }
    want = {
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[1] == b[1] and a[2] < b[3] and b[2] < a[3]
    }
    assert got == want


def test_geo_radius_band_prefilter_is_lossless(spark):
    """Property: the latitude-band candidate prefilter loses no true
    pair and yields each pair exactly once — including pairs that
    straddle a band boundary and antimeridian-adjacent longitudes."""
    import math

    from trembita_spark.operators.joins import geo_radius_join

    R = 300.0
    pts = [
        # straddle the band edge (band = ceil(300/110.574) = 3°)
        (1, 2.999, 10.0), (2, 3.001, 10.0),
        # identical location
        (3, 45.0, 45.0), (4, 45.0, 45.0),
        # just inside / outside the radius on a pure-lat offset
        (5, 0.0, 0.0), (6, 300.0 / 111.0, 0.0), (7, 3.2, 0.0),
        # far apart
        (8, -60.0, 100.0), (9, 60.0, -100.0),
        # near-antimeridian pair (lon wrap NOT handled by bands — both
        # in the same lat band, verify must decide)
        (10, 10.0, 179.9), (11, 10.0, -179.9),
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {(r.id_a, r.id_b) for r in geo_radius_join(df, R).collect()}

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[1], a[2], b[1], b[2]))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(h))

    want = {
        (a[0], b[0])
        for a in pts
        for b in pts
        if a[0] < b[0] and round(hav(a, b), 6) <= R
    }
    assert got == want
    # and the self-pair / duplicate-emission guards held
    assert len(got) == len(list(got))


def test_substring_dedup_flags_verbatim_copies(spark):
    """Property: a doc duplicated verbatim scores dup_frac == 1.0 on
    both copies; a doc sharing no 8-gram with anything scores 0.0;
    within-doc repetition alone does NOT count as duplication."""
    from trembita_spark.operators.dedup import duplicated_span_report

    words = lambda n, p: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    docs = [
        (1, words(20, "a")),
        (2, words(20, "a")),          # verbatim copy of 1
        (3, words(20, "b")),          # unique
        (4, " ".join([words(8, "c")] * 3)),  # self-repeating only
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac)
           for r in duplicated_span_report(df, k=8).collect()}
    assert got[1][2] == 1.0 and got[2][2] == 1.0
    assert got[3][1] == 0 and got[3][2] == 0.0
    assert got[4][1] == 0, "within-doc repeats must not self-flag"


def test_dhash_identical_images_collide_and_differ_by_content(spark):
    """Property: byte-identical images produce identical band rows (so
    near-dup candidates collide), and images of different content
    produce at least one differing band."""
    from trembita_spark.operators.multimodal import (
        attach_pixel_payload,
        dhash_bands,
    )

    # ids 0 and 768 share (w, h, seed) → identical synthetic images.
    # The synthetic pixels are smooth monotone gradients, on which dHash
    # is DEGENERATE BY DESIGN (a constant gradient has constant
    # difference signs — such images genuinely look alike), so a
    # low-seed pair like (0, 1) hashes identically; discrimination comes
    # from where the mod-256 gradient wrap lands, which moves with high
    # seeds — id 200 (seed 200) wraps inside the sampled grid.
    df = spark.createDataFrame([(0,), (768,), (200,)], "doc_id long")
    bands = dhash_bands(attach_pixel_payload(df)).collect()
    by_doc = {}
    for r in bands:
        by_doc.setdefault(r.doc_id, {})[r.band_idx] = r.band_val
    assert by_doc[0] == by_doc[768], "identical images must hash identically"
    assert by_doc[0] != by_doc[200], "wrap-bearing content must differ"
    assert any(v != 0 for v in by_doc[200].values()), "hash must be non-trivial"
    assert all(len(v) == 4 for v in by_doc.values())


@given(
    diffs=st.lists(st.integers(-50, 50), min_size=2, max_size=40).filter(
        lambda xs: any(x != 0 for x in xs)
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_wilcoxon_matches_bruteforce(spark, diffs):
    """wilcoxon_signed_rank's contingency+prefix-sum W+ must equal the
    brute-force tied-average-rank computation on arbitrary integer
    difference lists (zeros dropped, ties everywhere)."""
    from trembita_spark.operators.stats import wilcoxon_signed_rank

    nz = [d for d in diffs if d != 0]
    by_abs = sorted(range(len(nz)), key=lambda i: abs(nz[i]))
    ranks = [0.0] * len(nz)
    i = 0
    while i < len(by_abs):
        j = i
        while j < len(by_abs) and abs(nz[by_abs[j]]) == abs(nz[by_abs[i]]):
            j += 1
        avg = (i + 1 + j) / 2  # average of positions i+1..j (1-indexed)
        for t in range(i, j):
            ranks[by_abs[t]] = avg
        i = j
    w_plus = sum(r for r, d in zip(ranks, nz) if d > 0)

    df = spark.createDataFrame([(d,) for d in diffs], "d long")
    row = wilcoxon_signed_rank(df, "d").collect()[0]
    assert row.n == len(nz)
    assert row.w2 == int(round(2 * w_plus))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1, max_size=60,
    ),
    k=st.integers(3, 5),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ktruss_matches_bruteforce_peel(spark, edges, k):
    """ktruss_peel (single triangle enumeration + per-round triangle-set
    filtering) must agree with a brute-force sequential peel that
    re-enumerates triangles from scratch every round."""
    from trembita_spark.operators.graph import ktruss_peel

    rounds = 3
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}

    def tri_support(s):
        sup = {e: 0 for e in s}
        nodes = sorted({n for e in s for n in e})
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if (a, b) not in s:
                    continue
                for c in nodes:
                    if c <= b:
                        continue
                    if (a, c) in s and (b, c) in s:
                        for e in ((a, b), (a, c), (b, c)):
                            sup[e] += 1
        return sup

    cur = set(es)
    for _ in range(rounds):
        sup = tri_support(cur)
        cur = {e for e in cur if sup[e] >= k - 2}
    expected = {(u, v, tri_support(cur)[(u, v)]) for u, v in cur}

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "src long, dst long"
    )
    got = {
        (r.u, r.v, r.support)
        for r in ktruss_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == expected


@given(
    counts=st.dictionaries(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        st.integers(1, 500),
        min_size=1, max_size=5,
    ),
    budget_frac=st.integers(1, 12),
    epochs=st.integers(1, 4),
)
@settings(max_examples=25, deadline=None)
def test_unimax_quotas_water_level(counts, budget_frac, epochs):
    """unimax_quotas' max-feasible-candidate water level must satisfy the
    defining property exactly: total <= budget, and if anything was
    capped, raising the level by 1 would overflow the budget."""
    from trembita_spark.operators.sampling import unimax_quotas

    budget = (sum(counts.values()) * budget_frac) // 4
    q = unimax_quotas(counts, budget, epochs)
    caps = {l: epochs * n for l, n in counts.items()}
    assert set(q) == set(caps)
    assert all(0 <= q[l] <= caps[l] for l in caps)
    total = sum(q.values())
    if total < sum(caps.values()):  # something was capped by the level
        assert total <= budget
        level = max(q.values(), default=0)
        assert all(q[l] == caps[l] or q[l] == level for l in caps)
        assert sum(min(caps[l], level + 1) for l in caps) > budget
    else:
        assert total == sum(caps.values())
