"""Operator-library unit tests on tiny in-memory DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from php_etl_spark.operators import (
    apply_mapping,
    parse_conjunction,
    parse_predicate,
    first_wins_dedup,
    anti_join,
    semi_join,
    asof_join,
    range_join,
)
from php_etl_spark.operators.project import normalize_spec, source_columns


def test_normalize_spec_list_and_mapping():
    assert normalize_spec(["a <- [x]", "b <- lit", "c"]) == {
        "a": "[x]",
        "b": "lit",
        "c": "[c]",
    }
    assert normalize_spec({"a": "[x]"}) == {"a": "[x]"}


def test_source_columns():
    assert source_columns({"a": "[x]", "b": "42", "c": "[y]"}) == ["x", "y"]


def test_apply_mapping(spark):
    df = spark.createDataFrame([(1, "n")], ["id", "name"])
    out = apply_mapping(df, {"pid": "[id]", "tag": "etl", "n": "7"})
    row = out.collect()[0]
    assert row.pid == 1 and row.tag == "etl" and row.n == 7


def test_parse_predicate_ops(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (2, "y", 9.5), (3, "x", 11.0)], ["id", "tag", "v"]
    )
    assert df.filter(parse_predicate("v >= 9.5")).count() == 2
    assert df.filter(parse_predicate("tag = 'x'")).count() == 2
    assert df.filter(parse_predicate("tag <> x")).count() == 1
    assert df.filter(parse_conjunction("v > 5", "tag = x")).count() == 1
    assert df.filter(parse_predicate("id in (1, 3)")).count() == 2
    assert df.filter(parse_predicate("tag like 'x%'")).count() == 2


def test_first_wins_dedup_deterministic(spark):
    rows = [(1, "k", "first"), (2, "k", "second"), (3, "j", "only")]
    df = spark.createDataFrame(rows, ["seq", "key", "val"])
    out = first_wins_dedup(df, keys=["key"], order_by=["seq"])
    got = {r.key: r.val for r in out.collect()}
    assert got == {"k": "first", "j": "only"}


def test_first_wins_dedup_trim_normalization(spark):
    rows = [(1, "A ", "first"), (2, "A", "dup"), (3, " B", "b")]
    df = spark.createDataFrame(rows, ["seq", "key", "val"])
    out = first_wins_dedup(df, keys=["key"], order_by=["seq"])
    vals = sorted(r.val for r in out.collect())
    assert vals == ["b", "first"]


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    assert {r.k for r in semi_join(left, right, "k").collect()} == {2, 3}
    assert {r.k for r in anti_join(left, right, "k").collect()} == {1}


def test_range_join(spark):
    fact = spark.createDataFrame([(1, 5.0), (2, 50.0), (3, 500.0)], ["id", "v"])
    ranges = spark.createDataFrame(
        [("small", 0.0, 10.0), ("mid", 10.0, 100.0), ("big", 100.0, 1e9)],
        ["tier", "lo", "hi"],
    )
    out = range_join(fact, ranges, "v", "lo", "hi")
    got = {r.id: r.tier for r in out.collect()}
    assert got == {1: "small", 2: "mid", 3: "big"}


def test_asof_join(spark):
    quotes = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 5, 11.0), ("b", 3, 20.0)], ["sym", "t", "px"]
    )
    trades = spark.createDataFrame(
        [("a", 2), ("a", 5), ("a", 0), ("b", 9)], ["sym", "t"]
    )
    out = asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t", right_values=["px"]
    )
    got = {(r.sym, r.t): r.px_asof for r in out.collect()}
    assert got == {("a", 2): 10.0, ("a", 5): 11.0, ("a", 0): None, ("b", 9): 20.0}


def test_hll_sketch_accuracy_and_merge_invariance(spark):
    """HLL sketches: estimate within 5% of exact, and the per-day
    partial-sketch union equals the direct whole-scope sketch exactly
    (merge invariance — what makes the sketch a safe partial
    aggregate)."""
    from php_etl_spark.catalog import Catalog
    from php_etl_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {
        r["event_type"]: r["n"]
        for r in Catalog(spark, sf)
        .events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    direct = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["agg_hll_sketch"](spark, sf).collect()
    }
    unioned = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["agg_hll_partial_union"](spark, sf).collect()
    }
    assert set(direct) == set(exact)
    for et, n in exact.items():
        assert abs(direct[et] - n) / n < 0.05, (et, direct[et], n)
    assert unioned == direct, "sketch union must be merge-invariant"


def test_approx_percentile_sketch_error_bound(spark):
    """Quantile sketch guarantee is on RANK, not value: the rank of
    each approximate percentile within its group must sit within 1%
    of the target rank (accuracy=10000 → 1e-4 worst-case; 1% leaves
    headroom for interpolation differences)."""
    from collections import defaultdict

    from php_etl_spark.catalog import Catalog
    from php_etl_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["p50"], r["p95"], r["p99"])
        for r in QUERIES["agg_approx_percentile_sketch"](spark, sf).collect()
    }
    by_type = defaultdict(list)
    for r in Catalog(spark, sf).events.select("event_type", "value").collect():
        by_type[r["event_type"]].append(r["value"])
    assert set(got) == set(by_type)
    for et, approx in got.items():
        vals = sorted(by_type[et])
        n = len(vals)
        for a, q in zip(approx, (0.5, 0.95, 0.99)):
            rank = sum(1 for v in vals if v <= a) / n
            assert abs(rank - q) <= 0.01 + 1.0 / n, (et, q, a, rank)


def test_bloom_pruned_join_matches_plain_join(spark):
    """The bloom-filter runtime optimization must not change results:
    compare against the same join/agg run without the injected filter."""
    from php_etl_spark.catalog import Catalog
    from php_etl_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: (r["n"], round(r["revenue"], 2))
        for r in QUERIES["join_bloom_pruned"](spark, sf).collect()
    }
    cat = Catalog(spark, sf)
    urgent = cat.orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    plain = {
        r["l_returnflag"]: (r["n"], round(r["revenue"], 2))
        for r in cat.lineitem.join(
            urgent, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert got == plain


def test_scd2_merge_edge_cases(spark):
    """SCD2 edges: equal update is a no-op, NULL-safe equality on the
    tracked column is a no-op (NULL == NULL), a key whose versions are
    all closed re-activates with a fresh current row, unseen keys
    insert, differing updates close + reopen."""
    import datetime

    from php_etl_spark.operators.scd import scd2_merge

    d = datetime.date
    existing = spark.createDataFrame(
        [
            (1, "a", d(2020, 1, 1), None),          # current, update equal
            (2, "b", d(2020, 1, 1), d(2021, 1, 1)),  # closed only → re-activate
            (3, None, d(2020, 1, 1), None),          # current, NULL tracked
            (5, "e", d(2020, 1, 1), None),           # current, update differs
        ],
        "k int, v string, valid_from date, valid_to date",
    )
    updates = spark.createDataFrame(
        [
            (1, "a", d(2022, 6, 1)),
            (2, "b2", d(2022, 6, 1)),
            (3, None, d(2022, 6, 1)),
            (4, "new", d(2022, 6, 1)),
            (5, "e2", d(2022, 6, 1)),
        ],
        "k int, v string, ts date",
    )
    out = scd2_merge(existing, updates, keys=["k"], tracked=["v"])
    got = {
        (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]))
        for r in out.collect()
    }
    assert got == {
        (1, "a", "2020-01-01", "None"),
        (2, "b", "2020-01-01", "2021-01-01"),
        (2, "b2", "2022-06-01", "None"),
        (3, None, "2020-01-01", "None"),
        (4, "new", "2022-06-01", "None"),
        (5, "e", "2020-01-01", "2022-06-01"),
        (5, "e2", "2022-06-01", "None"),
    }


def test_split_valid_complement(spark):
    """split_valid must partition the frame exactly: valid + quarantine
    = input, no row in both, and quarantine rows each violate at least
    one row-local rule."""
    from php_etl_spark.operators.validate import check_constraints, split_valid

    df = spark.createDataFrame(
        [
            (1, "a@x.com", 50.0),
            (2, None, 20.0),          # null email
            (3, "bad-email", 30.0),   # regex violation
            (4, "c@x.com", -5.0),     # range violation
            (5, "d@x.com", None),     # null balance passes range (guarded)
        ],
        "id int, email string, bal double",
    )
    rules = [
        {"type": "not_null", "column": "email"},
        {"type": "regex", "column": "email", "pattern": r"^[^@]+@[^@]+\.[^@]+$"},
        {"type": "range", "column": "bal", "min": 0.0},
    ]
    valid, quarantine = split_valid(df, rules)
    v_ids = {r["id"] for r in valid.collect()}
    q_ids = {r["id"] for r in quarantine.collect()}
    assert v_ids == {1, 5} and q_ids == {2, 3, 4}
    report = {
        r["rule"]: r["violations"]
        for r in check_constraints(df, rules).collect()
    }
    assert report == {
        "not_null:email": 1,
        "regex:email": 1,
        "range:bal": 1,
    }


def test_split_valid_unknown_check_is_a_violation(spark):
    """A rule that evaluates to NULL (in_set over a list holding None)
    cannot clear the row: it goes to quarantine, never to neither side."""
    from php_etl_spark.operators.validate import split_valid

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, c string")
    valid, quarantine = split_valid(
        df, [{"type": "in_set", "column": "c", "values": ["a", None]}]
    )
    assert [r["id"] for r in valid.collect()] == [1]
    assert [r["id"] for r in quarantine.collect()] == [2]


def test_asof_join_directions(spark):
    """forward finds the earliest quote at-or-after the trade; nearest
    picks the closer side with backward winning ties."""
    quotes = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 5, 11.0), ("b", 3, 20.0)], ["sym", "t", "px"]
    )
    trades = spark.createDataFrame(
        [("a", 2), ("a", 5), ("a", 7), ("b", 1)], ["sym", "t"]
    )
    fwd = asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t",
        right_values=["px"], direction="forward",
    )
    got_f = {(r.sym, r.t): r.px_asof for r in fwd.collect()}
    assert got_f == {
        ("a", 2): 11.0,   # next at t=5
        ("a", 5): 11.0,   # tie matches (>=)
        ("a", 7): None,   # nothing after
        ("b", 1): 20.0,
    }
    near = asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t",
        right_values=["px"], direction="nearest",
    )
    got_n = {(r.sym, r.t): r.px_asof for r in near.collect()}
    assert got_n == {
        ("a", 2): 10.0,   # dist 1 back vs 3 fwd
        ("a", 5): 11.0,   # exact
        ("a", 7): 11.0,   # only backward exists
        ("b", 1): 20.0,   # only forward exists
    }


def test_fuzzy_join_exact_recall_at_distance_one(spark):
    """Deletion-signature blocking must find EVERY pair within
    distance 1 (substitution, insertion, deletion, identity) and
    nothing beyond it."""
    from php_etl_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame(
        [(1, "martin"), (2, "mrtin"), (3, "martinX"), (4, "hartin"), (5, "zzz")],
        ["lid", "s"],
    )
    right = spark.createDataFrame([(10, "martin"), (11, "abc")], ["rid", "t"])
    out = fuzzy_join(left, right, "lid", "s", "rid", "t")
    got = {(r["lid"], r["rid"]): r["dist"] for r in out.collect()}
    assert got == {
        (1, 10): 0,  # identical
        (2, 10): 1,  # deletion
        (3, 10): 1,  # insertion
        (4, 10): 1,  # substitution
    }


class TestKmvSketch:
    def test_estimate_calibration_and_small_strata_exact(self, spark):
        """A stratum below k reports exactly; a stratum far above k
        estimates within the ~1/sqrt(k) relative-error band."""
        from php_etl_spark.operators.sketches import kmv_estimate, kmv_sketch

        rows = [(i, "big") for i in range(5000)] + [
            (i, "small") for i in range(20)
        ]
        df = spark.createDataFrame(rows, ["uid", "stratum"])
        est = {
            r["stratum"]: (r["n_kmv"], r["est_distinct"])
            for r in kmv_estimate(
                kmv_sketch(df, "stratum", "uid", k=64), k=64
            ).collect()
        }
        assert est["small"] == (20, 20)
        n_kmv, e = est["big"]
        assert n_kmv == 64
        assert abs(e - 5000) / 5000 < 0.5  # 3-4 sigma at k=64

    def test_intersection_estimate(self, spark):
        """Half-overlapping sets: the merged bottom-k Jaccard estimate
        must land near the true 1/3 (|A∩B|/|A∪B| for half overlap)."""
        from php_etl_spark.operators.sketches import (
            kmv_intersection_estimate,
            kmv_sketch,
        )

        a = spark.createDataFrame(
            [(i, "a") for i in range(2000)], ["uid", "stratum"]
        )
        b = spark.createDataFrame(
            [(i, "b") for i in range(1000, 3000)], ["uid", "stratum"]
        )
        sa = kmv_sketch(a, "stratum", "uid", k=128)
        sb = kmv_sketch(b, "stratum", "uid", k=128)
        r = kmv_intersection_estimate(sa, sb, k=128).collect()[0]
        assert abs(r["jaccard_est"] - 1 / 3) < 0.15


def test_cbo_statistics_present(spark, tmp_path):
    """ANALYZE TABLE column statistics reach the optimizer: with CBO
    on, the analyzed table's optimized plan carries an exact rowCount
    (file-size estimation alone never produces one)."""
    import uuid

    db = f"cbo_test_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    try:
        spark.range(1234).selectExpr("id AS k", "id % 7 AS v").write.saveAsTable(
            f"{db}.t"
        )
        spark.sql(f"ANALYZE TABLE {db}.t COMPUTE STATISTICS FOR COLUMNS k, v")
        prev = spark.conf.get("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = spark.sql(f"SELECT * FROM {db}.t WHERE v = 3")
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            assert stats.rowCount().isDefined(), str(stats)
            # filtered estimate must be below the full table count
            assert int(str(stats.rowCount().get())) <= 1234
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
