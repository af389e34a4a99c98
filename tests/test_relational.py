"""Hand-computed fixtures for the batch relational operators."""

from flink_training_exercises_spark.operators.relational import (
    mail_count,
    member_of_the_month,
    reply_graph,
    tf_idf,
)

MAIL_SCHEMA = (
    "message_id string, time string, sender string, subject string, "
    "body string, reply_to string"
)


def _mails(spark, rows):
    return spark.createDataFrame(rows, MAIL_SCHEMA)


def _mail(mid, t, sender, reply_to="null"):
    return (mid, t, sender, "s", "b", reply_to)


def test_mail_count(spark):
    df = _mails(
        spark,
        [
            _mail("m1", "2014-09-01-00:00:00", "A <a@x>"),
            _mail("m2", "2014-09-02-00:00:00", "A <a@x>"),
            _mail("m3", "2014-10-01-00:00:00", "A <a@x>"),
            _mail("m4", "2014-09-03-00:00:00", "B <b@x>"),
        ],
    )
    got = {(r["month"], r["email"]): r["cnt"] for r in mail_count(df).collect()}
    assert got == {("2014-09", "a@x"): 2, ("2014-10", "a@x"): 1, ("2014-09", "b@x"): 1}


def test_member_of_the_month_ties_and_bots(spark):
    rows = [
        _mail("m1", "2014-09-01-00:00:00", "A <a@x>"),
        _mail("m2", "2014-09-02-00:00:00", "A <a@x>"),
        _mail("m3", "2014-09-03-00:00:00", "B <b@x>"),
        _mail("m4", "2014-09-04-00:00:00", "B <b@x>"),
        _mail("m5", "2014-09-05-00:00:00", "C <c@x>"),
        # bot with 10 mails must not win (MemberOTMonth.java:68-70)
        *[_mail(f"g{i}", "2014-09-06-00:00:00", "G <git@git.apache.org>") for i in range(10)],
    ]
    df = _mails(spark, rows)
    for strategy in ("window", "join"):
        got = {
            (r["month"], r["sender"])
            for r in member_of_the_month(df, strategy=strategy).collect()
        }
        # ties produce multiple rows (J3 -- SURVEY.md §7 watch list)
        assert got == {("2014-09", "a@x"), ("2014-09", "b@x")}, strategy


def test_reply_graph(spark):
    df = _mails(
        spark,
        [
            _mail("m1", "t", "A <a@x>"),
            _mail("m2", "t", "B <b@x>", reply_to="m1"),
            _mail("m3", "t", "B <b@x>", reply_to="m1"),
            _mail("m4", "t", "A <a@x>", reply_to="m2"),
            _mail("m5", "t", "G <git@git.apache.org>", reply_to="m1"),  # bot dropped
            _mail("m6", "t", "C <c@x>", reply_to="null"),  # sentinel never joins
        ],
    )
    got = {(r["from_email"], r["to_email"]): r["cnt"] for r in reply_graph(df).collect()}
    assert got == {("b@x", "a@x"): 2, ("a@x", "b@x"): 1}


def test_tf_idf_no_log(spark):
    # 2 docs; 'alpha' in both (df=2), 'beta' twice in doc1 only (df=1).
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    got = {(r["doc_id"], r["word"]): r["tfidf"] for r in tf_idf(docs).collect()}
    # tfidf = tf * (N / df), NO logarithm (MailTFIDF.java:230)
    assert got[(1, "beta")] == 2 * (2.0 / 1)
    assert got[(1, "alpha")] == 1 * (2.0 / 2)
    assert got[(2, "gamma")] == 1 * (2.0 / 1)


def test_tpch_q13_keeps_zero_order_customers(spark):
    from flink_training_exercises_spark.operators import tpch

    customer = spark.createDataFrame(
        [(1, "c1", 0, 0.0, "S"), (2, "c2", 0, 0.0, "S"), (3, "c3", 0, 0.0, "S")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [
            (10, 1, "O", 1.0, "2024-01-01 00:00:00", "1-URGENT"),
            (11, 1, "O", 1.0, "2024-01-01 00:00:00", "1-URGENT"),
            (12, 2, "O", 1.0, "2024-01-01 00:00:00", "4-NOT SPECIFIED"),  # excluded
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string, o_orderpriority string",
    )
    out = {
        r["c_count"]: r["custdist"]
        for r in tpch.customer_order_distribution(customer, orders).collect()
    }
    # c1 has 2 counted orders; c2's only order is excluded -> 0; c3 has none -> 0
    assert out == {2: 1, 0: 2}


def test_tpch_q17_integer_small_quantity_predicate(spark):
    from flink_training_exercises_spark.operators import tpch

    # part 1: quantities 10, 100 -> avg 55, 20% = 11 -> only qty 10 qualifies
    lineitem = spark.createDataFrame(
        [(1, 1, 10.0, 70.0), (2, 1, 100.0, 999.0), (3, 2, 1.0, 999.0)],
        "l_orderkey long, l_partkey long, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "Brand#5"), (2, "Brand#5")], "p_partkey long, p_brand string"
    )
    [row] = tpch.small_quantity_revenue(lineitem, part).collect()
    # only the (part 1, qty 10, price 70) row passes: 70 / 7 = 10 per year
    assert row["avg_yearly"] == 10.0


def test_tpch_q21_sole_failing_supplier(spark):
    from flink_training_exercises_spark.operators import tpch

    # order 10: suppliers 1 (failed) + 2 (ok)  -> supplier 1 is the sole failer
    # order 11: suppliers 1 + 2 both failed    -> excluded (NOT EXISTS fails)
    # order 12: supplier 1 alone, failed       -> excluded (EXISTS fails)
    # order 13: like order 10 but status 'O'   -> excluded (not finalized)
    lineitem = spark.createDataFrame(
        [
            (10, 1, "R"), (10, 2, "N"),
            (11, 1, "R"), (11, 2, "R"),
            (12, 1, "R"),
            (13, 1, "R"), (13, 2, "N"),
        ],
        "l_orderkey long, l_suppkey long, l_returnflag string",
    )
    orders = spark.createDataFrame(
        [(10, "F"), (11, "F"), (12, "F"), (13, "O")],
        "o_orderkey long, o_orderstatus string",
    )
    supplier = spark.createDataFrame(
        [(1, "s1", 0), (2, "s2", 0)], "s_suppkey long, s_name string, s_nationkey long"
    )
    nation = spark.createDataFrame([(0, "NATION_0")], "n_nationkey long, n_name string")
    rows = tpch.waiting_suppliers(
        lineitem, orders, supplier, nation, nation_name="NATION_0"
    ).collect()
    assert [(r["s_suppkey"], r["numwait"]) for r in rows] == [(1, 1)]


def test_synthetic_partsupp_deterministic_and_distinct(spark):
    from flink_training_exercises_spark.operators import tpch

    lineitem = spark.createDataFrame(
        [(1, 5, 7), (2, 5, 7), (3, 5, 8)],  # duplicate (5,7) pair collapses
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    a = {
        (r["ps_partkey"], r["ps_suppkey"]): (r["ps_supplycost_c"], r["ps_availqty"])
        for r in tpch.synthetic_partsupp(lineitem).collect()
    }
    b = {
        (r["ps_partkey"], r["ps_suppkey"]): (r["ps_supplycost_c"], r["ps_availqty"])
        for r in tpch.synthetic_partsupp(lineitem).collect()
    }
    assert a == b and set(a) == {(5, 7), (5, 8)}
    for cost, qty in a.values():
        assert 100 <= cost <= 100000 and 1 <= qty <= 9999


# --- round-5 session-3 relational additions (catalog-inline queries) ------


def _write_events(spark, tmp_path, rows):
    """Stage a hand events table where load_table expects it."""
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_pit_join_boundary_semantics(spark, tmp_path):
    """A purchase exactly ON a version boundary belongs to the NEW version
    (half-open intervals, strict < on valid_to), zero-width versions (two
    'view's at the same ts) never match, and purchases before the first
    version are dropped by the inner join."""
    from datetime import datetime

    from flink_training_exercises_spark.plans.catalog import CATALOG

    t = lambda m: datetime(2024, 1, 1, 0, m)
    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: versions at :10 (v=101) and :20 (v=102)
            (101, t(10), 1, "view", 0.0, ""),
            (102, t(20), 1, "view", 0.0, ""),
            (900, t(5), 1, "purchase", 1.0, ""),   # before first version: dropped
            (901, t(15), 1, "purchase", 1.0, ""),  # inside [10, 20): v101
            (902, t(20), 1, "purchase", 1.0, ""),  # ON the boundary: v102
            (903, t(25), 1, "purchase", 1.0, ""),  # open-ended current: v102
            # user 2: two versions at the SAME ts -- the first (lower
            # event_id) is zero-width and must never match
            (201, t(10), 2, "view", 0.0, ""),
            (202, t(10), 2, "view", 0.0, ""),
            (910, t(10), 2, "purchase", 1.0, ""),
            (911, t(30), 2, "purchase", 1.0, ""),
        ],
    )
    got = {
        r["event_id"]: r["version_id"]
        for r in CATALOG["scd2_point_in_time_join"].spark(spark, sf).collect()
    }
    assert got == {901: 101, 902: 102, 903: 102, 910: 202, 911: 202}


def test_cube_marginals_consistent(spark, sf_small):
    """Every CUBE slice must re-aggregate to the same grand total, and the
    'ALL' labels must agree with the GROUPING id bits (event_type = bit 1,
    day = bit 0)."""
    from flink_training_exercises_spark.plans.catalog import CATALOG

    rows = CATALOG["cube_user_type_day"].spark(spark, sf_small).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    assert len(by_gid[3]) == 1
    total = by_gid[3][0]
    for gid in (0, 1, 2):
        assert sum(r["cnt"] for r in by_gid[gid]) == total["cnt"]
        assert sum(r["cents"] for r in by_gid[gid]) == total["cents"]
    for r in rows:
        assert (r["event_type"] == "ALL") == bool(r["gid"] & 2)
        assert (r["day"] == "ALL") == bool(r["gid"] & 1)


def test_salted_join_equals_direct(spark, sf_small):
    """The salted replicate-and-broadcast join rewrite must reproduce the
    plain join + GROUP BY exactly (the property that makes it safe to drop
    in at a hot key)."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.plans.catalog import CATALOG
    from flink_training_exercises_spark.sources import load_table

    got = {
        (r["event_type"], r["type_weight"]): (r["n_events"], r["cents"])
        for r in CATALOG["skew_salted_join_events"].spark(spark, sf_small).collect()
    }
    ev = load_table(spark, "events", sf_small)
    direct = {
        (r["event_type"], len(r["event_type"])): (r["n"], r["c"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c"),
        )
        .collect()
    }
    assert got == direct and len(got) == 5


def test_pit_join_matches_python_reference_random(spark, tmp_path):
    """Randomized pin: on an arbitrary event set, the PIT join's match for
    each purchase must equal 'the (ts, event_id)-maximal version with
    ts <= purchase ts' -- the closed-form equivalent of the half-open
    interval chain. Deterministic seed; one Spark run."""
    import random
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.plans.catalog import CATALOG

    rng = random.Random(20260814)
    base = datetime(2024, 3, 1)
    rows, versions, purchases = [], {}, []
    for eid in range(1, 241):
        u = rng.randint(1, 5)
        t = base + timedelta(minutes=rng.randint(0, 40))
        kind = rng.choice(["view", "purchase", "click"])
        rows.append((eid, t, u, kind, 1.0, ""))
        if kind == "view":
            versions.setdefault(u, []).append((t, eid))
        elif kind == "purchase":
            purchases.append((eid, u, t))
    expected = {}
    for eid, u, t in purchases:
        cands = [(ts, vid) for ts, vid in versions.get(u, []) if ts <= t]
        if cands:
            expected[eid] = max(cands)[1]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["event_id"]: r["version_id"]
        for r in CATALOG["scd2_point_in_time_join"].spark(spark, sf).collect()
    }
    assert got == expected and expected  # non-vacuous

def test_props_json_profile_hand_computed(spark):
    from flink_training_exercises_spark.operators.relational import (
        props_json_profile,
    )

    ev = spark.createDataFrame(
        [
            ("view", '{"k": 10}'),
            ("view", '{"k": 30}'),
            ("view", '{"k": 10}'),
            ("view", "not json"),          # malformed -> NULL extraction
            ("view", '{"k": "oops"}'),     # wrong-typed value -> NULL (try_cast)
            ("view", '{"k": 1.5}'),        # non-integer-FORMATTED number -> NULL
            ("view", '{"k": 1e3}'),        # scientific notation -> NULL
            ("view", '{"k": " 7 "}'),      # whitespace-padded STRING -> NULL
                                           # (the raw-string format gate; bare
                                           # try_cast would TRIM and parse it
                                           # while the twin's regexp would not
                                           # -- the ADVICE r8 divergence)
            ("view", '{"k": "7\\n"}'),     # trailing-NEWLINE string -> NULL
                                           # (the \\A..\\z anchors; Java's $
                                           # matches before a final newline,
                                           # RE2's does not, so a ^..$ gate
                                           # would admit this on Spark only)
            ("click", '{"other": 5}'),     # field missing -> NULL
            ("click", '{"k": {"x": 1}}'),  # nested object -> NULL (try_cast)
            ("click", '{"k": -7}'),
        ],
        "event_type string, props string",
    )
    got = {
        r["event_type"]: (
            r["n_events"], r["n_with_field"], r["sum_v"],
            r["min_v"], r["max_v"], r["distinct_v"],
        )
        for r in props_json_profile(ev).collect()
    }
    assert got == {
        "view": (9, 3, 50, 10, 30, 2),
        "click": (3, 1, -7, -7, -7, 1),
    }


def test_props_json_profile_twin_numeric_format_parity():
    """The DuckDB twin must NULL non-integer-formatted JSON numbers the
    way Spark's try_cast does (DuckDB's bare TRY_CAST would parse 1.5 /
    2.0 / 1e3) -- probed on dirty literals without Spark."""
    import duckdb

    from flink_training_exercises_spark.operators.relational import (
        props_json_profile_sql,
    )

    con = duckdb.connect()
    con.execute("""CREATE VIEW events AS SELECT * FROM (VALUES
      ('view', '{"k": 10}'), ('view', '{"k": 1.5}'), ('view', '{"k": 2.0}'),
      ('view', '{"k": 1e3}'), ('view', '{"k": "oops"}'), ('view', 'not json'),
      ('view', '{"k": " 7 "}'), ('view', '{"k": "99999999999999999999999"}'),
      ('view', '{"k": "7\\n"}'),
      ('view', '{"k": -7}')) t(event_type, props)""")
    rows = con.execute(props_json_profile_sql()).fetchall()
    # only 10 and -7 extract: 1.5 / 2.0 / 1e3 NULL like Spark's try_cast;
    # ' 7 ' NULLs under the raw-string gate (ADVICE r8 -- Spark now gates
    # identically instead of trim-parsing); the formatted-but-overflowing
    # integer NULLs via TRY_CAST instead of erroring; '7\n' NULLs under
    # the \A..\z anchors (RE2 $ would too, but Java $ would NOT -- the
    # anchors keep the two engines' admitted sets identical)
    assert rows == [("view", 10, 2, 3, -7, 10, 2)]


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_props_json_profile_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("props_json_profile") == []
