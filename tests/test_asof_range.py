"""Planted-data semantics tests for the as-of join and bucketed range join."""

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators.asof import asof_join, range_join_bucketed


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_strictly_before(spark):
    left = _mk(spark, [(1, 100, 10), (1, 200, 11), (2, 50, 12)], "k int, t int, lid int")
    right = _mk(
        spark,
        [(1, 90, 900), (1, 100, 901), (1, 150, 902), (2, 60, 903)],
        "k int, t int, rid int",
    )
    out = asof_join(
        left, right, key="k", left_order=["t", "lid"], right_order=["t", "rid"],
        right_payload=["rid", "t"], strictly_before=True,
    ).collect()
    got = {r.lid: r.r_rid for r in out}
    # t=100: the right row AT 100 is excluded (strict) -> match t=90
    # lid tie-break: right rid=901 at t=100 has rid 901 > nothing; order tuple
    # (100, 901) vs left (100, 10): 901 > 10 so it is after the left row anyway
    assert got[10] == 900
    assert got[11] == 902  # latest of {90, 100, 150}
    assert got[12] is None  # right at t=60 is after left t=50


def test_asof_at_or_before(spark):
    # timestamp-only order tuple: "at" means equal t, regardless of row ids
    left = _mk(spark, [(1, 100, 10)], "k int, t int, lid int")
    right = _mk(spark, [(1, 90, 900), (1, 100, 901)], "k int, t int, rid int")
    out = asof_join(
        left, right, key="k", left_order=["t"], right_order=["t"],
        right_payload=["rid"], strictly_before=False,
    ).collect()
    assert out[0].r_rid == 901  # the equal-timestamp row now matches


def test_asof_no_match_keeps_left_row(spark):
    left = _mk(spark, [(9, 5, 1)], "k int, t int, lid int")
    right = _mk(spark, [(8, 1, 70)], "k int, t int, rid int")
    out = asof_join(
        left, right, key="k", left_order=["t", "lid"], right_order=["t", "rid"],
        right_payload=["rid"],
    ).collect()
    assert len(out) == 1 and out[0].r_rid is None


def test_asof_matches_bruteforce_reference(spark):
    """Randomized (seeded) as-of join vs a quadratic in-Python reference,
    including duplicate timestamps across and within sides."""
    import random

    rng = random.Random(123)
    left = [(rng.randint(0, 4), rng.randint(0, 50), i) for i in range(120)]
    right = [(rng.randint(0, 4), rng.randint(0, 50), 1000 + i) for i in range(150)]
    ldf = _mk(spark, left, "k int, t int, lid int")
    rdf = _mk(spark, right, "k int, t int, rid int")

    # timestamp-only ordering with unique (k, t) right rows: equal-t ties
    # between sides occur and distinguish strict from inclusive
    runiq = list({(rk, rt): (rk, rt, rid) for (rk, rt, rid) in right}.values())
    rdf_u = _mk(spark, runiq, "k int, t int, rid int")

    for strict in (True, False):
        got = {
            r.lid: r.r_rid
            for r in asof_join(
                ldf, rdf_u, key="k", left_order=["t"], right_order=["t"],
                right_payload=["rid"], strictly_before=strict,
            ).collect()
        }

        def expect(k, t):
            cand = [
                (rt, rid)
                for (rk, rt, rid) in runiq
                if rk == k and (rt < t or (not strict and rt == t))
            ]
            return max(cand)[1] if cand else None

        want = {lid: expect(k, t) for (k, t, lid) in left}
        assert got == want
        if not strict:
            hits = [
                (k, t) for (k, t, lid) in left if any(rk == k and rt == t for (rk, rt, _) in runiq)
            ]
            assert hits, "seed produced no equal-timestamp tie; inclusive case untested"


def test_range_join_matches_naive_inequality_join(spark):
    import random

    rng = random.Random(7)
    # negative timestamps included: bucket math must floor, not truncate
    left = _mk(
        spark,
        [(rng.randint(0, 3), rng.randint(-500, 500), i) for i in range(60)],
        "k int, t long, lid int",
    )
    right = _mk(
        spark,
        [(rng.randint(0, 3), rng.randint(-500, 500), 1000 + i) for i in range(80)],
        "k int, t long, rid int",
    )
    lower, upper = -150, 40
    fast = range_join_bucketed(
        left, right.select("k", "t", "rid"), key="k", left_ts="t", right_ts="t",
        lower=lower, upper=upper,
    )
    fast_pairs = sorted(
        (r.lid, r._rrow.rid) for r in fast.select("lid", "_rrow").collect()
    )
    naive = (
        left.alias("l")
        .join(right.alias("r"), F.expr(f"l.k = r.k AND r.t - l.t >= {lower} AND r.t - l.t < {upper}"))
        .select(F.col("l.lid"), F.col("r.rid"))
    )
    naive_pairs = sorted((r.lid, r.rid) for r in naive.collect())
    assert fast_pairs == naive_pairs and len(fast_pairs) > 0


def test_range_join_plan_has_no_nested_loop(spark):
    left = _mk(spark, [(1, 10, 1)], "k int, t long, lid int")
    right = _mk(spark, [(1, 12, 2)], "k int, t long, rid int")
    plan = range_join_bucketed(
        left, right, key="k", left_ts="t", right_ts="t", lower=0, upper=100
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
