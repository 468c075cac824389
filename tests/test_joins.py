

def test_interval_join_matches_bruteforce(spark):
    import pandas as pd

    from kgforge.joins import interval_join

    rng = __import__("numpy").random.default_rng(11)
    pts = pd.DataFrame(
        {"pid": range(200), "pos": rng.integers(0, 10_000, 200)}
    )
    ivs = pd.DataFrame(
        {
            "iid": range(40),
            "start": rng.integers(0, 9_500, 40),
        }
    )
    ivs["end"] = ivs["start"] + rng.integers(0, 800, 40)  # some empty
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            spark.createDataFrame(pts.assign(pos=pts["pos"].astype("int64"))),
            spark.createDataFrame(ivs.astype("int64")),
            bucket_width=256,
        ).collect()
    }
    want = {
        (p.pid, i.iid)
        for p in pts.itertuples()
        for i in ivs.itertuples()
        if i.start <= p.pos < i.end
    }
    assert got == want and len(want) > 50  # overlapping intervals multi-match
    # bucket width must not change the result
    got2 = {
        (r["pid"], r["iid"])
        for r in interval_join(
            spark.createDataFrame(pts.astype("int64")),
            spark.createDataFrame(ivs.astype("int64")),
            bucket_width=7,
        ).collect()
    }
    assert got2 == want


def test_interval_join_plan_is_equi_join_not_nested_loop(spark):
    """The bucketization must surface as an EQUI-join on the bucket
    key — never a BroadcastNestedLoopJoin / cartesian theta join (the
    naive range-join plans that melt at scale)."""
    import pandas as pd

    from kgforge.joins import interval_join

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": range(100), "pos": range(0, 10_000, 100)}).astype("int64")
    )
    ivs = spark.createDataFrame(
        pd.DataFrame(
            {"iid": range(10), "start": range(0, 5000, 500)}
        ).assign(end=lambda d: d["start"] + 300).astype("int64")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the chosen strategy is visible: the
        # bucket key must make a shuffled EQUI join legal
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            interval_join(pts, ivs, bucket_width=512)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_salted_join_matches_plain_join(spark):
    from kgforge.joins import salted_join

    # hot key 7: 300 left rows; key 99 has no right match
    left = spark.createDataFrame(
        [(7, i) for i in range(300)] + [(1, 1000), (2, 1001), (99, 1002)],
        "k long, payload long",
    )
    right = spark.createDataFrame(
        [(7, "hot"), (1, "a"), (2, "b"), (2, "b2")],  # dup right key fans out
        "rk long, name string",
    )
    plain = {(r["k"], r["payload"], r["name"])
             for r in left.join(right, left.k == right.rk).collect()}
    salted = {(r["k"], r["payload"], r["name"])
              for r in salted_join(left, right, "k", "rk", n_salts=16).collect()}
    assert salted == plain
    assert len(salted) == 300 + 1 + 2

    lplain = {(r["k"], r["payload"], r["name"])
              for r in left.join(right, left.k == right.rk, "left").collect()}
    lsalted = {(r["k"], r["payload"], r["name"])
               for r in salted_join(left, right, "k", "rk", n_salts=16,
                                    how="left").collect()}
    assert lsalted == lplain  # unmatched key 99 appears exactly once


def test_salted_join_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    from kgforge.joins import salted_join

    left = spark.createDataFrame([(7, i) for i in range(400)], "k long, payload long")
    salt = F.pmod(F.xxhash64(F.col("k"), F.col("payload")), F.lit(16)).cast("int")
    n_salts_used = left.withColumn("_s", salt).select("_s").distinct().count()
    assert n_salts_used >= 12  # the hot key's rows spread over most salts

    right = spark.createDataFrame([(7, "hot")], "rk long, name string")
    plan = salted_join(left, right, "k", "rk", n_salts=16)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "explode" in plan  # the right-side replication is in the plan
