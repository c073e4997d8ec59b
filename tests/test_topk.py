"""top_k_per_group: the one keep-the-best-k-rows-per-key window."""

from __future__ import annotations

from pyspark.sql import functions as F

from nutch_spark.topk import top_k_per_group


def _groups(spark):
    return spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(10)], ["g", "v"]
    )


def test_one_string_key(spark):
    df = _groups(spark)
    got = top_k_per_group(df, ["g"], [F.desc("v")], 3).collect()
    assert len(got) == 6
    assert {r["v"] for r in got} == {7, 8, 9}
    assert df.columns == ["g", "v"] == list(got[0].asDict())


def test_two_keys_one_a_column_expression(spark):
    got = top_k_per_group(
        _groups(spark), ["g", F.col("v") % 2], [F.asc("v")], 2
    ).collect()
    assert sorted((r["g"], r["v"]) for r in got) == [
        ("a", 0), ("a", 1), ("a", 2), ("a", 3),
        ("b", 0), ("b", 1), ("b", 2), ("b", 3),
    ]


def test_empty_keys_is_one_global_window(spark):
    got = top_k_per_group(_groups(spark), [], [F.desc("v"), F.asc("g")], 3).collect()
    assert sorted((r["g"], r["v"]) for r in got) == [("a", 8), ("a", 9), ("b", 9)]


def test_k1_tie_broken_by_the_order_list(spark):
    df = spark.createDataFrame(
        [("x", 5, "b"), ("x", 5, "a"), ("x", 4, "0"), ("y", 1, "z")],
        ["g", "v", "id"],
    )
    got = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 1).collect()
    assert sorted((r["g"], r["v"], r["id"]) for r in got) == [
        ("x", 5, "a"), ("y", 1, "z"),
    ]
