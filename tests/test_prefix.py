"""plans/prefix.py: the shared two-level range prefix sum, against a
Python running sum — at a size past the range sampler's full-coverage
point (a sample quota of 60 rows per input partition for 8 ranges over
8 input partitions), on aggregated input carrying a column the offset
table does not read: the shape in which a split planned once per
branch samples twice and disagrees with itself."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from crgp_spark.plans.prefix import range_cumsum


def test_range_cumsum_matches_python(spark):
    rng = random.Random(3)
    keys = rng.sample(range(200_000), 20_000)
    rows = [
        (k // 1_000, k % 1_000, rng.randint(0, 9), rng.randint(-5, 5), f"t{k}")
        for k in keys
    ]
    rng.shuffle(rows)
    df = (
        spark.createDataFrame(
            rows, "a: long, b: long, x: long, y: long, tag: string"
        )
        .repartition(8)
        .groupBy("a", "b")
        .agg(
            F.sum("x").alias("x"), F.sum("y").alias("y"),
            F.first("tag").alias("tag"),
        )
    )
    got = {
        (r["a"], r["b"]): (r["x"], r["y"], r["_cum_x"], r["_cum_y"])
        for r in range_cumsum(df, ["a", "b"], ["x", "y"], 8).collect()
    }
    ordered = sorted(rows)
    cx = itertools.accumulate(r[2] for r in ordered)
    cy = itertools.accumulate(r[3] for r in ordered)
    want = {
        (a, b): (x, y, sx, sy)
        for (a, b, x, y, _), sx, sy in zip(ordered, cx, cy)
    }
    assert got == want
