from pyspark.sql import functions as F

from fingerprint import fingerprint


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "id long, name string, x double, tags array<double>, "
              "attrs map<string,double>")


ROWS = [
    (1, "a", 0.5, [1.0, 2.0], {"k": 1.5}),
    (2, "b", -1.25, [], {}),
    (3, None, None, None, None),
]


def test_fingerprint_ignores_row_order_and_partitioning(spark):
    base = fingerprint(_frame(spark, ROWS))
    shuffled = _frame(spark, list(reversed(ROWS))).repartition(3)
    assert fingerprint(shuffled) == base
    assert base[0] == 3


def test_fingerprint_rounds_floating_noise(spark):
    noisy = [(i, n, None if x is None else x + 1e-12,
              None if t is None else [v - 1e-13 for v in t], m)
             for i, n, x, t, m in ROWS]
    assert fingerprint(_frame(spark, noisy)) == fingerprint(
        _frame(spark, ROWS))


def test_fingerprint_folds_negative_zero(spark):
    a = spark.createDataFrame([(0.0,)], "x double")
    b = spark.createDataFrame([(-0.0,)], "x double")
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_sees_every_column(spark):
    base = fingerprint(_frame(spark, ROWS))
    changed = _frame(spark, ROWS).withColumn(
        "name", F.when(F.col("id") == 2, "z").otherwise(F.col("name")))
    assert fingerprint(changed)[0] == base[0]
    assert fingerprint(changed) != base
    assert fingerprint(_frame(spark, ROWS + ROWS[:1])) != base


def test_fingerprint_of_empty_frame(spark):
    assert fingerprint(_frame(spark, ROWS).limit(0)) == [0, 0]
