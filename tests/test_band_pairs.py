"""``band_pairs`` against a pure-Python reference: every unordered pair
of rows whose per-band keys agree in at least one band (a null key
never agrees), exactly once, with id_a < id_b and the payload of both
sides."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from xml_hive_spark.operators import band_pairs


def reference(rows, payload_of=lambda r: ()):
    """rows: (id, [key per band], *payload). Sorted multiset of
    (id_a, id_b, p_a, p_b, ...) — the brute-force all-pairs answer."""
    out = []
    for ra in rows:
        for rb in rows:
            if ra[0] < rb[0] and any(
                x is not None and x == y for x, y in zip(ra[1], rb[1])
            ):
                pa, pb = payload_of(ra), payload_of(rb)
                out.append((ra[0], rb[0],
                            *[v for pair in zip(pa, pb) for v in pair]))
    return sorted(out)


def run(df, bands, payload=()):
    keys = [F.col("ks")[i] for i in range(bands)]
    got = band_pairs(df, "id", keys, payload=payload)
    return got.columns, sorted(tuple(r) for r in got.collect())


# (id, keys over 4 bands, payload). Rows are out of id order on purpose.
ROWS = [
    (5, [10, 20, 34, 43], "e"),   # meets 1 in bands 0 and 1, 3 in band 0
    (1, [10, 20, 30, 40], "a"),
    (2, [11, 21, 31, 41], "b"),   # collides with nobody
    (3, [10, 22, 32, 42], "c"),   # meets 1 in band 0 only
    (4, [12, 23, 33, 40], "d"),   # meets 1 in the LAST band only
    (6, [50, 51, 52, 53], "f"),   # equal ids, identical keys: no pair
    (6, [50, 51, 52, 53], "g"),
    (7, [None, 60, 61, 62], "h"),  # nulls in band 0 never collide;
    (8, [None, 63, 64, 62], "i"),  # 7 and 8 meet in band 3 only
    (9, [None, 70, 71, 72], "j"),  # shares only the null with 7 and 8
    (10, [80, 81, 82, 83], "k"),  # identical keys in every band
    (11, [80, 81, 82, 83], "l"),
]


@pytest.fixture(scope="module")
def banded(spark):
    return spark.createDataFrame(ROWS, "id long, ks array<long>, p string")


def test_matches_reference(banded):
    """Each colliding pair once, whether it meets in one band, several,
    all four or only the last; never an id with itself; never through a
    null key."""
    cols, got = run(banded, 4)
    assert cols == ["id_a", "id_b"]
    assert got == reference(ROWS)
    assert got == [(1, 3), (1, 4), (1, 5), (3, 5), (7, 8), (10, 11)]


def test_payload_carried_to_both_sides(banded):
    cols, got = run(banded, 4, payload=("p",))
    assert cols == ["id_a", "id_b", "p_a", "p_b"]
    assert got == reference(ROWS, payload_of=lambda r: (r[2],))
    assert (1, 4, "a", "d") in got


def test_struct_keys(spark):
    """The MinHash shape: each band key is a struct of raw values."""
    rows = [
        (1, [(1, 2), (3, 4), (5, 6)]),
        (2, [(1, 2), (3, 9), (5, 6)]),   # meets 1 in bands 0 and 2
        (3, [(1, 9), (3, 4), (7, 7)]),   # meets 1 in band 1 only
        (4, [(2, 1), (4, 3), (6, 5)]),   # same values, other order: no pair
        (5, [(0, 0), (0, 0), (5, 6)]),   # meets 1 and 2 in the last band
    ]
    df = spark.createDataFrame(
        [(i, [{"r0": x, "r1": y} for x, y in ks]) for i, ks in rows],
        "id long, ks array<struct<r0: long, r1: long>>",
    )
    _, got = run(df, 3)
    assert got == reference(rows)
    assert got == [(1, 2), (1, 3), (1, 5), (2, 5)]


def test_random_against_reference(spark):
    """Small key domain, many multi-band collisions, some nulls."""
    rng = random.Random(7)
    rows = [
        (i, [rng.choice([None, 0, 1, 2, 3]) for _ in range(5)], f"p{i}")
        for i in rng.sample(range(200), 40)
    ]
    df = spark.createDataFrame(rows, "id long, ks array<long>, p string")
    _, got = run(df, 5, payload=("p",))
    want = reference(rows, payload_of=lambda r: (r[2],))
    assert len(want) > 100
    assert got == want


def test_no_job_before_action_and_no_distinct(spark, banded):
    """Building the pairs schedules no Spark job, and the plan has no
    aggregate (the canonical-band check replaces the distinct) and no
    higher-order function: the filter is a plain CASE in the join."""
    sc = spark.sparkContext
    group = "band-pairs-build"
    sc.setJobGroup(group, "build only")
    try:
        df = band_pairs(banded, "id", [F.col("ks")[i] for i in range(4)])
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "HashAggregate" not in plan
    assert "CASE WHEN" in plan
    assert "lambda" not in plan and "zip_with" not in plan
