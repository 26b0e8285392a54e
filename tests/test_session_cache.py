"""session.session_cache: one slot per name keyed by (session, sf_dir);
a miss releases the slot's previous value before the build runs."""

from __future__ import annotations

import pytest

from f1_lakehouse_spark import session as S
from f1_lakehouse_spark.session import session_cache


@pytest.fixture
def slots():
    names = ("t_frame", "t_outer", "t_inner", "t_model")
    yield
    for n in names:
        if n in S._SESSION_CACHE:
            S._release(S._SESSION_CACHE.pop(n)[1])


def _frame(spark, n):
    df = spark.range(n).persist()
    df.count()
    return df


def test_hit_returns_the_stored_value_without_rebuilding(spark, slots):
    builds = []

    def build():
        builds.append(1)
        return _frame(spark, 3)

    a = session_cache("t_frame", spark, "dir_a", build)
    assert session_cache("t_frame", spark, "dir_a", build) is a
    assert builds == [1]


def test_miss_releases_the_old_value_before_building(spark, slots):
    old = _frame(spark, 3)
    session_cache("t_frame", spark, "dir_a", lambda: (old, [1, 2]))
    seen = []

    def build():
        seen.append(old.is_cached)  # evicted before this build started
        return _frame(spark, 4)

    new = session_cache("t_frame", spark, "dir_b", build)
    assert seen == [False]
    assert new.is_cached
    assert S._SESSION_CACHE["t_frame"] == ((spark.sparkContext.applicationId, "dir_b"), new)


def test_driver_side_values_roll_over(spark, slots):
    session_cache("t_model", spark, "dir_a", lambda: {0: [1.0]})
    assert session_cache("t_model", spark, "dir_b", lambda: {0: [2.0]}) == {0: [2.0]}


def test_nested_builds_keep_each_others_slots(spark, slots):
    old_inner = session_cache("t_inner", spark, "dir_a", lambda: _frame(spark, 2))

    def outer_build():
        return session_cache("t_inner", spark, "dir_b", lambda: _frame(spark, 5)).count()

    assert session_cache("t_outer", spark, "dir_b", outer_build) == 5
    assert not old_inner.is_cached  # the inner slot rolled over to dir_b
    inner = S._SESSION_CACHE["t_inner"][1]
    assert inner.is_cached and inner.count() == 5
    assert S._SESSION_CACHE["t_outer"] == ((spark.sparkContext.applicationId, "dir_b"), 5)
