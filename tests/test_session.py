"""SPARK_GRAFT_CPUS parsing: a malformed value degrades to the default
instead of failing the engine import."""

import pytest

from data_engineering_bootcamp_spark.session import parse_cpus


@pytest.mark.parametrize("raw", ["abc", "0", "", "-2", None])
def test_malformed_cpus_fall_back_to_default(raw):
    assert parse_cpus(raw) == 32
    assert parse_cpus(raw, default=4) == 4


def test_positive_cpus_are_used():
    assert parse_cpus("4") == 4
    assert parse_cpus(" 8 ") == 8
