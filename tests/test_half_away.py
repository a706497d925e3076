"""The half-away rounding helper and its numpy twin (operators/common.py)
must agree bit-for-bit. q_kmeans_embed, q_semantic_dedup and
q_power_iteration_pc round in numpy kernels what their Column
spellings and oracles round in SQL, so their parity rests on this
invariant — checked here on adversarial inputs: negatives, ±0.0,
values whose scaled form lands exactly on a .5 tie (and their float
neighbours), and magnitudes up to dsum's domain bound |x|·scale < 2^53.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_pipeline_standalone_scripts_spark.operators.common import (
    half_away_long,
    half_away_long_np,
)

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ties(scale: int):
    """x with x·scale on (or one ulp either side of) k + 0.5."""
    top = 2**52 // scale

    def around(k: int) -> list[float]:
        x = (k + 0.5) / scale
        return [math.nextafter(x, -math.inf), x, math.nextafter(x, math.inf)]

    return st.integers(-top, top).map(around)


def _values(scale: int):
    bound = 2**53 / scale
    finite = st.floats(-bound, bound, exclude_max=True, exclude_min=True)
    small = st.floats(-10.0, 10.0)
    return st.lists(
        st.one_of(finite.map(lambda x: [x]), small.map(lambda x: [x]), _ties(scale)),
        min_size=1,
        max_size=30,
    ).map(lambda groups: [0.0, -0.0] + [x for g in groups for x in g])


def _column_side(spark, xs: list[float], scale: int) -> list[int]:
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    rows = df.select("i", half_away_long(F.col("x"), scale).alias("r")).collect()
    return [r["r"] for r in sorted(rows)]


@pytest.mark.parametrize("scale", [1_000_000, 1_000_000_000])
@given(data=st.data())
@settings(**_SETTINGS)
def test_half_away_twins_agree(spark, scale, data):
    xs = data.draw(_values(scale))
    want = _column_side(spark, xs, scale)
    got = half_away_long_np(xs, scale).tolist()
    assert got == want, [(x, g, w) for x, g, w in zip(xs, got, want) if g != w]


def test_half_away_ties_round_away_from_zero(spark):
    """On exact ties both twins round away from zero (±0.0 -> 0)."""
    xs = [0.0, -0.0, 0.5, -0.5, 2.5, -2.5]
    want = [0, 0, 1, -1, 3, -3]
    assert half_away_long_np(xs).tolist() == want
    assert _column_side(spark, xs, 1) == want
