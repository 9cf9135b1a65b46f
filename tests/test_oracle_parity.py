"""The primary correctness gate, run locally: every registry query with
an oracle must match DuckDB at sf0.01 — mirroring the driver's check."""

from __future__ import annotations

import pytest

from nabatshy_spark.plans.oracles import ORACLES
from nabatshy_spark.plans.queries import QUERIES

from tests.oracle_harness import compare


def test_every_query_has_an_oracle_or_is_flagged():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, ORACLES[name], sf_dir)
    assert ok, f"{name}: {msg}"
