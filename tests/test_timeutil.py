"""Unit tests for the time helpers (T4/T6/T7)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from nabatshy_spark.functions.timeutil import (
    align_epoch,
    interval_seconds,
    parse_time_range,
)


def test_interval_is_range_over_15_floored_min_1():
    assert interval_seconds(15 * 60) == 60        # 15m → 60s buckets
    assert interval_seconds(14) == 1              # floor → min 1 (utils.go:84)
    assert interval_seconds(0) == 1
    assert interval_seconds(86400) == 5760


def test_align_epoch_floors_to_bucket():
    assert align_epoch(1704067201, 60) == 1704067200
    assert align_epoch(1704067200, 60) == 1704067200
    assert align_epoch(1704067199, 60) == 1704067140


@pytest.mark.parametrize(
    "spec,delta",
    [("30s", timedelta(seconds=30)), ("5m", timedelta(minutes=5)),
     ("6h", timedelta(hours=6)), ("7d", timedelta(days=7))],
)
def test_parse_relative_ranges(spec, delta):
    now = datetime(2024, 3, 1, tzinfo=timezone.utc)
    start, end = parse_time_range(spec, now=now)
    assert end == now and end - start == delta


def test_parse_absolute_wins_and_default_24h():
    now = datetime(2024, 3, 1, tzinfo=timezone.utc)
    a, b = datetime(2024, 1, 1), datetime(2024, 1, 2)
    assert parse_time_range("5m", start=a, end=b) == (a, b)
    start, end = parse_time_range(None, now=now)
    assert end - start == timedelta(hours=24)


def test_parse_bad_unit_raises():
    with pytest.raises(ValueError):
        parse_time_range("5x")


def test_range_to_interval():
    """A requested range maps to its bucket width the way the series
    routes compute it: ``interval_seconds`` over the range's epoch
    seconds."""
    start = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for span, width in [
        (timedelta(minutes=15), 60),
        (timedelta(hours=24), 5760),
        (timedelta(seconds=10), 1),
    ]:
        end = start + span
        assert interval_seconds(int(end.timestamp()) - int(start.timestamp())) == width
