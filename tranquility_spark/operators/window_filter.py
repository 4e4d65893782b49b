"""Window-period acceptance filter (P6/W1).

Reference semantics (``core/.../beam/ClusteredBeam.scala#sendAll``, tuning in
``ClusteredBeamTuning#windowPeriod``, default PT10M): an event is accepted iff
``|event_ts − wall_clock| ≤ windowPeriod`` — i.e. BOTH late and future data
are rejected, measured against the PROCESSING-time clock, and additionally no
event may land in a bucket at or before ``latestCloseTime``. Rejected events
surface as ``MessageDroppedException`` to the sender.

Spark watermarks are NOT equivalent (SURVEY.md §4.3): ``withWatermark`` only
bounds lateness, and relative to max-seen-EVENT-time. So this operator is an
explicit filter. ``now`` is injectable for deterministic tests (the reference
tests the same way — ``TestingTimekeeper`` in ``ClusteredBeamTest``,
SURVEY.md §5).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql.types import TimestampType
from pyspark.sql.utils import is_timestamp_ntz_preferred


def _parse_iso_duration_seconds(period: str) -> int:
    """Tiny ISO-8601 duration parser for the PT..H/M/S subset Druid uses."""
    p = period.upper()
    if not p.startswith("PT"):
        raise ValueError(f"expected ISO duration like PT10M, got {period!r}")
    if len(p) == 2:
        raise ValueError(f"empty duration {period!r}")
    secs, num = 0, ""
    for ch in p[2:]:
        if ch.isdigit():
            num += ch
        elif ch == "H":
            secs += int(num) * 3600
            num = ""
        elif ch == "M":
            secs += int(num) * 60
            num = ""
        elif ch == "S":
            secs += int(num)
            num = ""
        else:
            raise ValueError(f"bad duration component {ch!r} in {period!r}")
    if num:
        # loud, not silently shortened: "PT10" would otherwise be 0 s
        raise ValueError(f"number {num!r} without a unit in {period!r}")
    return secs


def window_period_seconds(period: str | int) -> int:
    return period if isinstance(period, int) else _parse_iso_duration_seconds(period)


def quote_column(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _timestamp_sql(value: _dt.datetime | str) -> str:
    """SQL text of the timestamp ``F.lit(value).cast("timestamp")`` builds:
    an aware datetime is its UTC instant, a naive one is host-local time
    (or session-zone wall-clock time where the session prefers
    TIMESTAMP_NTZ), and a string is cast in the session time zone."""
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None and is_timestamp_ntz_preferred():
            return f"CAST(TIMESTAMP_NTZ '{value.isoformat(sep=' ')}' AS TIMESTAMP)"
        return f"timestamp_micros({TimestampType().toInternal(value)})"
    escaped = value.replace("\\", "\\\\").replace("'", "\\'")
    return f"CAST('{escaped}' AS TIMESTAMP)"


def window_condition(
    ts_col: str = "ts",
    window_period: str | int = "PT10M",
    now: _dt.datetime | str | None = None,
    latest_close_time: _dt.datetime | str | None = None,
) -> str:
    """The acceptance predicate ``|ts − now| ≤ windowPeriod`` (and after
    latestCloseTime) as SQL text, so a filter or a per-row status embeds it
    and the JVM parses it in one call instead of one py4j round trip per
    Column operator.

    ``now=None`` uses ``current_timestamp()`` (true reference semantics:
    wall clock); pass a fixed datetime for deterministic tests/oracles.
    """
    secs = window_period_seconds(window_period)
    now_sql = "current_timestamp()" if now is None else _timestamp_sql(now)
    ts = quote_column(ts_col)
    cond = (
        f"{ts} >= {now_sql} - INTERVAL {secs} SECONDS"
        f" AND {ts} <= {now_sql} + INTERVAL {secs} SECONDS"
    )
    if latest_close_time is not None:
        cond += f" AND {ts} > {_timestamp_sql(latest_close_time)}"
    return cond


def two_sided_window_filter(
    df: DataFrame,
    ts_col: str = "ts",
    window_period: str | int = "PT10M",
    now: _dt.datetime | str | None = None,
    latest_close_time: _dt.datetime | str | None = None,
) -> DataFrame:
    """Keep the rows ``window_condition`` accepts."""
    return df.filter(window_condition(ts_col, window_period, now, latest_close_time))
