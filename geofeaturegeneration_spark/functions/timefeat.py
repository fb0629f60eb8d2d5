"""Calendar / event-time expressions.

``time_features`` mirrors the reference's ``GenerateTimeFeature``
(AttachFeature.py:185-211) which uses pandas ``dt.weekofyear / dayofweek /
dayofyear / quarter / month / hour``. Convention traps handled here:

* pandas ``dayofweek`` is Mon=0..Sun=6; Spark ``dayofweek()`` is
  Sun=1..Sat=7 → ``(dayofweek() + 5) % 7``.
* pandas ``weekofyear`` is the ISO week, same as Spark ``weekofyear()``.

``event_time_from_position`` implements the north-rule's event-time
derivation: row *i* of a doc's exploded token stream maps to
``base + i * step`` seconds (the analog of the reference's GPS fix
timestamps, AttachFeature.py:252).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_features(ts: Column, prefix: str = "") -> dict[str, Column]:
    """The 6-feature calendar family of AttachFeature.py:185-211.

    Returns a dict of column-name → expression so callers can
    ``df.withColumns(time_features(col))``.
    """
    return {
        f"{prefix}weekofyear": F.weekofyear(ts).cast("int"),
        f"{prefix}dayofweek": ((F.dayofweek(ts) + 5) % 7).cast("int"),
        f"{prefix}dayofyear": F.dayofyear(ts).cast("int"),
        f"{prefix}quarter": F.quarter(ts).cast("int"),
        f"{prefix}month": F.month(ts).cast("int"),
        f"{prefix}hour": F.hour(ts).cast("int"),
    }


def with_time_features(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    return df.withColumns(time_features(F.col(ts_col), prefix))


def event_time_from_position(
    pos: Column, base_epoch: int, step_s: int
) -> Column:
    """Timestamp for sequence position ``pos`` (0-based)."""
    return F.timestamp_seconds(F.lit(base_epoch) + pos.cast("long") * step_s)
