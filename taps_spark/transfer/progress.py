"""Progress metering for transfer jobs (reference parity §2a-23:
taps' per-table progress bar, lib/taps/progress_bar.rb + usage in
lib/taps/operation.rb:262-286, driven by rows-per-chunk increments).

Spark-native realization: `DataFrame.observe` attaches a row count
that the executors compute WHILE the write action runs — the exact
rows each write moved, with zero extra scans, where the reference
needed a count(*) round trip up front and per-chunk arithmetic after.
Every endpoint write (transfer/operation.Endpoint) returns the count
its own meter observed.

Scale: observe metrics piggyback on the action's own tasks (an
AccumulatorV2 under the hood), so metering cost is O(1) per task at
any data size — never a second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class ProgressMeter:
    """One row-count observation: `instrument` attaches it to the frame
    whose action (a write) runs next, `harvest` reads it afterwards.
    The observation is unnamed, so Spark gives each meter its own
    unique name and concurrent writes never share a metric."""

    def __init__(self) -> None:
        self._obs = Observation()

    def instrument(self, df: DataFrame) -> DataFrame:
        return df.observe(self._obs, F.count(F.lit(1)).alias("rows"))

    def harvest(self) -> int:
        """The observed row count; call only after the action ran."""
        return int(self._obs.get["rows"])
