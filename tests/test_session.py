"""`get_spark` makes its warehouse and Derby temp dirs only when it
starts the SparkContext; a later call in the same process reuses the
running session and makes none."""

from __future__ import annotations

import os
import tempfile

from taps_spark.session import get_spark


def test_second_get_spark_makes_no_temp_dirs(spark, monkeypatch):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.basename(warehouse).startswith("taps_wh_") and os.path.isdir(warehouse)
    made = []
    mkdtemp = tempfile.mkdtemp
    monkeypatch.setattr(tempfile, "mkdtemp", lambda **kw: made.append(mkdtemp(**kw)) or made[-1])
    assert get_spark("taps_spark_tests") is spark
    assert made == []
