"""Idempotency-ledger behavior (reference test_check_history, task.py:248-251)."""

from __future__ import annotations

from data_engineer_task_spark.sources.ledger import Ledger


def test_ledger_roundtrip(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "history"))
    assert not led.seen("netflix_titles.csv")
    assert led.check_and_record("netflix_titles.csv") is False  # first run: proceed
    assert led.seen("netflix_titles.csv")
    assert led.check_and_record("netflix_titles.csv") is True  # second run: skip
    assert not led.seen("other.csv")


def test_ledger_seen_is_one_job(spark, tmp_path):
    """The lookup runs as a single Spark job (``isEmpty``), not the two
    that ``limit(1).count()`` plans under AQE."""
    led = Ledger(spark, str(tmp_path / "history"))
    led.record("a.csv")
    sc = spark.sparkContext
    for name, want in (("a.csv", True), ("b.csv", False)):
        group = f"ledger-seen-{name}"
        sc.setJobGroup(group, group)
        try:
            assert led.seen(name) is want
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, name
