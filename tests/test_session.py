"""Session factory helpers that run before the JVM starts."""

from __future__ import annotations

from zcurve_spark.session import _event_log_flag


def test_event_log_dir_created_when_enabled(monkeypatch, tmp_path):
    log_dir = tmp_path / "spark-events"
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG", "true")
    assert _event_log_flag(str(log_dir)) == "true"
    assert log_dir.is_dir()
    # an existing dir is fine on the next session start
    assert _event_log_flag(str(log_dir)) == "true"


def test_event_log_off_creates_nothing(monkeypatch, tmp_path):
    log_dir = tmp_path / "spark-events"
    monkeypatch.delenv("SPARK_GRAFT_EVENTLOG", raising=False)
    assert _event_log_flag(str(log_dir)) == "false"
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG", "false")
    assert _event_log_flag(str(log_dir)) == "false"
    assert not log_dir.exists()


def test_session_turns_off_call_site_capture(spark):
    """Per-Column-call stack capture is off for every session we build."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_dropped_knobs_keep_spark_defaults(spark):
    """The io codec and file split size are Spark's defaults, unset by us."""
    sc = spark.sparkContext
    codec = sc._jvm.org.apache.spark.io.CompressionCodec.getCodecName(sc._jsc.sc().conf())
    assert codec == "lz4"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "134217728b"
