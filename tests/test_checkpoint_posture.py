"""The r16 checkpoint-posture knob: engine pins must use reliable
``DataFrame.checkpoint`` when the session has a checkpoint directory
configured (cluster posture — survives executor loss) and
``localCheckpoint`` otherwise (single-box posture). Values are
identical either way; this pins WHICH call the knob dispatches."""

from __future__ import annotations

import logging

from cubicerp_client_etl_spark import checkpointing


def _record_calls(monkeypatch, df):
    # patch the CONCRETE DataFrame class (Spark 4 dispatches through
    # pyspark.sql.classic.dataframe.DataFrame, not the abstract base)
    calls = []

    def fake_checkpoint(self, eager=True):
        calls.append(("checkpoint", eager))
        return self

    def fake_local(self, eager=True):
        calls.append(("localCheckpoint", eager))
        return self

    monkeypatch.setattr(type(df), "checkpoint", fake_checkpoint)
    monkeypatch.setattr(type(df), "localCheckpoint", fake_local)
    return calls


def test_pin_local_without_checkpoint_dir(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(checkpointing, "_reliable", lambda _df: False)
    calls = _record_calls(monkeypatch, df)
    checkpointing.pin(df)
    checkpointing.pin_eager(df)
    assert calls == [("localCheckpoint", False), ("localCheckpoint", True)]


def test_pin_reliable_with_checkpoint_dir(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(checkpointing, "_reliable", lambda _df: True)
    calls = _record_calls(monkeypatch, df)
    checkpointing.pin(df)
    checkpointing.pin_eager(df)
    assert calls == [("checkpoint", False), ("checkpoint", True)]


def test_reliable_probe_matches_session_state(spark):
    # the real dispatch probe agrees with the session's JVM state
    # (read-only: setting a dir on the shared test session would leak
    # reliable-checkpoint behavior into every later test)
    df = spark.range(3)
    jvm_state = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    assert checkpointing._reliable(df) == jvm_state


def test_failed_probe_warns_and_pins_locally(spark, monkeypatch, caplog):
    """A checkpoint-dir probe that raises falls back to
    ``localCheckpoint`` loudly: one warning naming the exception."""
    df = spark.range(3)

    def broken_session(self):
        raise RuntimeError("probe exploded")

    calls = _record_calls(monkeypatch, df)
    monkeypatch.setattr(type(df), "sparkSession", property(broken_session))
    with caplog.at_level(logging.WARNING, logger="cubicerp_client_etl_spark"):
        checkpointing.pin(df)
    assert calls == [("localCheckpoint", False)]
    warned = [r for r in caplog.records if r.name == checkpointing.__name__]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "RuntimeError: probe exploded" in warned[0].getMessage()
