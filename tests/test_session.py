"""Session creation: the one-time warmup get_spark runs
(session._warm_session)."""

from __future__ import annotations


def test_session_is_warmed_once(spark):
    """get_spark marks the session after the one-time warmup so repeat
    calls (getOrCreate returns the same session) never re-run it."""
    assert getattr(spark, "_das_warmed", False) is True


def test_warm_session_is_nonfatal_on_broken_session(spark):
    """_warm_session must never raise — a failed warmup is a no-op."""
    from document_ai_spark.session import _warm_session

    class Broken:
        @property
        def sparkContext(self):  # pragma: no cover - attribute access
            raise RuntimeError("boom")

    _warm_session(Broken())  # must not raise
