"""configure_session must surface conf failures instead of dropping them."""

from __future__ import annotations

import logging

from aidc_2018_timeseries_spark.session import _RUNTIME_CONFS, configure_session


class _RejectingConf:
    def set(self, key: str, value: str) -> None:
        raise RuntimeError(f"cannot modify static conf {key}")


class _StubSession:
    conf = _RejectingConf()


def test_configure_session_warns_once_per_failed_key(caplog):
    stub = _StubSession()
    with caplog.at_level(logging.WARNING, logger="aidc_2018_timeseries_spark.session"):
        assert configure_session(stub) is stub
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == len(_RUNTIME_CONFS)
    for record, key in zip(warnings, _RUNTIME_CONFS):
        msg = record.getMessage()
        assert key in msg
        assert "cannot modify static conf" in msg
