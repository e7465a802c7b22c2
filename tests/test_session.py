"""apply_runtime_confs on a session it did not build: a conf the build
cannot set at runtime is skipped, any other failure propagates."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from data_engineering_challenge_spark.session import RUNTIME_CONFS, apply_runtime_confs


class _StubConf:
    def __init__(self, fail_key: str, error: Exception) -> None:
        self.fail_key, self.error, self.values = fail_key, error, {}

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.values.get(key, default)

    def set(self, key: str, value: str) -> None:
        if key == self.fail_key:
            raise self.error
        self.values[key] = value


class _StubSession:
    def __init__(self, conf: _StubConf) -> None:
        self.conf = conf


def test_unexpected_conf_error_propagates():
    key = next(iter(RUNTIME_CONFS))
    stub = _StubSession(_StubConf(key, RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        apply_runtime_confs(stub)


def test_static_conf_is_skipped_and_the_rest_are_set():
    key = next(iter(RUNTIME_CONFS))
    conf = _StubConf(key, AnalysisException(message="cannot modify a static config"))
    apply_runtime_confs(_StubSession(conf))
    expected = {k: v for k, v in RUNTIME_CONFS.items() if k != key}
    assert {k: conf.values.get(k) for k in expected} == expected
    assert key not in conf.values
