"""get_spark's shuffle/spill dir: tmpfs only when the caller names none.
No Spark session is started: the builder's config and getOrCreate are
replaced by recorders."""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import SparkSession

from ts_process_spark import session


@pytest.mark.parametrize(
    "extra_conf, env, want",
    [
        (None, {}, "/dev/shm/spark_local"),
        ({"spark.local.dir": "/run/mine"}, {}, "/run/mine"),
        (None, {"SPARK_LOCAL_DIRS": "/run/mine"}, None),
    ],
)
def test_tmpfs_local_dir_only_by_default(monkeypatch, extra_conf, env, want):
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    made, conf = [], {}

    def config(self, key=None, value=None, **_):
        conf[key] = value
        return self

    builder = SparkSession.Builder
    with mock.patch.object(
        session.os, "makedirs", lambda path, exist_ok=False: made.append(path)
    ), mock.patch.object(builder, "config", config), mock.patch.object(
        builder, "getOrCreate", lambda self: mock.MagicMock()
    ):
        session.get_spark(extra_conf=extra_conf)
    assert conf.get("spark.local.dir") == want
    tmpfs = "/dev/shm/spark_local"
    assert made == ([tmpfs] if want == tmpfs else [])
