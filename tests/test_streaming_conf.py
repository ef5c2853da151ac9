"""Streaming configuration parsing that needs no Spark session: a
malformed ``GRAPHEM_STREAM_PARTITIONS`` or a non-numeric
``spark.sql.shuffle.partitions`` must not break the stream drain, and
the scoped shuffle-partitions override always restores the session
value."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from graphem_rapids_spark.session import scoped_shuffle_partitions
from graphem_rapids_spark.streaming import events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Conf:
    def __init__(self, parts: str):
        self.values = {"spark.sql.shuffle.partitions": parts}

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.values[key] = value


class _Stream:
    """Stands in for both the streaming DataFrame and its writer;
    records the shuffle-partition conf the query starts with."""

    def __init__(self, parts: str):
        self.sparkSession = self
        self.conf = _Conf(parts)
        self.started_with = None

    @property
    def writeStream(self):
        return self

    def format(self, _):
        return self

    queryName = outputMode = format

    def trigger(self, **_):
        return self

    def start(self):
        self.started_with = self.conf.get("spark.sql.shuffle.partitions")
        return self

    def awaitTermination(self):
        pass

    def table(self, name):
        return name


def test_run_available_now_caps_numeric_partitions():
    s = _Stream("32")
    assert events.run_available_now(s, name="q") == "q"
    assert s.started_with == str(min(32, events.STREAM_PARTITIONS))
    assert s.conf.get("spark.sql.shuffle.partitions") == "32"


def test_run_available_now_keeps_non_numeric_partitions():
    s = _Stream("auto")
    assert events.run_available_now(s, name="q") == "q"
    assert s.started_with == "auto"
    assert s.conf.get("spark.sql.shuffle.partitions") == "auto"


def test_positive_int_falls_back():
    assert events._positive_int("16", 8) == 16
    for bad in (None, "", "abc", "1.5", "0", "-4"):
        assert events._positive_int(bad, 8) == 8


def test_malformed_stream_partitions_env_imports():
    for bad in ("abc", "0", "-3"):
        out = subprocess.run(
            [sys.executable, "-c",
             "from graphem_rapids_spark.streaming import events; "
             "print(events.STREAM_PARTITIONS)"],
            env={**os.environ, "GRAPHEM_STREAM_PARTITIONS": bad},
            capture_output=True, text=True, check=True, cwd=REPO,
        )
        assert out.stdout.strip() == "8"


def test_scoped_shuffle_partitions_sets_and_restores():
    s = _Stream("32")
    with scoped_shuffle_partitions(s, lambda p: p * 2):
        assert s.conf.get("spark.sql.shuffle.partitions") == "64"
    assert s.conf.get("spark.sql.shuffle.partitions") == "32"


def test_scoped_shuffle_partitions_keeps_non_numeric():
    s = _Stream("auto")
    with scoped_shuffle_partitions(s, lambda p: p * 2):
        assert s.conf.get("spark.sql.shuffle.partitions") == "auto"
    assert s.conf.get("spark.sql.shuffle.partitions") == "auto"


def test_scoped_shuffle_partitions_restores_on_error():
    s = _Stream("32")
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(s, lambda p: 4):
            raise RuntimeError("body failed")
    assert s.conf.get("spark.sql.shuffle.partitions") == "32"
