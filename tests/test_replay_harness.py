"""The stream-replay harness: session.scoped_conf and the _replay
context of plans/streaming_queries. Both must leave the session and
the scratch volume as they found them, also when the body raises.
These tests run no Spark job."""

from __future__ import annotations

import os

import pytest

from public_transit_status_with_apache_kafka_spark.plans.streaming_queries import _replay
from public_transit_status_with_apache_kafka_spark.session import scoped_conf

SP = "spark.sql.shuffle.partitions"
UNSET = "spark.graft.test.scoped_conf_unset"


def test_scoped_conf_restores_earlier_value(spark):
    before = spark.conf.get(SP)
    with scoped_conf(spark, {SP: "3"}):
        assert spark.conf.get(SP) == "3"
    assert spark.conf.get(SP) == before


def test_scoped_conf_unsets_key_without_earlier_value(spark):
    assert spark.conf.get(UNSET, None) is None
    with scoped_conf(spark, {UNSET: "on"}):
        assert spark.conf.get(UNSET) == "on"
    assert spark.conf.get(UNSET, None) is None


def test_scoped_conf_restores_when_body_raises(spark):
    before = spark.conf.get(SP)
    with pytest.raises(RuntimeError, match="body"):
        with scoped_conf(spark, {SP: "3", UNSET: "on"}):
            raise RuntimeError("body")
    assert spark.conf.get(SP) == before
    assert spark.conf.get(UNSET, None) is None


class _FakeQuery:
    stopped = False

    def stop(self):
        self.stopped = True


def test_replay_cleans_up_and_stops_queries_when_body_raises(spark):
    before = spark.conf.get(SP)
    q = _FakeQuery()
    with pytest.raises(RuntimeError, match="body"):
        with _replay(spark, "harness_test_", partitions=7) as rp:
            root = rp.dir
            assert os.path.isdir(root)
            assert spark.conf.get(SP) == "7"
            rp.queries.append(q)
            raise RuntimeError("body")
    assert q.stopped
    assert not os.path.exists(root)
    assert spark.conf.get(SP) == before
