"""The runtime session settings are defined once (session.RUNTIME_CONF):
get_spark applies them through the builder, tune_for_oracle through
``spark.conf.set`` on a driver-provided session — both must end with
every setting in force."""

from __future__ import annotations

from etl_tpch_spark.session import RUNTIME_CONF, tune_for_oracle


def test_tune_for_oracle_applies_every_runtime_setting(spark):
    vanilla = spark.newSession()
    for k in RUNTIME_CONF:
        vanilla.conf.unset(k)
    assert tune_for_oracle(vanilla) is vanilla
    for k, v in RUNTIME_CONF.items():
        assert vanilla.conf.get(k) == v, k


def test_get_spark_applies_every_runtime_setting(spark):
    for k, v in RUNTIME_CONF.items():
        assert spark.conf.get(k) == v, k
