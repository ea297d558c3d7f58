"""session.get_spark keeps the settings a deployment already made."""

from __future__ import annotations

from bikes_data_warehouse_etl_spark.session import get_spark

_KEY = "spark.sql.optimizer.excludedRules"
_IFFG = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def test_preset_excluded_rule_survives_get_spark(spark):
    preset = "org.apache.spark.sql.catalyst.optimizer.PushFoldableIntoBranches"
    prior = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, preset)
    try:
        s = get_spark("tests")
        assert s.conf.get(_KEY).split(",") == [preset, _IFFG]
        get_spark("tests")  # idempotent: the rule is not appended twice
        assert s.conf.get(_KEY).split(",") == [preset, _IFFG]
    finally:
        if prior is None:
            spark.conf.unset(_KEY)
        else:
            spark.conf.set(_KEY, prior)
    assert spark.conf.get(_KEY, None) == prior
