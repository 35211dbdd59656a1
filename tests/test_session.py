"""The one session builder: its fixed settings reach the session."""

from pdf_plumber_util_spark.session import FIXED_CONF


def test_fixed_conf_is_live(spark):
    """Every fixed setting is in force in the session the tests run on,
    including the url co-partitioning the plan-shape pins rely on."""
    assert FIXED_CONF["spark.sql.requireAllClusterKeysForCoPartition"] == "false"
    for key, value in FIXED_CONF.items():
        assert spark.conf.get(key) == value, key
