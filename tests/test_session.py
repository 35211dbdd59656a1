"""The one session builder: its fixed settings reach the session."""

from pdf_plumber_util_spark.session import FIXED_CONF


def test_fixed_conf_is_live(spark):
    """Every fixed setting is in force in the session the tests run on,
    including the url co-partitioning the plan-shape pins rely on."""
    assert FIXED_CONF["spark.sql.requireAllClusterKeysForCoPartition"] == "false"
    for key, value in FIXED_CONF.items():
        assert spark.conf.get(key) == value, key


def test_live_session_keeps_its_sizing(spark):
    """get_spark on a live session keeps its master and shuffle partitions
    (getOrCreate keeps the master, so a new partition count would no
    longer match the cores the session runs on)."""
    from pdf_plumber_util_spark.session import get_spark

    master = spark.sparkContext.master
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark(cores=int(partitions) + 3)
    assert again.sparkContext.master == master
    assert again.conf.get("spark.sql.shuffle.partitions") == partitions
