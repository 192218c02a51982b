"""get_spark against a live session."""

from __future__ import annotations


def test_get_spark_returns_live_session_unchanged(spark):
    """A second get_spark with another master and app name hands back the
    running session as it was: no retuned shuffle width, no renamed app."""
    from zerox_spark.session import get_spark

    keys = ("spark.sql.shuffle.partitions", "spark.app.name")
    before = {k: spark.conf.get(k) for k in keys}
    try:
        got = get_spark("local[1]", app_name="other")
        assert got is spark
        assert {k: spark.conf.get(k) for k in keys} == before
        assert got.sparkContext.master == "local[4]"
    finally:
        session_conf = spark._jsparkSession.sessionState().conf()
        for k, v in before.items():
            session_conf.setConfString(k, v)
