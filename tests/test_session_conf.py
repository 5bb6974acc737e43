"""session.get_spark's JVM options: the code-cache flag merged with the
user's flags, driver and executors alike, and a warning when a running
SparkContext keeps its own."""

from __future__ import annotations

import pytest

from datafusion_cyberpolka_eda_spark import session


def test_user_flags_follow_the_code_cache_flag(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    assert session.java_options() == "-XX:ReservedCodeCacheSize=512m"
    monkeypatch.setenv(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", " -XX:ReservedCodeCacheSize=1g -Dfoo=bar "
    )
    # the JVM takes the last of repeated flags: the user's
    assert session.java_options() == (
        "-XX:ReservedCodeCacheSize=512m -XX:ReservedCodeCacheSize=1g -Dfoo=bar"
    )


def test_executors_get_the_drivers_options(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executor.extraJavaOptions") == conf.get(
        "spark.driver.extraJavaOptions"
    )
    assert session.CODE_CACHE_FLAG in conf.get("spark.driver.extraJavaOptions")


def test_warns_when_a_context_is_already_running(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Dsession.test=1")
    with pytest.warns(UserWarning, match="already running"):
        assert session.get_spark(app_name="tests", shuffle_partitions=8) is spark
    # the running context keeps the options it started with
    assert "-Dsession.test=1" not in spark.sparkContext.getConf().get(
        "spark.driver.extraJavaOptions"
    )
