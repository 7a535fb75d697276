"""Settings the engine's session factory must carry."""

from __future__ import annotations


def test_python_call_site_capture_is_off(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    assert get_spark() is spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
