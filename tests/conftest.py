from __future__ import annotations

import pytest

from fraud_detection_etl_project_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Warehouse outside the repo so saveAsTable (bucketing tests) writes to
    # a throwaway location.
    wh = str(tmp_path_factory.mktemp("spark_wh"))
    spark = get_spark(
        app_name="fraud-etl-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark
    spark.stop()
