from __future__ import annotations

from contextlib import contextmanager

import pytest


SF_DIR = "/root/testdata/sf0.001"

#: AQE partition sizes low enough that a batch of a few dozen documents
#: counts as large: its extraction stage keeps several tasks (files)
SMALL_AQE_PARTITIONS = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
}


@contextmanager
def spark_conf(spark, settings: dict):
    """Set Spark SQL confs for the block, then restore their old values."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def spark():
    from ocr_search_spark.session import get_spark

    s = get_spark("ocr-search-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def base_texts():
    from ocr_search_spark.corpus import load_base_texts

    return load_base_texts(SF_DIR)
