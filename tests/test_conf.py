"""The one conf table (session._DEFAULT_CONF) on the driver's
vanilla-session path."""

import os
from types import SimpleNamespace

from clickhouse_core_spark import catalog, session


class _RecordingConf:
    def __init__(self):
        self.values = {}

    def set(self, key, value):
        self.values[key] = value


def test_vanilla_session_gets_the_runtime_conf_map():
    conf = _RecordingConf()
    catalog.apply_runtime_conf(SimpleNamespace(conf=conf))
    assert conf.values == {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst":
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"),
    }
    # the same values get_spark builds its session with
    assert all(session._DEFAULT_CONF[k] == v for k, v in conf.values.items())
