"""Minimal end-to-end example: directory-of-JSON pipelines (the reference's
LocalDirectoryPipelineConfigurationResolver shape) + datastream routing +
driver-local lookup dim, over a literal transcript batch.

    python examples/run_example.py
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_filter_elastic_integration_spark import get_spark
from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter
from logstash_filter_elastic_integration_spark.plans import LocalDim


def main():
    spark = get_spark(cores=4)
    turns = spark.createDataFrame(
        [("conv-1", 0, "user", "9.9.9.9 GET /search?q=spark 200 1234 0.2", None),
         ("conv-1", 1, "tool", "tool=search status=ok latency_ms=41", "search"),
         ("conv-1", 2, "assistant", "here is what I found about spark", None)],
        "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("data_stream.type", F.lit("logs")) \
     .withColumn("data_stream.dataset", F.lit("web.access")) \
     .withColumn("data_stream.namespace", F.lit("default"))

    # a driver-local lookup dim: compiling the pipelines runs no Spark job
    tool_dim = LocalDim(
        [("search", "retrieval"), ("code_exec", "compute")],
        T.StructType([T.StructField("tool", T.StringType()),
                      T.StructField("tool_category", T.StringType())]))

    engine = SparkIngestFilter(
        pipelines=os.path.join(os.path.dirname(__file__), "pipelines"),
        routing={"logs-web.access-default": "logs-web",
                 "logs-web.tools-*": "logs-tools"},
        dims={"tool_dim": tool_dim})

    out = engine.filter(turns)
    out.select("conv_id", "turn_idx", "_index", "`event.kind`", "client_ip",
               "http_class", "token_count", "tool_latency_ms",
               "`error.kind`").show(truncate=False)


if __name__ == "__main__":
    main()
