"""Daemon entrypoint: config file → per-datasource ingest pipelines → HTTP server.

Reference: ``distribution/bin/tranquility server -configFile <yaml>`` →
``server/.../ServerMain.scala`` builds one Tranquilizer per dataSource from
``TranquilityConfig`` (each dataSource carries a full Druid ingestion spec)
and serves ``POST /v1/post/{dataSource}``.

Config here is JSON (one file, ``dataSources`` list of Druid ingestion specs
— the same shape ``parse_druid_spec`` accepts, plus optional ``sink``/
``server``/``tuning`` blocks):

    {
      "dataSources": [ {"spec": {"dataSchema": {...}},
                        "tuning": {"windowPeriod": "PT10M",
                                   "maxBatchSize": 2000,
                                   "partitions": 1, "replicants": 1}} ],
      "sink": {"root": "/data/segments"},
      "server": {"host": "127.0.0.1", "port": 8200}
    }

Run: ``python -m tranquility_spark.server_main --config server.json``
"""

from __future__ import annotations

import argparse
import json
from typing import Optional

from pyspark.sql import SparkSession

from tranquility_spark.sources.http_server import IngestServer
from tranquility_spark.specs import IngestSpec, parse_druid_spec
from tranquility_spark.streaming.sink import SegmentSink
from tranquility_spark.streaming.tranquilizer import Tranquilizer


def build_sink(config: dict, spec: IngestSpec, tuning: dict) -> SegmentSink:
    """One datasource's segment sink from the daemon config (both daemons)."""
    return SegmentSink(
        config.get("sink", {}).get("root", "/tmp/tranquility_spark_segments"),
        spec.datasource,
        segment_granularity=spec.granularity_spec.segment_granularity,
        partitions=int(tuning.get("partitions", 1)),
        replicants=int(tuning.get("replicants", 1)),
        ts_col=spec.timestamp_spec.output,
    )


def build_server(config: dict, spark: Optional[SparkSession] = None) -> IngestServer:
    """Construct the full daemon object graph from a config dict (testable)."""
    if spark is None:
        from tranquility_spark.session import get_spark

        spark = get_spark("tranquility-spark-server")

    tranquilizers = {}
    for ds_conf in config["dataSources"]:
        spec = parse_druid_spec(ds_conf["spec"])
        tuning = ds_conf.get("tuning", {})
        tranquilizers[spec.datasource] = Tranquilizer(
            spark,
            spec,
            build_sink(config, spec, tuning),
            max_batch_size=int(tuning.get("maxBatchSize", 2000)),
            window_period=tuning.get("windowPeriod", "PT10M"),
        )

    server_conf = config.get("server", {})
    return IngestServer(
        tranquilizers,
        host=server_conf.get("host", "127.0.0.1"),
        port=int(server_conf.get("port", 0)),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", required=True, help="JSON config file path")
    args = ap.parse_args()
    with open(args.config) as f:
        config = json.load(f)
    server = build_server(config).start()
    print(f"tranquility-spark server listening on port {server.port}")
    try:
        import signal

        signal.pause()
    except (KeyboardInterrupt, AttributeError):
        pass
    finally:
        server.stop()


if __name__ == "__main__":
    main()
