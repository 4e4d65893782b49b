"""Kafka daemon entrypoint: config → kafka stream → demux → per-datasource sinks.

Reference: ``bin/tranquility kafka -configFile <yaml>`` →
``kafka/.../KafkaMain.scala``: consume ``topicPattern``, route each message to
its dataSource's writer (``WriterController``), commit offsets after flush.

Spark restatement: ONE streaming query — `readStream.format("kafka")` with
``subscribePattern`` → JSON parse + first-match topic→dataSource routing
(`sources.kafka.parse_kafka_batch`) → ``MultiDatasourceSink`` foreachBatch.
Offset tracking lives in the checkpoint (exactly-once with the sink's batch
markers, strictly stronger than the reference's commit-after-flush
at-least-once).

Config (JSON):

    {
      "kafka": {"bootstrapServers": "host:9092", "topicPattern": "wiki-.*",
                "startingOffsets": "latest", "maxOffsetsPerTrigger": 100000},
      "schema": "timestamp string, page string, added double",
      "mappings": [["wiki-.*", "wiki"]],
      "useTopicAsDataSource": false,
      "wireFormat": "json",            // or "smile" / "avro" (+ "avroSchema")
      "dataSources": [ {"spec": {"dataSchema": {...}}, "tuning": {...}} ],
      "sink": {"root": "/data/segments"},
      "checkpoint": "/data/checkpoints/kafka-ingest"
    }

Run: ``python -m tranquility_spark.kafka_main --config kafka.json``
(requires a reachable Kafka broker and the spark-sql-kafka package; the
object-graph construction below is broker-independent and unit-tested).
"""

from __future__ import annotations

import argparse
import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from tranquility_spark.server_main import build_sink
from tranquility_spark.sources.kafka import kafka_stream, parse_kafka_batch
from tranquility_spark.specs import parse_druid_spec
from tranquility_spark.streaming.sink import MultiDatasourceSink


def build_sinks(config: dict) -> MultiDatasourceSink:
    """Per-datasource segment sinks keyed for the demux column (testable).

    Each datasource's spec rides along so its batch slice is ROLLED UP before
    the write — the full reference pipeline (Druid tasks aggregate at
    ingest), not just raw routing.
    """
    sinks, specs = {}, {}
    for ds_conf in config["dataSources"]:
        spec = parse_druid_spec(ds_conf["spec"])
        sinks[spec.datasource] = build_sink(config, spec, ds_conf.get("tuning", {}))
        specs[spec.datasource] = spec
    return MultiDatasourceSink(sinks, specs=specs)


def build_parsed_stream(config: dict, raw: DataFrame) -> DataFrame:
    """Wire the demux/parse half of the pipeline onto any kafka-shaped frame.

    ``raw`` needs (topic STRING, value BINARY|STRING) — the real Kafka source
    or a test fixture. Rollup is applied per-datasource at the sink (specs can
    differ per dataSource); the shared part here is parse + routing.

    ``wireFormat`` in the config selects the value-bytes decoder:
    ``"json"`` (default), ``"smile"`` (the reference's own Kafka wire
    format — SmileObjectWriter), or ``"avro"`` (requires ``avroSchema``,
    the writer's Avro record schema as a JSON object).
    """
    return parse_kafka_batch(
        raw,
        config["schema"],
        [tuple(m) for m in config.get("mappings", [])],
        use_topic_as_datasource=config.get("useTopicAsDataSource", False),
        wire_format=config.get("wireFormat", "json"),
        avro_schema=config.get("avroSchema"),
    )


def start(config: dict, spark: Optional[SparkSession] = None):
    """Build and start the streaming query (needs a reachable broker)."""
    if spark is None:
        from tranquility_spark.session import get_spark

        spark = get_spark("tranquility-spark-kafka")
    k = config["kafka"]
    raw = kafka_stream(
        spark,
        k["bootstrapServers"],
        k["topicPattern"],
        starting_offsets=k.get("startingOffsets", "latest"),
        max_offsets_per_trigger=k.get("maxOffsetsPerTrigger"),
    )
    parsed = build_parsed_stream(config, raw)
    multi = build_sinks(config)
    return (
        parsed.writeStream.foreachBatch(multi.foreach_batch())
        .option("checkpointLocation", config["checkpoint"])
        .start()
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", required=True, help="JSON config file path")
    args = ap.parse_args()
    with open(args.config) as f:
        config = json.load(f)
    query = start(config)
    print(f"tranquility-spark kafka ingest running (id={query.id})")
    query.awaitTermination()


if __name__ == "__main__":
    main()
