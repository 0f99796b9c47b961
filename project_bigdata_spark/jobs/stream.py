"""Streaming medallion job — the engine's ``stream_processor.py`` analog.

    python -m project_bigdata_spark.jobs.stream \
        --input /data/events_stream --output /tmp/medallion_stream \
        [--fanout foreach_batch|multi_sink] [--timeout 60]

Reads a file stream (schema-declared; swap in ``read_kafka_stream`` for a
broker deployment), runs the parse-once medallion fan-out, blocks until
termination or ``--timeout`` seconds.
"""

from __future__ import annotations

import argparse

from project_bigdata_spark.session import get_spark
from project_bigdata_spark.streaming import pipeline as SP


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="streaming medallion ETL")
    parser.add_argument("--input", required=True, help="stream source dir")
    parser.add_argument("--output", required=True, help="sink/checkpoint dir")
    parser.add_argument(
        "--fanout", choices=["foreach_batch", "multi_sink"],
        default="foreach_batch",
    )
    parser.add_argument("--timeout", type=int, default=None,
                        help="seconds to run (default: forever)")
    args = parser.parse_args(argv)

    spark = get_spark(app_name="medallion-stream")
    raw = spark.readStream.schema(SP.EVENT_SCHEMA).parquet(args.input)
    if args.fanout == "foreach_batch":
        queries = [SP.foreach_batch_fanout(raw, args.output)]
    else:
        queries = SP.start_multi_sink(raw, args.output)
    timeout_ms = args.timeout
    for q in queries:
        q.awaitTermination(timeout_ms)
    for q in queries:
        q.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
