"""The system under test: one fresh process that drives one workload
through the library's public API with its defaults, from ``get_spark`` to a
clean ``spark.stop()``.

It receives only files: an input directory (filled beforehand, or by the
harness's feeder while it runs) and an output directory. It prints one JSON
object of wall-clock stamps as the last line of its standard output. Only
deployment settings are chosen here: paths, ``local[N]``, the trigger and,
when tracing, the event-log location.

    python3 perfbench/sut.py --workload backfill_hotkey --input IN --output OUT
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_LAUNCH = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def run(args) -> dict[str, float]:
    """Drive the workload; return the wall-clock stamps of its phases."""
    from dataflow_ordered_processing_spark.operators import ordered_status_batch
    from dataflow_ordered_processing_spark.operators.skew import adaptive_ordered_emit_batch
    from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
    from dataflow_ordered_processing_spark.session import get_spark
    from dataflow_ordered_processing_spark.streaming import start_ordered_pipeline
    from dataflow_ordered_processing_spark.streaming.sinks import SinkConfig, read_sink

    extra = {}
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    stamps = {"launch": T_LAUNCH, "get_spark": time.time()}
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{args.cpus}]", extra_conf=extra)
    stamps["ready"] = time.time()
    if args.setup_only:
        pass
    elif args.workload == "live_staggered":
        sink = SinkConfig(
            data_path=os.path.join(args.output, "data"),
            checkpoint=os.path.join(args.output, "checkpoint"),
            trigger_seconds=args.trigger_seconds,
        )
        stamps["start"] = time.time()
        query = start_ordered_pipeline(spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(args.input), sink)
        stamps["started"] = time.time()
        # open loop: the harness feeds files and says when it has seen
        # every emittable turn (or gave up)
        while not os.path.exists(args.stop_file):
            if query.awaitTermination(0.05):
                break
        # let the batch that committed the last rows finish its trigger
        # (offset commit, progress event) before stopping
        while query.isActive and query.status["isTriggerActive"]:
            time.sleep(0.02)
        stamps["done"] = time.time()
        query.stop()
        stamps["query_stopped"] = time.time()
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if args.event_log:
            read_sink(spark, sink.data_path, table="unified").count()
            stamps["read_sink"] = time.time()
    else:
        stamps["start"] = time.time()
        turns = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        adaptive_ordered_emit_batch(turns).write.parquet(os.path.join(args.output, "emit"))
        stamps["emit_done"] = time.time()
        ordered_status_batch(turns).write.parquet(os.path.join(args.output, "status"))
        stamps["done"] = time.time()
    stamps["stop"] = time.time()
    spark.stop()
    stamps["stopped"] = time.time()
    return stamps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input")
    ap.add_argument("--output")
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--stop-file", help="live feed: stop the query once this file exists")
    ap.add_argument("--trigger-seconds", type=float, help="processing-time trigger interval")
    ap.add_argument("--event-log", help="enable the Spark event log in this directory")
    ap.add_argument("--setup-only", action="store_true", help="only get_spark and spark.stop")
    args = ap.parse_args()
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
