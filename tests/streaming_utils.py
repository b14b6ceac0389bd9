"""Staged-arrival streaming harness — our TestStream equivalent
(reference: OrderBookProcessingPipelineTest.java:201-217): append one
micro-batch parquet file, processAllAvailable(), repeat. Watermarks and
timers advance between calls exactly as advanceWatermarkTo /
advanceProcessingTime script them in Beam."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


class StagedStream:
    def __init__(self, spark, tmpdir: str):
        self.spark = spark
        self.src = os.path.join(tmpdir, f"src-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.src)
        self._i = 0

    def source(self):
        return (
            self.spark.readStream.format("parquet")
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(self.src)
        )

    def push(self, batch: pd.DataFrame):
        p = os.path.join(self.src, f"batch-{self._i:04d}.parquet")
        # Explicit Arrow schema: an all-null `tool` column must still be
        # written as string, not pandas' inferred null/int32 type.
        table = pa.Table.from_pandas(
            batch[ARROW_SCHEMA.names], schema=ARROW_SCHEMA, preserve_index=False
        )
        pq.write_table(table, p + ".tmp")
        os.rename(p + ".tmp", p)
        self._i += 1


def run_to_memory(spark, tmpdir, batches, cfg=None, name=None, n_shards=8):
    """Feed arrival batches one micro-batch at a time through the ordered
    stream into a memory sink; returns (query, table_name, per-step row
    counts)."""
    from dataflow_ordered_processing_spark.streaming import ordered_stream

    name = name or f"out_{uuid.uuid4().hex[:8]}"
    st = StagedStream(spark, tmpdir)
    unified = ordered_stream(st.source(), cfg, n_shards=n_shards)
    q = (
        unified.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        for b in batches:
            st.push(b)
            q.processAllAvailable()
    except Exception:
        q.stop()
        raise
    return q, name, st
