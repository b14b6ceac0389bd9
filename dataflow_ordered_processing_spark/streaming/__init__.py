from .ordered_stream import OrderedStreamConfig, ordered_stream, resolve_n_shards
from .sinks import split_sink, start_ordered_pipeline
from .hotkey import order_hot_channel, read_pipeline_output
from .metrics import BufferMetricsListener


__all__ = [
    "OrderedStreamConfig",
    "resolve_n_shards",
    "ordered_stream",
    "split_sink",
    "start_ordered_pipeline",
    "order_hot_channel",
    "read_pipeline_output",
    "BufferMetricsListener",
]
