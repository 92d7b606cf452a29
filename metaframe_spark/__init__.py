"""metaframe_spark — a PySpark-native, metadata-propagating analytics engine.

Capability-parity rebuild of ``invent-analytics/metaframe`` (SURVEY.md) plus
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.

Lazy exports (PEP 562), mirroring the reference's lazy module
``__getattr__`` (``/root/reference/metaframe/__init__.py:6-12``).
"""

from __future__ import annotations

from typing import Any

__version__ = "0.2.0"

_EXPORTS = {
    "MetaFrame": ("metaframe_spark.core", "MetaFrame"),
    "MetaWriter": ("metaframe_spark.core", "MetaWriter"),
    "MetaStreamWriter": ("metaframe_spark.core", "MetaStreamWriter"),
    "get_session": ("metaframe_spark.session", "get_session"),
    "persist_scope": ("metaframe_spark.session", "persist_scope"),
    "read_parquet": ("metaframe_spark.io", "read_parquet"),
    "read_csv": ("metaframe_spark.io", "read_csv"),
    "read_json": ("metaframe_spark.io", "read_json"),
    "read_orc": ("metaframe_spark.io", "read_orc"),
    "read_text": ("metaframe_spark.io", "read_text"),
    "read_xml": ("metaframe_spark.io", "read_xml"),
    "read_binary_files": ("metaframe_spark.io", "read_binary_files"),
    "load_table": ("metaframe_spark.io", "load_table"),
    "wrap": ("metaframe_spark.io", "wrap"),
    "read_file_stream": ("metaframe_spark.streaming", "read_file_stream"),
    "stream_exact_dedup": ("metaframe_spark.streaming", "stream_exact_dedup"),
    "apply_cdc_stream": ("metaframe_spark.streaming", "apply_cdc_stream"),
    "recover_cdc_swap": ("metaframe_spark.streaming", "recover_cdc_swap"),
    "stream_distinct_sketches": (
        "metaframe_spark.streaming",
        "stream_distinct_sketches",
    ),
    "stream_moment_sketches": (
        "metaframe_spark.streaming",
        "stream_moment_sketches",
    ),
    "stream_histogram_sketches": (
        "metaframe_spark.streaming",
        "stream_histogram_sketches",
    ),
    "stream_term_sketches": (
        "metaframe_spark.streaming",
        "stream_term_sketches",
    ),
    "stream_neardup_dedup": (
        "metaframe_spark.streaming",
        "stream_neardup_dedup",
    ),
    "stream_ivf_append": (
        "metaframe_spark.streaming",
        "stream_ivf_append",
    ),
    "stream_bottomk_samples": (
        "metaframe_spark.streaming",
        "stream_bottomk_samples",
    ),
    "stream_semantic_dedup": (
        "metaframe_spark.streaming",
        "stream_semantic_dedup",
    ),
    "lint_plan": ("metaframe_spark.scale", "lint_plan"),
    "curate_corpus": ("metaframe_spark.pipeline", "curate_corpus"),
    "MetaCatalog": ("metaframe_spark.catalog", "MetaCatalog"),
}


def __getattr__(name: str) -> Any:
    if name in _EXPORTS:
        import importlib

        module, attr = _EXPORTS[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module 'metaframe_spark' has no attribute '{name}'")
