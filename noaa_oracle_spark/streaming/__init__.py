from noaa_oracle_spark.streaming.corpus import (
    band_verdicts,
    bm25_index_sink,
    current_bm25_index_path,
    current_pq_index_path,
    init_versioned_pq_index,
    pq_index_sink,
    read_current_bm25_version,
    stream_documents,
    streaming_bm25_index,
    streaming_exact_dedup,
    streaming_minhash_dedup,
    streaming_pq_index,
)
from noaa_oracle_spark.streaming.sessions import value_capped_sessions
from noaa_oracle_spark.streaming.sketches import streaming_kmv_distinct

__all__ = [
    "band_verdicts",
    "bm25_index_sink",
    "current_bm25_index_path",
    "current_pq_index_path",
    "init_versioned_pq_index",
    "pq_index_sink",
    "read_current_bm25_version",
    "streaming_pq_index",
    "stream_documents",
    "streaming_bm25_index",
    "streaming_minhash_dedup",
    "streaming_exact_dedup",
    "streaming_kmv_distinct",
    "value_capped_sessions",
]
