"""spark-graft: a PySpark-native analytics engine with the query/data-processing
capabilities of tectonicdb (tick-store: time-range scans, candles, VWAP,
counts/INFO, sessionization) plus the OLAP star-schema and LLM-data-pipeline
operators (dedup, text stats, vector similarity search, multimodal join)
required by the driver contract.

Every declared query has a DuckDB oracle twin in :mod:`graft.oracle`; both
sides are written so the results are bit-identical (see graft/core.py notes
on exact sums of doubles as BIGINT micro-units).
"""

from graft import llm, olap, ticks
from graft.oracle import ORACLE_SQL

# name -> fn(spark, sf_dir) -> DataFrame. Insertion order == bench order.
QUERIES = {
    # tectonicdb-analog tick-store operators over `events`
    "ticks_range": ticks.ticks_range,
    "candles_hourly": ticks.candles_hourly,
    "vwap_daily": ticks.vwap_daily,
    "type_stats": ticks.type_stats,
    "user_sessions": ticks.user_sessions,
    "top_users": ticks.top_users,
    # OLAP star-schema operators
    "pricing_summary": olap.pricing_summary,
    "revenue_by_nation": olap.revenue_by_nation,
    "brand_volume": olap.brand_volume,
    "priority_backlog": olap.priority_backlog,
    # LLM-data-pipeline operators
    "doc_dedup": llm.doc_dedup,
    "doc_stats": llm.doc_stats,
    "vector_knn": llm.vector_knn,
    "label_profile": llm.label_profile,
}

__all__ = ["QUERIES", "ORACLE_SQL"]
