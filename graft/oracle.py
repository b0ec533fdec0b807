"""DuckDB oracle SQL — the ground-truth twin for every declared query.

Each statement mirrors the Spark implementation operation-for-operation so
results are bit-identical (see graft/core.py).  DuckDB type quirks handled
here: SUM(BIGINT) returns HUGEINT (cast back to BIGINT), date_trunc('day')
returns DATE (we use CAST(ts AS DATE) where Spark uses to_date), and
row_number() returns BIGINT (Spark side casts its rank to BIGINT).
"""

from graft.core import DEC


def _ds(expr: str) -> str:
    """The oracle twin of :func:`graft.core.dec_sum`, on the same decimal."""
    return f"CAST(SUM(CAST(({expr}) AS {DEC})) AS DOUBLE)"


ORACLE_SQL = {
    "ticks_range": """
        SELECT event_id, ts, user_id, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
          AND ts < TIMESTAMP '2024-01-15 00:00:00'
          AND event_type = 'purchase'
    """,
    "candles_hourly": f"""
        SELECT event_type,
               date_trunc('hour', ts) AS bucket,
               arg_min(value, event_id) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, event_id) AS close,
               {_ds('value')} AS volume,
               count(*) AS n_ticks
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    "vwap_daily": f"""
        WITH sized AS (
            SELECT CAST(ts AS DATE) AS day, event_type, value,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT day, event_type,
               {_ds('value * k')} AS notional,
               CAST(SUM(k) AS BIGINT) AS total_size,
               {_ds('value * k')} / CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS vwap
        FROM sized
        GROUP BY day, event_type
    """,
    "type_stats": f"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               {_ds('value')} AS total_value,
               min(value) AS min_value,
               max(value) AS max_value,
               min(ts) AS first_ts,
               max(ts) AS last_ts
        FROM events
        GROUP BY event_type
    """,
    "user_sessions": f"""
        WITH g AS (
            SELECT user_id, value,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM events
        )
        SELECT user_id,
               count(*) AS n_events,
               CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               {_ds('value')} AS total_value
        FROM g
        GROUP BY user_id
    """,
    "top_users": f"""
        WITH spend AS (
            SELECT user_id,
                   count(*) AS n_purchases,
                   {_ds('value')} AS spend
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT user_id, n_purchases, spend,
               row_number() OVER (ORDER BY spend DESC, user_id) AS rank
        FROM spend
        QUALIFY rank <= 10
    """,
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {_ds('l_quantity')} AS sum_qty,
               {_ds('l_extendedprice')} AS sum_base_price,
               {_ds('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {_ds('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               count(*) AS count_order,
               {_ds('l_quantity')} / CAST(count(*) AS DOUBLE) AS avg_qty,
               {_ds('l_extendedprice')} / CAST(count(*) AS DOUBLE) AS avg_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": f"""
        SELECT n_name,
               {_ds('l_extendedprice * (1 - l_discount)')} AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    "brand_volume": f"""
        SELECT p_brand,
               count(*) AS n_items,
               {_ds('l_quantity')} AS total_qty,
               {_ds('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 25
        GROUP BY p_brand
    """,
    "priority_backlog": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "doc_dedup": """
        SELECT doc_id, lang, source, n_chars,
               count(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    "doc_stats": """
        SELECT lang,
               count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               count(DISTINCT md5(text)) AS n_unique,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
        FROM documents
        GROUP BY lang
    """,
    "vector_knn": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), p AS (
            SELECT a.vec_id, a.label,
                   b.vec_id AS b_vec_id, b.label AS b_label,
                   list_cosine_similarity(a.v, b.v) AS s
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        )
        SELECT vec_id, label, b_vec_id AS nn_id, b_label AS nn_label,
               round(s, 4) AS sim
        FROM p
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY s DESC, b_vec_id DESC) = 1
    """,
    "label_profile": f"""
        SELECT label,
               count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               {_ds('n_chars')} / CAST(count(*) AS DOUBLE) AS avg_chars
        FROM embeddings
        JOIN documents ON vec_id = doc_id
        GROUP BY label
    """,
}
