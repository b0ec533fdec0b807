import datetime as dt
import json
import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import ArithmeticException, PythonException, SparkRuntimeException

from graft import ORACLE_SQL, QUERIES
from graft.parity import duck_con
from perfbench import gen
from perfbench.check import Oracle
from tests.conftest import SF0001, SF001, SF01

import __spark_entry__ as entrymod
import bench


def test_contract_keys_match():
    assert set(entrymod.queries().keys()) == set(entrymod.oracle_sql().keys())
    assert set(QUERIES.keys()) == set(ORACLE_SQL.keys())
    assert len(QUERIES) >= 14


def test_bench_prints_one_json_line(spark, monkeypatch, capsys):
    """bench.py's stdout is exactly one JSON line: every query's time in
    QUERIES order, their rounded sum as the value, and the scale factor."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF0001)
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    assert set(out) == {"metric", "value", "unit", "queries", "sf"}
    assert list(out["queries"]) == list(QUERIES)
    assert out["sf"] == 0.001
    assert out["value"] == round(sum(out["queries"].values()), 4)


def test_entry_smoke(spark):
    assert entrymod.entry(spark).toArrow().num_rows > 0


def _write(d, table, rows, files=1):
    """Write rows as `<d>/<table>.parquet` in `files` part files, with the
    seed table's column types and perfbench's part-file writer: the types
    and layout of every real data set, which load() and duck_con() open."""
    schema = pq.read_schema(f"{SF0001}/{table}.parquet")
    data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    gen._write(data, f"{d}/{table}.parquet", files, max(len(rows), 1))


def _assert_matches_oracle(name, sf_dir, got):
    """Bit-exact parity with the DuckDB oracle: column names, row count and
    the order-insensitive multiset of values, checked on got, a toArrow()
    result as the benchmark fetches it.  Returns its rows, so a test's
    hand-computed values are asserted on the run the oracle passed."""
    problem = Oracle(duck_con(sf_dir), [name]).check(name, got)
    assert problem is None, problem
    return got.to_pylist()


def _assert_oracle_parity(spark, name, sf_dir):
    return _assert_matches_oracle(name, sf_dir, QUERIES[name](spark, sf_dir).toArrow())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity_sf0001(seed_run, name):
    _assert_matches_oracle(name, SF0001, seed_run(name, SF0001)[1])


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity_sf001(seed_run, name):
    """Parity at sf0.01, the scale of the tier-2 correctness check."""
    _assert_matches_oracle(name, SF001, seed_run(name, SF001)[1])


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity_sf01(seed_run, name):
    _assert_matches_oracle(name, SF01, seed_run(name, SF01)[1])


def test_second_run_of_each_query_compiles_nothing(spark, seed_run):
    """A warm request finds its generated code already compiled: after each
    query's sf0.001 run, building and running all 14 again makes no Janino
    compile.  With Spark's default cache of 100 classes the 144 that the
    queries make at sf0.001 evict each other, and every pass recompiles
    most of them."""
    for name in QUERIES:
        seed_run(name, SF0001)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    for name in QUERIES:
        _assert_oracle_parity(spark, name, SF0001)
    assert compiles.getCount() == before


def test_hand_made_tables_read_like_the_seed_data(spark, tmp_path):
    """A hand-made table reads back with the seed table's Spark types, so a
    hand-made test runs the engine on the types real input has: `ts` is
    TIMESTAMP_NTZ, not the TIMESTAMP of Spark's own INT96 writer."""
    d = str(tmp_path)
    _write(d, "events", [(1, dt.datetime(2024, 1, 1), 7, "view", 1.0, "{}")])
    _write(d, "documents", [(1, "a b", "en", "s1", 3)])
    _write(d, "embeddings", [(1, [1.0, 0.0], 0)])
    for table in ("events", "documents", "embeddings"):
        got = spark.read.parquet(f"{d}/{table}.parquet").schema.simpleString()
        assert got == spark.read.parquet(f"{SF0001}/{table}.parquet").schema.simpleString()
    assert ",ts:timestamp_ntz," in spark.read.parquet(f"{d}/events.parquet").schema.simpleString()


def test_parity_mismatch_names_first_differing_row(spark, tmp_path):
    """A value one ulp off the oracle is a mismatch like any other: the
    check names the query, the first differing row, the column and both
    values."""
    d = str(tmp_path)
    _write(d, "events", [(i, dt.datetime(2024, 1, 9), i, "purchase", v, "{}")
                         for i, v in ((1, 0.1), (2, 0.5))])
    got = QUERIES["ticks_range"](spark, d).toArrow()
    off = [math.nextafter(v, 1.0) if v == 0.1 else v for v in got["value"].to_pylist()]
    got = got.set_column(got.column_names.index("value"), "value", pa.array(off))
    assert Oracle(duck_con(d), ["ticks_range"]).check("ticks_range", got) == (
        "ticks_range: row {'event_id': '1', 'ts': '2024-01-09 00:00:00', 'user_id': '1', "
        "'value': '0.1'} column value: spark=0.10000000000000002 oracle=0.1")


def test_sessionization_gap_logic(spark, tmp_path):
    """Focused unit test: a >30min gap starts a new session, <=30min does not,
    and every null-ts row is a session of its own."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 29, 0), 7, "view", 1.0, "{}"),   # same session
        (3, dt.datetime(2024, 1, 1, 1, 0, 0), 7, "view", 1.0, "{}"),    # new (31m gap)
        (4, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # same (exactly 30m)
        (6, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # tied ts: same session
        (5, dt.datetime(2024, 1, 2, 0, 0, 0), 8, "view", 2.0, "{}"),    # other user
        (7, None, 9, "view", 1.0, "{}"),                                  # only null ts
        (8, None, 9, "view", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 0, 0, 0), 10, "view", 1.0, "{}"),   # null and timed
        (10, None, 10, "view", 1.0, "{}"),
        (11, dt.datetime(2024, 1, 1, 0, 10, 0), 10, "view", 1.0, "{}"),
        (12, dt.datetime(2024, 1, 1, 2, 0, 0), 10, "view", 1.0, "{}"),  # new (110m gap)
    ]
    d = str(tmp_path)
    _write(d, "events", rows)
    out = {r["user_id"]: r for r in _assert_oracle_parity(spark, "user_sessions", d)}
    assert out[7]["n_events"] == 5
    assert out[7]["n_sessions"] == 2
    assert out[8]["n_sessions"] == 1
    assert out[9]["n_sessions"] == 2
    assert out[10]["n_sessions"] == 1 + 2


def test_user_sessions_order_invariant(spark, tmp_path):
    """user_sessions orders by ts only (no event_id tie-break);
    per-user aggregates must be invariant to input row order, including
    duplicated timestamps around a gap boundary."""
    base = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),   # tie at start
        (3, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # new session
        (4, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # tie after gap
        (5, dt.datetime(2024, 1, 1, 2, 0, 0), 7, "view", 1.0, "{}"),   # new session
    ]
    results = []
    for i, rows in enumerate([base, base[::-1], base[2:] + base[:2]]):
        d = str(tmp_path / f"perm{i}")
        _write(d, "events", rows)
        (out,) = _assert_oracle_parity(spark, "user_sessions", d)
        results.append((out["n_events"], out["n_sessions"], out["total_value"]))
    assert results[0] == (5, 3, 5.0)
    assert results[0] == results[1] == results[2]


@pytest.mark.parametrize("zone", ["America/New_York", "Asia/Kolkata"])
def test_tick_queries_ignore_the_session_time_zone(spark, tmp_path, zone):
    """The six events queries compute on the stored TIMESTAMP_NTZ, so they
    match the oracle under any session time zone: one whose clock skips
    2024-03-10 02:00-03:00 (02:30 does not exist there) and one with a
    half-hour offset.  A query that sent ts through the zone would move
    candles across hour buckets and reorder or regap a user's ticks."""
    day = dt.datetime(2024, 3, 10)
    at = [day + dt.timedelta(minutes=m) for m in (60, 100, 140, 150, 180)]
    d = str(tmp_path)
    _write(d, "events", [
        (1, at[0], 7, "view", 1.0, '{"k": 1}'),
        (2, at[1], 7, "view", 2.0, '{"k": 2}'),       # 40 min apart across 02:00
        (3, at[2], 7, "purchase", 3.0, '{"k": 1}'),
        (4, at[3], 7, "purchase", 4.0, '{"k": 3}'),   # 02:30, skipped in New York
        (5, at[4], 7, "view", 5.0, '{"k": 1}'),       # exactly 30 min later
        (6, None, 7, "view", 6.0, '{"k": 1}'),
        (7, dt.datetime(2024, 1, 8), 8, "purchase", 7.0, '{"k": 2}'),  # ticks_range's RANGE_LO
    ])
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        out = {name: _assert_oracle_parity(spark, name, d)
               for name, fn in QUERIES.items() if fn.__module__ == "graft.ticks"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert len(out) == 6
    assert {(r["event_type"], r["bucket"]) for r in out["candles_hourly"]} == {
        ("view", day.replace(hour=1)), ("view", day.replace(hour=3)), ("view", None),
        ("purchase", day.replace(hour=2)), ("purchase", dt.datetime(2024, 1, 8))}
    sessions = {r["user_id"]: r["n_sessions"] for r in out["user_sessions"]}
    assert sessions == {7: 3 + 1, 8: 1}


def test_vector_knn_tiebreak_and_self_exclusion(spark, tmp_path):
    """vector_knn: self is never its own neighbour, and exact similarity
    ties go to the LARGER id."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # identical to 1 and 3
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1),   # orthogonal to the others
    ]
    d = str(tmp_path)
    _write(d, "embeddings", rows)
    out = {r["vec_id"]: r for r in _assert_oracle_parity(spark, "vector_knn", d)}
    assert len(out) == 4
    assert out[1]["nn_id"] == 3          # tie between 2 and 3 -> larger id
    assert out[2]["nn_id"] == 3          # tie between 1 and 3 -> larger id
    assert out[3]["nn_id"] == 2          # tie between 1 and 2 -> larger id
    assert out[1]["sim"] == 1.0
    assert out[4]["nn_id"] == 3          # orthogonal: sim 0 ties -> largest id
    assert out[4]["sim"] == 0.0
    for vid, r in out.items():
        assert r["nn_id"] != vid         # self excluded


def test_doc_stats_word_count_edge_cases(spark, tmp_path):
    """doc_stats' length-diff word count must equal size(split(text, ' '))
    on empty strings, trailing spaces, and consecutive spaces (split keeps
    empty fields)."""
    rows = [
        (1, "", "en", "s1", 0),            # split('') -> [''] = 1
        (2, "a ", "en", "s1", 2),          # ['a',''] = 2
        (3, "a  b", "en", "s1", 4),        # ['a','','b'] = 3
        (4, " a", "en", "s1", 2),          # ['','a'] = 2
        (5, "one two three", "de", "s2", 13),
    ]
    d = str(tmp_path)
    _write(d, "documents", rows)
    out = {r["lang"]: r for r in _assert_oracle_parity(spark, "doc_stats", d)}
    assert out["en"]["total_words"] == 1 + 2 + 3 + 2
    assert out["de"]["total_words"] == 3


def test_doc_dedup_keeps_min_id_and_counts(spark, tmp_path):
    """doc_dedup's groupBy(min) keeps the lowest doc_id per text, with
    that row's metadata, and counts the copies; a null doc_id sorts last, so
    it survives only as a text's one copy, with its metadata."""
    rows = [
        (10, "hello world", "en", "s1", 11),
        (3, "hello world", "en", "s2", 11),   # dup -> survivor (min id)
        (None, "hello world", "de", "s3", 11),  # null id loses to any id
        (7, "unique text", "de", "s1", 11),
        (None, "orphan text", "fr", "s4", 11),  # only copy -> survivor
    ]
    d = str(tmp_path)
    _write(d, "documents", rows)
    out = {r["doc_id"]: r for r in _assert_oracle_parity(spark, "doc_dedup", d)}
    assert set(out) == {3, 7, None}
    assert out[3]["n_copies"] == 3
    assert out[3]["source"] == "s2"      # metadata travels with the survivor row
    assert out[7]["n_copies"] == 1
    assert (out[None]["lang"], out[None]["source"], out[None]["n_chars"]) == ("fr", "s4", 11)


def test_top_users_ranks_a_null_user_id_last(spark, tmp_path):
    """A spend tie between a null and a non-null user_id ranks the null one
    last, as the oracle's ORDER BY user_id does (NULLS LAST)."""
    d = str(tmp_path)
    _write(d, "events", [(i, dt.datetime(2024, 1, 1), u, "purchase", v, "{}")
                         for i, (u, v) in enumerate([(None, 5.0), (1, 5.0), (2, 1.0)], 1)])
    out = {r["user_id"]: r["rank"] for r in _assert_oracle_parity(spark, "top_users", d)}
    assert out == {1: 1, None: 2, 2: 3}


def test_vector_knn_negative_ids_and_multifile_index(spark, tmp_path):
    """The tie-break must hold for NEGATIVE vec_ids (a `-1` sentinel would
    mis-pick), and the index must be whole when it is read from a
    multi-file directory (4 rows in files of 2, 2 and 0 rows), several
    batches into one task."""
    rows = [
        (-3, [1.0, 0.0], 0),
        (-2, [1.0, 0.0], 0),  # identical to -3 and -1
        (-1, [1.0, 0.0], 1),
        (5, [0.0, 1.0], 1),   # orthogonal to the others
    ]
    d = str(tmp_path)
    _write(d, "embeddings", rows, files=3)
    out = {r["vec_id"]: r for r in _assert_oracle_parity(spark, "vector_knn", d)}
    assert len(out) == 4
    assert out[-3]["nn_id"] == -1        # tie between -2 and -1 -> larger id
    assert out[-2]["nn_id"] == -1        # tie between -3 and -1 -> larger id
    assert out[-1]["nn_id"] == -2        # tie between -3 and -2 -> larger id
    assert out[5]["nn_id"] == -1         # sim 0 everywhere -> largest id
    for vid, r in out.items():
        assert r["nn_id"] != vid         # self excluded


def test_vector_knn_degenerate_index_empty(spark, tmp_path):
    """A single-vector index has no (a, b), a != b pair: the result is empty,
    matching the oracle's self-excluding join semantics."""
    d = str(tmp_path)
    _write(d, "embeddings", [(1, [1.0, 0.0], 0)])
    assert _assert_oracle_parity(spark, "vector_knn", d) == []


def test_vector_knn_null_id_and_label_match_oracle(spark, tmp_path):
    """A null label comes back as a null label or nn_label, and a row with a
    null vec_id is neither answered nor anyone's neighbour, as in the
    oracle, where `a.vec_id <> b.vec_id` is NULL for it."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], None),   # row 1's neighbour: nn_label is null
        (None, [1.0, 0.0], 1),   # identical to row 1, but must not match it
        (3, [0.0, 1.0], 1),
        (4, [0.1, 1.0], 0),
    ]
    d = str(tmp_path)
    _write(d, "embeddings", rows)
    _assert_oracle_parity(spark, "vector_knn", d)


def test_vwap_daily_zero_total_size_matches_oracle(spark, tmp_path):
    """A (day, event_type) group whose sizes sum to 0 has a null vwap, as in
    the oracle, not a division-by-zero error."""
    d = str(tmp_path)
    _write(d, "events", [                     # (day, type): (notional, size)
        (1, dt.datetime(2024, 1, 1), 7, "purchase", 2.0, '{"k": 3}'),   # (-6.0, 0)
        (2, dt.datetime(2024, 1, 1), 8, "purchase", 4.0, '{"k": -3}'),
        (3, dt.datetime(2024, 1, 1), 7, "view", 1.5, '{"k": 2}'),       # (3.0, 2)
        (4, dt.datetime(2024, 1, 2), 9, "purchase", 3.0, '{"k": 0}'),   # (0.0, 0)
    ])
    _assert_oracle_parity(spark, "vwap_daily", d)


def test_candles_hourly_open_close_skip_null_values(spark, tmp_path):
    """A candle opens and closes on its first and last non-null value, as
    the oracle's arg_min/arg_max do; an hour of only null values has null
    open, close and volume."""
    d = str(tmp_path)
    _write(d, "events", [(i, dt.datetime(2024, 1, 1, h), 7, "view", v, "{}")
                         for i, h, v in ((1, 0, None), (2, 0, 2.0), (3, 0, 3.0),
                                         (4, 0, None), (5, 1, None))])
    out = {r["bucket"].hour: r for r in _assert_oracle_parity(spark, "candles_hourly", d)}
    assert (out[0]["open"], out[0]["close"], out[0]["volume"]) == (2.0, 3.0, 5.0)
    assert (out[1]["open"], out[1]["close"], out[1]["volume"]) == (None, None, None)


def test_label_profile_large_char_counts_match_oracle(spark, tmp_path):
    """avg_chars is the exact long total over the count on both engines,
    also once the total passes 2^53."""
    d = str(tmp_path)
    _write(d, "documents", [(1, "a", "en", "s1", 830993926105),
                            (2, "b", "en", "s1", 998272762405)])
    _write(d, "embeddings", [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)])
    _assert_oracle_parity(spark, "label_profile", d)


@pytest.mark.parametrize("terms, total", [
    ([1727646460.319405, 1919143922.475758, 1971395866.458861, 1736575070.372403,
      1831411950.531862], 9186173270.158289),
    ([5e-07, -5e-07, 1.5e-06, -2.5e-06, 1.0000005, -2.4999995, 0.1, 0.2], -1.2),
    ([-1.25, -3.000001, 2.5, None], -1.750001),
    ([1999999999.999999] * 4611, 9221999999999.996),
], ids=["past_2_53", "half_units", "negative_and_null", "near_sum_limit"])
def test_dec_sum_matches_oracle(spark, tmp_path, terms, total):
    """dec_sum rounds each term half away from zero to six decimals and sums
    exactly, independently of both engines: the total is that of Python's
    Decimal.  Covered: terms below 2e9 whose sum passes ~9.0e9, so its
    µ-units pass 2^53 (DuckDB's binary DECIMAL->DOUBLE cast misrounds it),
    terms at half units of either sign, a null term, and a sum just below
    2^63 µ-units."""
    d = str(tmp_path)
    _write(d, "events", [(i, dt.datetime(2024, 1, 1), 7, "view", v, "{}")
                         for i, v in enumerate(terms, 1)])
    exact = sum(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                for v in terms if v is not None)
    assert float(exact) == total
    (out,) = _assert_oracle_parity(spark, "type_stats", d)
    assert out["total_value"] == total
    _assert_oracle_parity(spark, "candles_hourly", d)


_TERM_LIMIT = (SparkRuntimeException, r"dec_sum: \|term\| >= 2e9",
               duckdb.InvalidInputException, r"dec_sum: \|term\| >= 2e9")


@pytest.mark.parametrize("terms, spark_error, spark_match, duck_error, duck_match", [
    *[([v, v], *_TERM_LIMIT)
      for v in (1e12, -1e12, 2e9, -2e9, 5000000000.000001, math.nan, math.inf, -math.inf)],
    ([1999999999.999999] * 4612, ArithmeticException, "ARITHMETIC_OVERFLOW",
     duckdb.ConversionException, "out of range for the destination type INT64"),
], ids=["1e12", "-1e12", "2e9", "-2e9", "5e9_and_1u", "nan", "inf", "-inf", "sum_past_2_63"])
def test_dec_sum_fails_loudly_past_its_domain(spark, tmp_path, terms, spark_error,
                                             spark_match, duck_error, duck_match):
    """dec_sum's domain: every term has |x| < 2e9, where its rounding is
    exact, and a group's sum stays below 2^63 µ-units (~9.22e12).  A term at
    the limit, NaN or ±inf, or a sum past it, fails on both engines, never
    giving a silently wrong sum (5000000000.000001 would sum to ...002)."""
    d = str(tmp_path)
    _write(d, "events", [(i, dt.datetime(2024, 1, 1), i, "view", v, "{}")
                         for i, v in enumerate(terms, 1)])
    with pytest.raises(spark_error, match=spark_match):
        QUERIES["type_stats"](spark, d).toArrow()
    with pytest.raises(duck_error, match=duck_match):
        duck_con(d).execute(ORACLE_SQL["type_stats"])


@pytest.mark.parametrize("rows, message", [
    # lengths 2, 2, 1, 3: the total divides the row count
    (list(enumerate([[1.0, 0.0], [0.0, 1.0], [1.0], [1.0, 0.0, 1.0]])),
     "every embedding to be a non-null list of one common length"),
    # 6 values over 3 rows would reshape into three 2-vectors
    (list(enumerate([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], None])),
     "every embedding to be a non-null list of one common length"),
    # the oracle partitions by vec_id and returns 3 rows, not one per input row
    ([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0, 2.0])],
     "unique vec_ids"),
    # DuckDB scores a zero vector as -1.0, where the division gives NaN
    ([(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 0.0]), (4, [0.0, 1.0])],
     "every embedding to have a nonzero norm"),
], ids=["ragged", "null", "duplicate_id", "zero_norm"])
def test_vector_knn_rejects_ragged_or_null_embeddings(spark, tmp_path, rows, message):
    """Input outside the oracle's domain fails loudly, as DuckDB's
    list_cosine_similarity does on unequal lengths, instead of being
    regrouped into wrong vectors or answered with wrong neighbours.  The
    check runs in the Python task, so it surfaces when the query runs."""
    d = str(tmp_path)
    _write(d, "embeddings", [(i, e, 0) for i, e in rows])
    with pytest.raises(PythonException, match=f"ValueError: vector_knn needs {message}"):
        QUERIES["vector_knn"](spark, d).toArrow()


def test_python_worker_runs_one_blas_thread(spark):
    """vector_knn's worker runs numpy's OpenBLAS on one thread, whatever
    thread counts the driver inherited: build_session pins
    OPENBLAS_NUM_THREADS, which OpenBLAS reads first, and Spark sets
    OMP_NUM_THREADS to spark.task.cpus."""

    def blas_env(batches):
        import ctypes
        import glob
        import os

        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        (lib,) = glob.glob(os.path.join(
            os.path.dirname(os.path.dirname(np.__file__)), "numpy.libs", "libopenblas*"))
        threads = ctypes.CDLL(lib).openblas_get_num_threads64_
        threads.argtypes, threads.restype = [], ctypes.c_int
        yield pa.RecordBatch.from_pylist([{
            "openblas": os.environ.get("OPENBLAS_NUM_THREADS"),
            "omp": os.environ.get("OMP_NUM_THREADS"),
            "threads": threads(),
        }])

    got = spark.range(1).coalesce(1).mapInArrow(
        blas_env, "openblas string, omp string, threads bigint").toArrow()
    assert got.to_pylist() == [{"openblas": "1", "omp": "1", "threads": 1}]


def test_building_a_query_runs_no_spark_job(spark):
    """Constructing a query only plans it: no scan, collect or broadcast runs
    before the caller's action.  The first pass opens every table, since a
    cold load() infers each schema with one job; the second builds each
    query under its own job group, which must stay empty."""
    for fn in QUERIES.values():
        fn(spark, SF0001)
    sc = spark.sparkContext
    try:
        for name, fn in QUERIES.items():
            sc.setJobGroup(f"construct:{name}", name)
            fn(spark, SF0001)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker fills from events
    jobs = {name: list(sc.statusTracker().getJobIdsForGroup(f"construct:{name}"))
            for name in QUERIES}
    assert jobs == {name: [] for name in QUERIES}


def test_load_catalog_reuses_handle_per_table(spark, tmp_path):
    """The session-scoped catalog: load() returns the SAME DataFrame handle
    for repeated (session, sf_dir, table) lookups (schema inference once)
    and distinct handles for distinct dirs."""
    from graft.core import load

    for sub in ("a", "b"):
        gen._write(pa.table({"x": [0, 1, 2]}), str(tmp_path / sub / "t.parquet"), 1, 3)
    da1 = load(spark, str(tmp_path / "a"), "t")
    da2 = load(spark, str(tmp_path / "a"), "t")
    db = load(spark, str(tmp_path / "b"), "t")
    assert da1 is da2
    assert da1 is not db
    assert da1.toArrow().num_rows == 3
