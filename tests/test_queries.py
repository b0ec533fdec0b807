import datetime as dt
import math
import os

import duckdb
import pytest

from graft import ORACLE_SQL, QUERIES
from graft.parity import check, duck_con
from tests.conftest import SF0001, SF001

import __spark_entry__ as entrymod


def test_contract_keys_match():
    assert set(entrymod.queries().keys()) == set(entrymod.oracle_sql().keys())
    assert set(QUERIES.keys()) == set(ORACLE_SQL.keys())
    assert len(QUERIES) >= 14


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_oracle_parity_sf0001(spark, name):
    con = duck_con(SF0001)
    problems = check(spark, con, QUERIES[name], SF0001, ORACLE_SQL[name])
    assert problems == [], problems


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_oracle_parity_sf001(spark, name):
    """Parity at sf0.01 — the scale factor the driver checks."""
    con = duck_con(SF001)
    problems = check(spark, con, QUERIES[name], SF001, ORACLE_SQL[name])
    assert problems == [], problems


def test_parity_mismatch_names_first_differing_row(spark):
    """A value one ulp off the oracle is a mismatch like any other: check()
    reports it with the first differing Spark/DuckDB row pair."""
    def stub(spark, sf_dir):
        return spark.createDataFrame([(1, math.nextafter(0.1, 1.0)), (2, 0.5)],
                                     "k int, v double")

    sql = "SELECT * FROM (VALUES (1, CAST(0.1 AS DOUBLE)), (2, 0.5)) t(k, v)"
    problems = check(spark, duckdb.connect(), stub, "", sql)
    assert problems == [
        "VALUES MISMATCH",
        "spark=('1', '0.10000000000000002')",
        "duck =('1', '0.1')",
    ]


def test_sessionization_gap_logic(spark, tmp_path):
    """Focused unit test: a >30min gap starts a new session, <=30min does not."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 29, 0), 7, "view", 1.0, "{}"),   # same session
        (3, dt.datetime(2024, 1, 1, 1, 0, 0), 7, "view", 1.0, "{}"),    # new (31m gap)
        (4, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # same (exactly 30m)
        (6, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # tied ts: same session
        (5, dt.datetime(2024, 1, 2, 0, 0, 0), 8, "view", 2.0, "{}"),    # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = str(tmp_path / "sess")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in QUERIES["user_sessions"](spark, d).collect()}
    assert out[7]["n_events"] == 5
    assert out[7]["n_sessions"] == 2
    assert out[8]["n_sessions"] == 1


def test_user_sessions_order_invariant(spark, tmp_path):
    """The r13 narrow-shuffle rewrite orders by unix_micros only (no event_id
    tie-break); per-user aggregates must be invariant to input row order,
    including duplicated timestamps around a gap boundary."""
    base = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),   # tie at start
        (3, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # new session
        (4, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # tie after gap
        (5, dt.datetime(2024, 1, 1, 2, 0, 0), 7, "view", 1.0, "{}"),   # new session
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    results = []
    for i, rows in enumerate([base, base[::-1], base[2:] + base[:2]]):
        d = str(tmp_path / f"perm{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        out = QUERIES["user_sessions"](spark, d).collect()[0]
        results.append((out["n_events"], out["n_sessions"], out["total_value"]))
    assert results[0] == (5, 3, 5.0)
    assert results[0] == results[1] == results[2]


def test_vector_knn_tiebreak_and_self_exclusion(spark, tmp_path):
    """Focused unit test for the r12 mapInArrow/GEMM rewrite: self is never
    its own neighbour, and exact similarity ties go to the LARGER id."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # identical to 1 and 3
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1),   # orthogonal to the others
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "knn")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["vec_id"]: r for r in QUERIES["vector_knn"](spark, d).collect()}
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
    """Focused unit test for the r13 word-count rewrite: the length-diff
    formula must equal size(split(text, ' ')) on empty strings, trailing
    spaces, and consecutive spaces (split keeps empty fields)."""
    rows = [
        (1, "", "en", "s1", 0),            # split('') -> [''] = 1
        (2, "a ", "en", "s1", 2),          # ['a',''] = 2
        (3, "a  b", "en", "s1", 4),        # ['a','','b'] = 3
        (4, " a", "en", "s1", 2),          # ['','a'] = 2
        (5, "one two three", "de", "s2", 13),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "wstats")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["lang"]: r for r in QUERIES["doc_stats"](spark, d).collect()}
    assert out["en"]["total_words"] == 1 + 2 + 3 + 2
    assert out["de"]["total_words"] == 3


def test_doc_dedup_keeps_min_id_and_counts(spark, tmp_path):
    """Focused unit test for the r12 groupBy(min_by) rewrite of doc_dedup."""
    rows = [
        (10, "hello world", "en", "s1", 11),
        (3, "hello world", "en", "s2", 11),   # dup -> survivor (min id)
        (7, "unique text", "de", "s1", 11),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "dedup")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in QUERIES["doc_dedup"](spark, d).collect()}
    assert set(out) == {3, 7}
    assert out[3]["n_copies"] == 2
    assert out[3]["source"] == "s2"      # metadata travels with the survivor row
    assert out[7]["n_copies"] == 1


def test_vector_knn_negative_ids_and_multifile_index(spark, tmp_path):
    """Focused unit test for the r13 broadcast-index rewrite: tie-break must
    hold for NEGATIVE vec_ids (the r12 `-1` sentinel would mis-pick), and the
    index side must load correctly from a Spark-written multi-file directory
    (the r12 version pq.read_table'd a driver-local path per task)."""
    rows = [
        (-3, [1.0, 0.0], 0),
        (-2, [1.0, 0.0], 0),  # identical to -3 and -1
        (-1, [1.0, 0.0], 1),
        (5, [0.0, 1.0], 1),   # orthogonal to the others
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "knn_neg")
    df.repartition(3).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["vec_id"]: r for r in QUERIES["vector_knn"](spark, d).collect()}
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
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "knn_one")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    assert QUERIES["vector_knn"](spark, d).count() == 0


@pytest.mark.parametrize("embeddings", [
    # lengths 2, 2, 1, 3: the total divides the row count
    [[1.0, 0.0], [0.0, 1.0], [1.0], [1.0, 0.0, 1.0]],
    # 6 values over 3 rows would reshape into three 2-vectors
    [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], None],
], ids=["ragged", "null"])
def test_vector_knn_rejects_ragged_or_null_embeddings(spark, tmp_path, embeddings):
    """Embeddings that do not form an n x d matrix fail loudly, as DuckDB's
    list_cosine_similarity does, instead of being regrouped into wrong vectors."""
    rows = [(i, e, 0) for i, e in enumerate(embeddings)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path / "knn_bad")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    with pytest.raises(ValueError, match="non-null list of one common length"):
        QUERIES["vector_knn"](spark, d).collect()


def test_load_catalog_reuses_handle_per_table(spark, tmp_path):
    """Focused unit test for the r13 session-scoped catalog: load() returns
    the SAME DataFrame handle for repeated (session, sf_dir, table) lookups
    (schema inference once) and distinct handles for distinct dirs."""
    from graft.core import load

    for sub in ("a", "b"):
        d = str(tmp_path / sub)
        spark.range(3).selectExpr("id AS x").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/t.parquet")
    da1 = load(spark, str(tmp_path / "a"), "t")
    da2 = load(spark, str(tmp_path / "a"), "t")
    db = load(spark, str(tmp_path / "b"), "t")
    assert da1 is da2
    assert da1 is not db
    assert da1.count() == 3
