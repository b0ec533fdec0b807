"""LLM-data-pipeline operators: dedup, text stats, vector similarity search,
and the multimodal (documents x embeddings) join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graft.core import load


def doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: keep the lowest doc_id per content hash and
    report how many copies it had.

    One groupBy on the hash with min + count: one Exchange with a map-side
    partial aggregate, and only the hash, one struct of metadata and the
    count cross it, never the text.  The survivor is the min of the struct
    (doc_id IS NULL, doc_id, lang, source, n_chars); structs compare field
    by field, so the first two fields order the copies.  doc_id is unique,
    so that picks the row the oracle's row_number() = 1 picks, and a text
    whose only copy has a null doc_id keeps that copy's metadata, as the
    oracle's ORDER BY doc_id (NULLS LAST) does.  Where one text has several
    null-id copies, Spark keeps the least (lang, source, n_chars) and the
    oracle an arbitrary one; that case is outside parity.  The key is
    unhex(md5), 16 bytes of BINARY instead of 32 hex chars; unhex is
    injective on md5's hex output, so the groups (and any collision) are
    the oracle's.  The aggregate stays a SortAggregate: a struct buffer is
    not UnsafeRow-mutable, so Spark cannot hash-aggregate it, and a
    join-back that would allow it costs two more Exchanges of the full
    metadata.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.unhex(F.md5("text")).alias("h"), "doc_id", "lang", "source", "n_chars"
        )
        .groupBy("h")
        .agg(
            F.expr(
                "min(named_struct('null_id', doc_id IS NULL, 'doc_id', doc_id,"
                " 'lang', lang, 'source', source, 'n_chars', n_chars))"
            ).alias("keep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "keep.doc_id", "keep.lang", "keep.source", "keep.n_chars", "n_copies"
        )
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (docs, sources, chars, words, uniques).

    Words are counted as length(t) - length(replace(t, ' ')) + 1: two
    plain scans, no regex and no array per row.  That is the number of
    fields a split on ' ' gives, empty ones included, as in the oracle's
    len(string_split(text, ' ')): '' -> 1, 'a ' -> 2, 'a  b' -> 3.
    """
    docs = load(spark, sf_dir, "documents")
    n_words = F.length("text") - F.length(F.replace("text", F.lit(" "))) + F.lit(1)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(n_words).alias("total_words"),
    )


def vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: for every vector its nearest neighbour (cosine),
    ties broken toward the larger neighbour id, self excluded.

    One Python task (coalesce(1) + mapInArrow) reads the whole table and
    scores it against itself with blocked NumPy GEMMs, so building the query
    runs no Spark job.  sim = dot / (sqrt(sq_a) * sqrt(sq_b)), the oracle's
    order of operations; round(sim, 4) stays in Spark so rounding matches
    the oracle exactly.

    The domain is the oracle's: unique vec_ids and non-null, equal-length,
    nonzero embeddings.  Anything else raises ValueError in the task: DuckDB
    partitions by vec_id and scores a zero vector as -1.0, where this code
    would answer once per duplicate row or pick a NaN similarity.
    """

    def nearest(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        n = sum(b.num_rows for b in batches)
        if n < 2:
            # no pair (a, b), a != b exists: the oracle's self-excluding
            # join is empty
            return
        # vec_id DESC, so argmax's first-max rule picks the larger id on a tie
        t = pa.Table.from_batches(batches).sort_by([("vec_id", "descending")])
        ids = t.column("vec_id").to_numpy()
        labs = t.column("label").combine_chunks()
        col = t.column("embedding").combine_chunks()
        dups = ids[1:] == ids[:-1]
        if dups.any():
            raise ValueError(
                f"vector_knn needs unique vec_ids; got {int(dups.sum())}"
                " duplicate row(s)"
            )
        # reshape() over the flattened values would accept any lengths whose
        # total divides n and silently pair rows with the wrong values;
        # DuckDB's list_cosine_similarity raises on unequal lengths
        lens = pc.list_value_length(col)
        lo, hi = pc.min(lens).as_py(), pc.max(lens).as_py()
        if col.null_count or lo != hi:
            raise ValueError(
                "vector_knn needs every embedding to be a non-null list of one"
                f" common length; got lengths {lo}..{hi} and"
                f" {col.null_count} null embedding(s)"
            )
        # .flatten() (not .values) honours list-array offsets
        mat = col.flatten().to_numpy(zero_copy_only=False)
        mat = mat.astype(np.float64).reshape(n, -1)
        norms = np.sqrt((mat * mat).sum(axis=1))
        zeros = norms == 0
        if zeros.any():
            raise ValueError(
                "vector_knn needs every embedding to have a nonzero norm; got"
                f" {int(zeros.sum())} zero vector(s)"
            )

        # Row blocks with preallocated, reused buffers: a full n x n sims
        # matrix means ~100 MB of first-touch pages, and faulting fresh pages
        # stalls ~1-3 s (measured: fresh-alloc GEMM 1.7 s vs 0.07 s with
        # reused buffers).  Blocking keeps the working set a few MB.
        blk = int(max(16, min(1024, (4 << 20) // (8 * n))))
        sims = np.empty((blk, n))
        den = np.empty((blk, n))
        nn = np.empty(n, dtype=np.int64)
        best = np.empty(n)
        for s in range(0, n, blk):
            e = min(s + blk, n)
            b, r = e - s, np.arange(e - s)
            # dgemm takes the transposed view directly
            np.matmul(mat[s:e], mat.T, out=sims[:b])
            np.multiply(norms[s:e, None], norms[None, :], out=den[:b])
            np.divide(sims[:b], den[:b], out=sims[:b])
            sims[r, s + r] = -np.inf  # self
            nn[s:e] = np.argmax(sims[:b], axis=1)
            best[s:e] = sims[r, nn[s:e]]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                labs,
                pa.array(ids[nn], type=pa.int64()),
                labs.take(nn),
                pa.array(best, type=pa.float64()),
            ],
            names=["vec_id", "label", "nn_id", "nn_label", "sim"],
        )

    # the oracle's join on `a.vec_id <> b.vec_id` drops null ids
    emb = load(spark, sf_dir, "embeddings").where("vec_id IS NOT NULL")
    out = emb.select("vec_id", "label", "embedding").coalesce(1).mapInArrow(
        nearest, "vec_id bigint, label int, nn_id bigint, nn_label int, sim double"
    )
    return out.withColumn("sim", F.round("sim", 4))


def label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal join: embedding cluster label x document metadata."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = load(spark, sf_dir, "documents")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .withColumn("avg_chars", F.col("total_chars") / F.col("n_docs"))
    )
