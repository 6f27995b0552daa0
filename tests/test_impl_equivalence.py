"""Kernel-vs-oracle equivalence: every Arrow-batched kernel must equal its
DuckDB oracle text on adversarial inputs (seeded random documents with
repeated tokens, punctuation and odd whitespace) and on the embeddings
fixture. The oracle is the reference, never a second Spark form."""

from __future__ import annotations

import random
import string

import duckdb
from pyspark.sql import functions as F

from espkinesis_spark import oracles
from espkinesis_spark.functions import dedup, similarity, text
from espkinesis_spark.tables import load_table
from tests.oracle_util import compare, duck_connection

random.seed(42)


def _random_docs(spark, n=60):
    def doc(i):
        words = [
            "".join(random.choices(string.ascii_lowercase + string.digits, k=random.randint(1, 8)))
            for _ in range(random.randint(1, 40))
        ]
        # inject repeated tokens, punctuation, and odd whitespace
        if i % 3 == 0:
            words += words[:3]
        txt = (" " * (i % 3 + 1)).join(words)
        if i % 4 == 0:
            txt = "  " + txt + " !?. "
        return (i, txt)

    return spark.createDataFrame([doc(i) for i in range(n)], "doc_id long, text string")


def _oracle_over(docs, name):
    """Run ORACLES[name] over ``docs`` registered as DuckDB's documents."""
    con = duckdb.connect()
    try:
        con.register("documents", docs.toPandas())
        return con.execute(oracles.ORACLES[name]).df()
    finally:
        con.close()


def _duck(sf_dir, sql):
    con = duck_connection(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


_VECS = "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"


def test_simhash_kernel_equals_sql(spark):
    docs = _random_docs(spark)
    compare(dedup.simhash(docs), _oracle_over(docs, "ex_simhash"))


def test_fingerprints_kernel_equals_sql(spark):
    docs = _random_docs(spark)
    compare(text.fingerprints(docs), _oracle_over(docs, "ex_fingerprint"))


def test_lang_id_kernel_equals_sql(spark):
    docs = _random_docs(spark)
    # mix in real stopwords so every language branch fires
    extra = spark.createDataFrame(
        [
            (1000, "the cat of the house and a dog"),
            (1001, "el que la casa y un perro en"),
            (1002, "der hund und die katze ist ein"),
            (1003, "le chat est une maison du les"),
            (1004, "zzz qqq www"),
            (1005, "the el der le"),  # cross-language tie -> en priority
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    compare(
        text.lang_id(docs).select("doc_id", "lang_pred"), _oracle_over(docs, "ex_lang_id")
    )


def test_neardup_cosine_kernel_equals_sql(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    want = _duck(sf_dir, oracles.ORACLES["ex_neardup_cosine"])
    assert len(want) > 0
    compare(similarity.neardup_cosine(vecs), want)


def test_topk_kernel_equals_sql(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    q = vecs.filter(F.col("vec_id") < 10)
    want = _duck(
        sf_dir,
        f"""WITH {_VECS},
        p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, {oracles._cos('a.e', 'b.e')} AS cos
              FROM v a JOIN v b ON b.vec_id <> a.vec_id WHERE a.vec_id < 10)
        SELECT vec_id, rnk, neighbor_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM p) WHERE rnk <= 4""",
    )
    assert len(want) > 0
    compare(similarity.topk_bruteforce(q, vecs, k=4), want)


def test_ivf_assign_kernel_equals_sql(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    cents = vecs.filter(F.col("vec_id") % 25 == 0)
    want = _duck(
        sf_dir,
        f"""WITH {_VECS},
        c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id % 25 = 0)
        SELECT vec_id, centroid_id FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY {oracles._cos('e', 'ce')} DESC,
                                             centroid_id) AS rn
          FROM v, c) WHERE rn = 1""",
    )
    assert len(want) > 0
    compare(similarity.ivf_assign(vecs, cents), want)


def test_topk_empty_query_set_returns_empty_frame(spark, sf_dir):
    """Zero query rows: DuckDB returns zero rows, so must the kernel (the
    build side used to reach numpy as a 1-D array and fail on axis 1)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    out = similarity.topk_bruteforce(vecs.limit(0), vecs)
    assert out.columns == ["vec_id", "rnk", "neighbor_id", "cos"]
    assert out.collect() == []


def test_ivf_assign_zero_centroids_returns_empty_frame(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    none = vecs.filter(F.col("vec_id") < 0)
    out = similarity.ivf_assign(vecs, none)
    assert out.columns == ["vec_id", "centroid_id"]
    assert out.collect() == []
    kept = similarity.ivf_assign(vecs, none, keep_vec=True)
    assert kept.columns == ["vec_id", "centroid_id", "embedding"]
    assert kept.collect() == []
