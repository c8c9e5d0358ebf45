"""Unit pins for the --nulls sweep conventions (round 9).

The sweep (tools/degenerate_sweep.py --nulls) proves Spark==DuckDB on a
NULL-riddled fixture end-to-end; these tests pin the OPERATOR-level
contracts directly so a refactor that silently re-opens a NULL hole
fails here with a named assertion instead of a sweep diff.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from upc_sku_data_loader_spark.functions.text import fingerprint
from upc_sku_data_loader_spark.functions.vectors import finite_vec, finite_vec_sql
from upc_sku_data_loader_spark.operators.asof import asof_join
from upc_sku_data_loader_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_base,
    verify_jaccard,
)
from upc_sku_data_loader_spark.session import Held

NAN, INF = float("nan"), float("inf")

VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType(), containsNull=True)),
    ]
)

VECS = [
    (1, [1.0, 2.0]),        # valid
    (2, None),              # NULL vector
    (3, [1.0, None]),       # NULL element
    (4, [NAN, 1.0]),        # NaN element
    (5, [INF, 1.0]),        # Inf element
    (6, [0.0, 0.0]),        # zero vector is VALID (norm edge, not missing)
]


def test_finite_vec_rejects_null_vectors_and_elements(spark):
    df = spark.createDataFrame(VECS, VEC_SCHEMA)
    kept = sorted(
        r["vec_id"] for r in df.filter(finite_vec("embedding")).collect()
    )
    assert kept == [1, 6]


def test_finite_vec_sql_matches_spark_predicate(spark):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE v (vec_id BIGINT, embedding FLOAT[])"
        )
        con.executemany(
            "INSERT INTO v VALUES (?, ?)", [list(r) for r in VECS]
        )
        kept = sorted(
            r[0]
            for r in con.execute(
                f"SELECT vec_id FROM v WHERE {finite_vec_sql('embedding')}"
            ).fetchall()
        )
    finally:
        con.close()
    assert kept == [1, 6]


def test_fingerprint_null_text_is_null_not_empty_collision(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", fingerprint("text").alias("fp")).collect()}
    assert rows[1] is None                 # NULL text -> NULL fingerprint
    assert rows[2] is not None             # empty text keeps a real digest
    assert rows[1] != rows[2]              # and they never collide


def test_minhash_pipeline_excludes_null_text_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, None), (4, "")],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        ),
    )
    held = Held()
    base = shingle_base(docs, held, shingle_k=3)
    try:
        assert sorted(r["doc_id"] for r in base.collect()) == [1, 2, 4]
        sigs = minhash_signatures(base, n_hashes=8)
        assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 2, 4]
        pairs = verify_jaccard(
            lsh_candidate_pairs(sigs, n_bands=2, rows_per_band=4),
            base,
            threshold=0.5,
        ).collect()
    finally:
        held.free(base)
    # the NULL-text doc pairs with nothing; the real dup pair survives
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_asof_null_ts_right_rows_never_match(spark):
    left = spark.createDataFrame(
        [(1, 100, "x"), (1, None, "y")],
        "k long, lts long, payload string",
    )
    right = spark.createDataFrame(
        [(1, None, 9.0), (1, 50, 1.0)], "k long, rts long, val double"
    )
    out = {
        r["payload"]: (r["asof_rts"], r["asof_val"])
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_values=["val"],
        ).collect()
    }
    # timed probe matches the timed quote, never the NULL-ts one
    assert out["x"] == (50, 1.0)
    # timeless probe keeps its row with a NULL match
    assert out["y"] == (None, None)
