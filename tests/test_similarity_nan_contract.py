"""Zero-norm contract of the cosine family: a zero-norm vector (all
zeros, or empty) is similar to nothing. ``cosine()`` scores it NULL,
so it never passes a threshold and ranks last; the cogrouped near-dup
kernel drops its pairs. DuckDB's ``list_cosine_similarity`` scores it
-1.0, which fails every threshold the twins use; the top-k twins
state the NULL. The last test checks the engine against the DuckDB
twins themselves on a corpus with zero vectors."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from cr_data_pipeline_project_spark.operators.similarity import (
    cosine,
    cosine_neardup_pairs,
)
from tools.check_oracle import compare, connect


def _pairs(spark, rows, threshold=0.45):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in cosine_neardup_pairs(df, threshold=threshold).collect()
    }


def test_cosine_scores_zero_norm_null(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 0.0]), ([], []), ([3.0, 4.0], [4.0, 3.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert got == [None, None, 0.96]


def test_zero_norm_vector_pairs_are_dropped(spark):
    got = _pairs(spark, [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])])
    assert got == {(1, 3): 1.0}


def test_empty_vector_pairs_are_dropped(spark):
    got = _pairs(spark, [(1, []), (2, []), (3, [1.0, 2.0]), (4, [2.0, 4.0])])
    assert got == {(3, 4): 1.0}


def test_kernel_matches_oracle_semantics_on_zero_vectors(spark, tmp_path):
    """Every embedding id is a query (q36, q42) and an IVF centroid
    (q42); ids 2 and 7 are zero vectors."""
    vecs = [
        [1.0, 1.0, 0.0],
        [1.0, 0.5, 0.0],
        [0.0, 0.0, 0.0],
        [-1.0, 1.0, 0.5],
        [2.0, 2.0, 0.0],
        [0.0, 1.0, 1.0],
        [0.5, -1.0, 2.0],
        [0.0, 0.0, 0.0],
        [1.0, 0.0, -1.0],
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([5] * len(vecs), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    con = connect(str(tmp_path))
    for name in ("q36_ann_bruteforce_topk", "q37_embedding_neardup", "q42_ann_ivf_topk"):
        spark_pdf = entrymod.queries()[name](spark, str(tmp_path)).toPandas()
        duck_pdf = con.execute(entrymod.oracle_sql()[name]).fetchdf()
        problems = compare(name, spark_pdf, duck_pdf, verbose=True)
        assert not problems, f"{name}: " + "\n".join(problems)
    con.close()
