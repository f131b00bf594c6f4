"""Every declared query hash-matches its DuckDB oracle at sf0.001
(the driver runs the same comparison at sf0.01 — tools/check_oracle.py
runs that heavier pass on demand)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_oracle import compare, connect

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck_con():
    return connect(SF)


ALL = sorted(entrymod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, spark, duck_con):
    fn = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    sdf = fn(spark, SF)
    spark_pdf = sdf.toPandas()
    if name not in oracles:
        # rows-only contract: must run and return a stable schema
        assert spark_pdf is not None
        return
    duck_pdf = duck_con.execute(oracles[name]).df()
    problems = compare(name, spark_pdf, duck_pdf, verbose=True)
    assert not problems, f"{name}: " + "\n".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "usage_rate" in df.columns


def test_q223_auc_formula_reference(spark, tmp_path):
    """Pin the rank-sum AUC formula against hand-computed cases,
    independent of the DuckDB twin: perfect separation, perfect
    inversion, and a tie spanning both classes (midrank)."""
    import pandas as pd

    from cr_data_pipeline_project_spark.plans.llm_queries import (
        q223_quality_auc,
    )

    def auc_of(rows):
        # rows: (v_int, label_int>=5 means positive)
        pdf = pd.DataFrame(
            {
                "vec_id": range(len(rows)),
                # craft embeddings whose 1e-6-pinned norm equals v:
                # a 1-dim vector [v/1e6]
                "embedding": [[v / 1e6] for v, _ in rows],
                "label": [lab for _, lab in rows],
            }
        )
        import os
        import tempfile

        d = tempfile.mkdtemp(dir=tmp_path)
        spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        return q223_quality_auc(spark, d).collect()[0]

    # positives strictly above negatives -> AUC 1
    r = auc_of([(10, 0), (20, 0), (30, 9), (40, 9)])
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)
    # inverted -> AUC 0
    r = auc_of([(30, 9), (40, 9), (50, 0), (60, 0)])
    assert r.auc == 0.0
    # one pos ties one neg at v=20; other pos above, other neg below:
    # pairs: (20,10)=1, (20,20)=0.5, (30,10)=1, (30,20)=1 -> 3.5/4
    r = auc_of([(10, 0), (20, 0), (20, 9), (30, 9)])
    assert r.auc == 0.875
