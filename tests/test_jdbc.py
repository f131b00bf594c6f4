"""Lake ↔ JDBC mirror round-trip over embedded Derby (ships in
Spark's jars). Derby stands in for the reference's SQL Server
boundary (src/db_ops.py:24-50); skip cleanly if no driver is on the
classpath."""

import os

import pytest

from cr_data_pipeline_project_spark import pipeline, schemas

from helpers import clan_row

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_available(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(DERBY_DRIVER)
        return True
    except Exception:
        return False


def test_jdbc_mirror_roundtrip(spark, tmp_path):
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    # Derby writes its derby.log to user.dir; point it at the tmp dir
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(str(tmp_path), "derby.log")
    )
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    df = spark.createDataFrame(
        [clan_row("#A", "alice", members=10), clan_row("#B", "bob", members=20)],
        schemas.CLANS,
    )
    lake.overwrite("clans", df)

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    lake.to_jdbc("clans", url, table="clans_mirror", driver=DERBY_DRIVER)
    back = lake.from_jdbc(url, "clans_mirror", driver=DERBY_DRIVER)
    assert sorted(
        (r["clan_id"], r["clan_name"], r["members"]) for r in back.collect()
    ) == [
        ("#A", "alice", 10),
        ("#B", "bob", 20),
    ]
    # append mode accumulates
    lake.to_jdbc("clans", url, table="clans_mirror", mode="append", driver=DERBY_DRIVER)
    assert lake.from_jdbc(url, "clans_mirror", driver=DERBY_DRIVER).count() == 4
