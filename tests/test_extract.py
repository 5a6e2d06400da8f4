"""Catalog DDL extraction (SURVEY S9/S11; reference
extract_hive_ddls.py:81-221, build_oracle_ddl_extraction_group.py:84-131)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.extract import (
    columns_info,
    extract_catalog_ddls,
    reconstruct_create_table,
    table_metadata,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog_db(spark):
    db = "dmt_extract_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    region.write.saveAsTable(f"{db}.region")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    nation.write.partitionBy("n_regionkey").saveAsTable(f"{db}.nation_part")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_table_metadata(spark, catalog_db):
    meta = table_metadata(spark, f"{catalog_db}.region")
    assert meta.fmt == "parquet"
    assert meta.partition_columns == []
    assert "CREATE TABLE" in meta.ddl and "region" in meta.ddl

    meta_p = table_metadata(spark, f"{catalog_db}.nation_part")
    assert meta_p.partition_columns == ["n_regionkey"]


def test_extract_catalog_ddls(spark, catalog_db, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "logs"))
    metas = extract_catalog_ddls(spark, catalog_db, str(tmp_path / "ddl"), audit)
    assert {m.table for m in metas} == {"region", "nation_part"}
    files = sorted(os.listdir(tmp_path / "ddl" / catalog_db))
    assert files == ["nation_part.sql", "region.sql"]
    rows = audit.table("hive_ddl_metadata").collect()
    by_table = {r.table: r for r in rows}
    assert by_table["region"].ddl_extracted == "YES"
    assert by_table["region"].partition_flag == "N"
    assert by_table["nation_part"].partition_flag == "Y"
    # extracted DDL is executable: recreate under a new name
    ddl = open(tmp_path / "ddl" / catalog_db / "region.sql").read()
    stmt = ddl.rstrip(";\n").replace(
        f"{catalog_db}.region", f"{catalog_db}.region_copy", 1
    ).replace("`region`", "`region_copy`")
    spark.sql(stmt)
    assert spark.table(f"{catalog_db}.region_copy").schema == spark.table(
        f"{catalog_db}.region"
    ).schema


def test_columns_info_and_reconstruct(spark, catalog_db):
    cols = columns_info(spark, catalog_db)
    region_cols = (
        cols.filter(F.col("table_name") == "region")
        .orderBy("ordinal_position")
        .collect()
    )
    assert [c.column_name for c in region_cols] == ["r_regionkey", "r_name"]
    ddls = {r.table_name: r.ddl for r in reconstruct_create_table(cols).collect()}
    assert ddls["region"] == (
        "CREATE TABLE region (r_regionkey int, r_name string)"
    )
    # partition column flagged
    part = cols.filter(
        (F.col("table_name") == "nation_part")
        & (F.col("is_partitioning_column") == "YES")
    ).collect()
    assert [c.column_name for c in part] == ["n_regionkey"]


def test_columns_info_matches_catalog_listing(spark, tmp_path):
    """``columns_info`` rows equal the ``spark.catalog`` listing's: names,
    types (CHAR/VARCHAR read as string), ordinals and partition flags, in
    catalog order, for tables and views; session temp views are left out."""
    db = "dmt_columns_info_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    try:
        spark.sql(
            f"CREATE TABLE {db}.zeta (a INT, b DECIMAL(15,2), c ARRAY<STRUCT<x:INT,y:STRING>>, "
            f"d MAP<STRING,INT>, e CHAR(5), f VARCHAR(10), g TIMESTAMP_NTZ, `we ird` STRING, "
            f"p INT) USING parquet PARTITIONED BY (p)"
        )
        spark.sql(f"CREATE TABLE {db}.alpha (a BIGINT) USING csv OPTIONS (sep '|')")
        spark.sql(f"CREATE VIEW {db}.v AS SELECT a FROM {db}.alpha")
        spark.range(1).createOrReplaceTempView("dmt_columns_info_tmp")
        want = [
            (t.name, c.name, c.dataType, i + 1, "YES" if c.isPartition else "NO")
            for t in spark.catalog.listTables(db) if not t.isTemporary
            for i, c in enumerate(spark.catalog.listColumns(f"{db}.{t.name}"))
        ]
        got = [tuple(r) for r in columns_info(spark, db).collect()]
        assert got == want
        assert {r[0] for r in got} == {"zeta", "alpha", "v"}
    finally:
        spark.catalog.dropTempView("dmt_columns_info_tmp")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_extract_catalog_ddls_keeps_order_and_isolates_failures(
    spark, catalog_db, tmp_path, monkeypatch
):
    """The threaded walk audits tables in catalog order, and a table whose
    metadata read fails is audited NO while the others are extracted."""
    from data_migration_tool_spark.extract import catalog

    real = catalog.table_metadata

    def flaky(spark_, qualified):
        if qualified.endswith(".nation_part"):
            raise RuntimeError("metadata read failed")
        return real(spark_, qualified)

    monkeypatch.setattr(catalog, "table_metadata", flaky)
    audit = AuditLog(spark, str(tmp_path / "logs"))
    metas = extract_catalog_ddls(spark, catalog_db, str(tmp_path / "ddl"), audit)
    order = [t.name for t in spark.catalog.listTables(catalog_db) if not t.isTemporary]
    rows = audit.table("hive_ddl_metadata").collect()
    assert [r.table for r in rows] == order
    assert {r.table: r.ddl_extracted for r in rows} == {
        t: ("NO" if t == "nation_part" else "YES") for t in order
    }
    assert [m.table for m in metas] == [t for t in order if t != "nation_part"]
    assert sorted(os.listdir(tmp_path / "ddl" / catalog_db)) == sorted(
        f"{t}.sql" for t in order if t != "nation_part"
    )
