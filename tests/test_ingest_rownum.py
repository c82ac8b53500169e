"""The ingest row number: a scan-side ``monotonically_increasing_id``
projection that follows file line order across several input splits and
returns the same values on every action."""

import os

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.sources.readers import INGEST_ROWNUM, ExtractionConfig, read_csv

N_ROWS = 300
# file order differs from id order, so a sort by id cannot fake the check
IDS = [(i * 37) % N_ROWS for i in range(N_ROWS)]


@pytest.fixture()
def small_splits(spark):
    """Cut a few-KB CSV into several input splits; restore the conf."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1024")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_rownum_follows_file_order_across_splits(spark, tmp_path, small_splits):
    path = os.path.join(tmp_path, "rows.csv")
    with open(path, "w") as f:
        f.write("id,val\n")
        f.writelines(f"{i},v{i:04d}\n" for i in IDS)
    df = read_csv(spark, path, ExtractionConfig("rows"), attach_rownum=True)
    first = df.select("id", INGEST_ROWNUM).collect()
    splits = {r[INGEST_ROWNUM] >> 33 for r in first}
    assert len(splits) >= 3
    assert [r["id"] for r in sorted(first, key=lambda r: r[INGEST_ROWNUM])] == IDS
    # a second action (different plan above the scan) sees the same numbers
    second = df.filter(F.col("val").isNotNull()).select("id", INGEST_ROWNUM).collect()
    assert sorted(map(tuple, second)) == sorted(map(tuple, first))


def test_transposed_csv_keeps_row_order_across_splits(spark, tmp_path, small_splits):
    path = os.path.join(tmp_path, "transposed.csv")
    names = [f"col{i:03d}" for i in IDS[:120]]
    with open(path, "w") as f:
        f.write("Patient ID,P1,P2\n")
        f.writelines(f"{n},{n}_a,{n}_b\n" for n in names)
    assert spark.read.csv(path).rdd.getNumPartitions() >= 3
    df = read_csv(
        spark, path,
        ExtractionConfig("t", has_headers=True, patients_are_rows=False),
        attach_rownum=True,
    )
    assert df.columns == ["Patient ID", *names, INGEST_ROWNUM]
    rows = df.orderBy(INGEST_ROWNUM).collect()
    assert [r["Patient ID"] for r in rows] == ["P1", "P2"]
    assert [rows[1][n] for n in names] == [f"{n}_b" for n in names]
