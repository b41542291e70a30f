"""Corrupt-input tolerance — at 100 TB there is always one bad file /
malformed row; jobs must degrade row-wise, not die (the same
philosophy as the reference walk's filter_map_ok, src/fs.rs:88)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from file_scraper_spark.session import default_cpus


def test_ignore_corrupt_parquet_files(spark, sf_dir, tmp_path):
    """spark.sql.files.ignoreCorruptFiles: a truncated/garbage parquet
    part in the directory is skipped; the job completes with the
    healthy files' rows."""
    import shutil

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", d / "part-000.parquet")
    (d / "part-001.parquet").write_bytes(b"PAR1 this is not parquet")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        n = spark.read.schema(
            "n_nationkey long, n_name string, n_regionkey long"
        ).parquet(str(d)).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert n == 25  # the healthy file's rows, corrupt part skipped


def test_permissive_json_malformed_rows(spark, tmp_path):
    """PERMISSIVE json parsing: malformed lines land in
    _corrupt_record with NULL data columns instead of failing the
    scan; FAILFAST raises. Both modes pinned."""
    p = tmp_path / "rows.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"id": 3, "v": "fine"}\n'
    )
    schema = "id long, v string, _corrupt_record string"
    rows = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .collect()
    )
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 3}
    assert len(bad) == 1 and bad[0].id is None

    import pytest
    from py4j.protocol import Py4JJavaError  # noqa: F401

    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        (
            spark.read.schema("id long, v string")
            .option("mode", "FAILFAST")
            .json(str(p))
            .collect()
        )


def test_try_cast_bad_rows_null_not_fail(spark):
    """try_* scalar family on hostile input: one unparseable value in
    a trillion must yield NULL, not a job abort."""
    df = spark.createDataFrame(
        [("1",), ("2",), ("not-a-number",), (None,)], "s string"
    )
    got = df.select(
        F.expr("try_cast(s AS BIGINT)").alias("n"),
        F.expr("try_divide(10, try_cast(s AS BIGINT) - 2)").alias("d"),
    ).collect()
    assert [r.n for r in got] == [1, 2, None, None]
    # division by zero (s=2) -> NULL, not error
    assert got[1].d is None


def test_session_defaults_to_usable_cores(spark, monkeypatch):
    """Without SPARK_GRAFT_CPUS the session runs local[N] on the cores
    this process may use, not a fixed 32 that oversubscribes a small
    host. Pinned on the helper and on the running session, so no
    second JVM starts."""
    if "SPARK_MASTER" not in os.environ:
        assert spark.sparkContext.master == f"local[{default_cpus()}]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
