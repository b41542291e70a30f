"""Streaming scrape -> REAL Postgres end-to-end: the reference's
actual deployment shape (incremental walk micro-batches folded into
one transactional merge against the Postgres target, src/fs.rs:98-117
+ src/db.rs:92-124) composed from our pieces: scrape_stream /
scrape_stream_pylisting -> foreachBatch -> MergeSink -> psql shim.
Skipped when Postgres binaries are absent."""

from __future__ import annotations

from datetime import datetime

import pytest

from file_scraper_spark.sinks.merge_sink import MergeSink
from file_scraper_spark.streaming.scrape_stream import (
    scrape_stream,
    scrape_stream_pylisting,
)
from tests.conftest import needs_smoke_fixture
from tests.pg_harness import PgCluster, pg_available

pytestmark = pytest.mark.skipif(
    not pg_available, reason="postgres binaries not available"
)

T1 = datetime(2024, 1, 1, 12, 0, 0)
T2 = datetime(2024, 1, 2, 12, 0, 0)


@pytest.fixture(scope="module")
def cluster():
    import shutil
    import tempfile
    from pathlib import Path

    # under /tmp directly: pytest's tmp dirs sit below a 0700 root dir
    # the postgres user cannot traverse
    base = Path(tempfile.mkdtemp(prefix="pgfss_stream_", dir="/tmp"))
    c = PgCluster(base)
    c.start()
    yield c
    c.stop()
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def sink(cluster):
    s = MergeSink(cluster.connect, paramstyle="format")
    admin = cluster.connect()
    admin.execute("DROP TABLE IF EXISTS external_file")
    admin.execute("DROP SEQUENCE IF EXISTS external_file_seq")
    admin.commit()
    admin.close()
    s.ensure_target()
    return s


def fetch(cluster):
    con = cluster.connect()
    try:
        con.execute(
            "SELECT filename, size::text, deleted::text, mime_type "
            "FROM external_file ORDER BY filename"
        )
        return {r[0]: r for r in con.fetchall()}
    finally:
        con.close()


def _tree(tmp_path, n=5):
    root = tmp_path / "tree"
    root.mkdir()
    for i in range(n):
        (root / f"f{i}.txt").write_text("x" * (i + 1))
    return root


def test_scrape_stream_to_postgres_incremental(tmp_path, spark, cluster, sink):
    """Two streaming scrapes (micro-batches of 2 files) against real
    PG: insert, then update + soft-delete on the re-scrape — the
    reference's repeated-walk loop."""
    root = _tree(tmp_path)
    scrape_stream(
        spark, str(root), sink, identifier="st", scrape_time=T1,
        max_files_per_trigger=2,
    )
    rows = fetch(cluster)
    assert len(rows) == 5
    assert all(r[2] is None for r in rows.values())
    assert all(r[3] == "text/plain" for r in rows.values())

    (root / "f0.txt").unlink()
    (root / "f1.txt").write_text("grown content")
    scrape_stream(
        spark, str(root), sink, identifier="st", scrape_time=T2,
        max_files_per_trigger=2,
    )
    rows = fetch(cluster)
    assert rows["f0.txt"][2] is not None  # soft-deleted, not removed
    assert rows["f1.txt"][1] == str(len("grown content"))  # updated
    assert rows["f1.txt"][2] is None
    assert rows["f4.txt"][2] is None  # untouched survivor


def test_scrape_stream_pylisting_to_postgres(tmp_path, spark, cluster, sink):
    """Same composition through the Python DataSource streaming
    listing (executor-side walk) instead of the JVM binaryFile
    stream: pyds -> FileInfo projection + broadcast mime join ->
    foreachBatch -> one PG transaction."""
    root = _tree(tmp_path, n=4)
    scrape_stream_pylisting(
        spark, str(root), sink, identifier="py", scrape_time=T1,
        pattern="*.txt",
    )
    rows = fetch(cluster)
    assert len(rows) == 4
    assert all(r[2] is None for r in rows.values())
    assert all(r[3] == "text/plain" for r in rows.values())

    (root / "f3.txt").unlink()
    scrape_stream_pylisting(
        spark, str(root), sink, identifier="py", scrape_time=T2,
        pattern="*.txt",
    )
    rows = fetch(cluster)
    assert rows["f3.txt"][2] is not None
    assert rows["f0.txt"][2] is None


def test_scrape_stream_failure_rolls_back_whole_scrape(
    tmp_path, spark, cluster, sink
):
    """One-visible-snapshot guarantee (A15) under streaming: a
    failure in a LATER micro-batch must leave no partial rows from
    the earlier batches of the same scrape."""
    root = _tree(tmp_path)

    real_open = sink.open_scrape

    def failing_open(identifier, scrape_time):
        session = real_open(identifier, scrape_time)
        real_add = session.add_rows
        calls = {"n": 0}

        def add_rows(rows):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise RuntimeError("injected batch-2 failure")
            real_add(rows)

        session.add_rows = add_rows
        return session

    sink.open_scrape = failing_open
    try:
        with pytest.raises(Exception, match="injected batch-2 failure"):
            scrape_stream(
                spark, str(root), sink, identifier="rb", scrape_time=T1,
                max_files_per_trigger=2,
            )
    finally:
        sink.open_scrape = real_open

    assert fetch(cluster) == {}  # aborted scrape left nothing visible

    # and the sink remains usable for a clean scrape afterwards
    scrape_stream(
        spark, str(root), sink, identifier="rb", scrape_time=T2,
        max_files_per_trigger=2,
    )
    assert len(fetch(cluster)) == 5


@needs_smoke_fixture
def test_band_index_stream_to_postgres(spark, cluster):
    """stream_minhash_dedup_upsert against REAL Postgres through the
    psql shim: the parquet-ingest path fails server-side (no
    read_parquet in PG), the driver-batched upsert_rows fallback takes
    over inside the same transaction contract, and the verdict read
    comes back through contested_rows (COPY TO PARQUET also absent) —
    verdicts must equal the complete-mode memory-sink twin."""
    from file_scraper_spark.sinks.band_index_sink import BandIndexSink
    from file_scraper_spark.streaming.queries import (
        stream_minhash_dedup,
        stream_minhash_dedup_upsert,
    )

    admin = cluster.connect()
    admin.execute("DROP TABLE IF EXISTS band_owners")
    admin.commit()
    admin.close()
    sink = BandIndexSink(cluster.connect, paramstyle="format")
    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in stream_minhash_dedup_upsert(spark, sf, sink=sink).collect()
    }
    want = {tuple(r) for r in stream_minhash_dedup(spark, sf).collect()}
    assert got == want
    assert any(not r[3] for r in got), "no near-dups contested?"
    # the index persisted server-side: contested buckets survived the
    # stream's teardown
    assert len(sink.contested_rows()) > 0
