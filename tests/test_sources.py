"""Source-layer unit tests, mirroring the reference's own test
strategy (SURVEY §5: the S3-URL table test, src/s3.rs:159-175) plus
the edge cases the reference gets wrong on purpose."""

from __future__ import annotations

import pytest

from file_scraper_spark.sources.dispatch import source_for_path
from file_scraper_spark.sources.fs import list_files, scrape_fs
from file_scraper_spark.sources.url import parse_s3_url, split_key


def test_parse_s3_url_table():
    # same three shapes as the reference unit test
    loc = parse_s3_url("s3://my-bucket/some/path")
    assert (loc.bucket, loc.path) == ("my-bucket", "some/path")
    loc = parse_s3_url("s3://my-bucket")
    assert (loc.bucket, loc.path) == ("my-bucket", "")
    loc = parse_s3_url("s3://my-bucket/")
    assert (loc.bucket, loc.path) == ("my-bucket", "")
    # non-s3 paths fall through to fs (reference src/main.rs:72-81)
    assert parse_s3_url("/plain/dir") is None
    assert parse_s3_url("s3:/missing-slash") is None


def test_split_key_no_slash_does_not_crash():
    # the reference panics here (src/s3.rs:107-108); we yield dir=''
    assert split_key("bare-key.txt") == ("", "bare-key.txt")
    assert split_key("a/b/c.txt") == ("a/b", "c.txt")


def test_dispatch():
    assert source_for_path("s3://bucket/p").kind == "s3"
    assert source_for_path("/tmp").kind == "fs"
    assert source_for_path("s3://bucket/p").identifier == "s3://bucket/p"
    assert ":" in source_for_path("/tmp").identifier  # host:path


def test_fs_listing_never_reads_content(spark, sf_dir):
    # metadata-only: the physical plan's ReadSchema must exclude
    # `content` (parity with the reference never opening files)
    plan = list_files(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_scrape_fs_schema_and_rows(spark, sf_dir):
    df = scrape_fs(spark, sf_dir, identifier="t")
    assert [f.name for f in df.schema.fields] == [
        "external_source",
        "path",
        "filename",
        "mime_type",
        "created",
        "modified",
        "size",
    ]
    rows = df.collect()
    assert len(rows) == 10  # the ten fixture parquet files
    assert all(r.mime_type == "application/vnd.apache.parquet" for r in rows)
    assert all(r.size > 0 for r in rows)
    # created parity (reference src/fs.rs:65): populated from the
    # executor-side stat (st_ctime on Linux) — never NULL on a
    # readable local tree
    assert all(r.created is not None for r in rows)


def test_scrape_fs_created_matches_stat(spark, tmp_path):
    """created must equal os.stat's birthtime/ctime (micros precision)
    and switch off cleanly with created_from_stat=False."""
    import os
    from datetime import datetime, timezone

    f = tmp_path / "x.bin"
    f.write_bytes(b"\x00" * 64)
    st = os.stat(f)
    expect_ns = getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns

    rows = scrape_fs(spark, str(tmp_path), identifier="t").collect()
    assert len(rows) == 1
    got = rows[0].created.replace(tzinfo=timezone.utc)
    expect = datetime.fromtimestamp(expect_ns / 1e9, tz=timezone.utc)
    assert abs((got - expect).total_seconds()) < 0.002

    plain = scrape_fs(
        spark, str(tmp_path), identifier="t", created_from_stat=False
    ).collect()
    assert plain[0].created is None


def test_scrape_fs_strict_created_modes(spark, tmp_path):
    """strict_created=True reproduces the reference's
    error-on-missing-btime (src/fs.rs:65); the default falls back to
    st_ctime. On a btime-less platform (Linux) strict must FAIL the
    job; where btime exists, both modes agree."""
    import os

    from file_scraper_spark.sources.fs import _stat_created_ns

    f = tmp_path / "x.bin"
    f.write_bytes(b"\x00")

    # default mode always fills created
    rows = scrape_fs(spark, str(tmp_path)).collect()
    assert rows[0].created is not None

    has_btime = hasattr(os.stat(f), "st_birthtime") or hasattr(
        os.stat(f), "st_birthtime_ns"
    )
    if has_btime:
        strict_rows = scrape_fs(
            spark, str(tmp_path), strict_created=True
        ).collect()
        assert strict_rows[0].created == rows[0].created
    else:
        from file_scraper_spark.sources.fs import BirthtimeUnavailableError

        # unit level: the stat helper raises the typed error
        with pytest.raises(BirthtimeUnavailableError):
            _stat_created_ns(str(f), strict=True)
        # job level: the failure propagates out of the executor
        with pytest.raises(Exception, match="BirthtimeUnavailable"):
            scrape_fs(spark, str(tmp_path), strict_created=True).collect()
    # strict never affects the vanished-file tolerance
    assert _stat_created_ns(str(tmp_path / "gone.bin"), strict=True) is None


def test_scrape_fs_special_char_filenames(spark, tmp_path):
    """`created` must be populated for filenames containing spaces,
    `%`, `+`, and literal percent-escape sequences (reference
    semantics: created always set on a readable fs tree,
    src/fs.rs:65). Guards the URI-encoding hazard: some Spark file
    sources emit percent-encoded listing paths, and a naive
    path-join + stat then silently NULLs `created`."""
    names = ["has space.txt", "100%.txt", "a+b.txt", "per%20cent.txt"]
    for n in names:
        (tmp_path / n).write_bytes(b"x")

    rows = {r.filename: r for r in scrape_fs(spark, str(tmp_path)).collect()}
    # filenames surface as the real OS names, not encoded forms
    assert set(rows) == set(names)
    for n in names:
        assert rows[n].created is not None, n
        assert rows[n].path == str(tmp_path)


def test_scrape_fs_keeps_zero_byte_files(spark, tmp_path):
    """An empty file scrapes like any other, with size 0. A binaryFile
    scan skips zero-length files, so a scrape used to miss them and
    read a file truncated to 0 bytes as deleted. The odd names pin the
    listing's parse of file statuses."""
    sizes = {
        "empty.txt": 0,
        "full.txt": 3,
        "semi; isDirectory=true; length=5": 0,
        "new\nline.txt": 1,
    }
    for name, n in sizes.items():
        (tmp_path / name).write_bytes(b"x" * n)
    (tmp_path / "no_files").mkdir()

    rows = scrape_fs(spark, str(tmp_path), identifier="t").collect()
    assert {r.filename: r.size for r in rows} == sizes
    assert all(r.created is not None and r.modified is not None for r in rows)
    assert list_files(spark, str(tmp_path / "no_files")).count() == 0


def test_enrich_created_decodes_encoded_listing(spark, tmp_path):
    """If an upstream listing hands percent-ENCODED paths (older
    Spark/Hadoop file-source behavior: space -> %20), the stat
    fallback must decode and still fill `created` — while a file
    whose real name contains a literal escape sequence is statted
    as-is, never mis-decoded."""
    from file_scraper_spark.sources.fs import enrich_created

    (tmp_path / "has space.txt").write_bytes(b"x")
    (tmp_path / "per%20cent.txt").write_bytes(b"y")

    listing = spark.createDataFrame(
        [
            ("t", str(tmp_path), "has%20space.txt", "text/plain", None, None, 1),
            ("t", str(tmp_path), "per%20cent.txt", "text/plain", None, None, 1),
        ],
        "external_source string, path string, filename string, "
        "mime_type string, created timestamp, modified timestamp, size long",
    )
    rows = {r.filename: r for r in enrich_created(listing).collect()}
    import os

    # encoded name decoded to the real file
    assert rows["has%20space.txt"].created is not None
    # literal %20 in the real name: raw stat wins, no double-decode
    got_ns = rows["per%20cent.txt"].created
    assert got_ns is not None
    st = os.stat(tmp_path / "per%20cent.txt")
    expect = getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns
    assert abs(got_ns.timestamp() * 1e9 - expect) < 2e6


def test_python_datasource_stat_fidelity(spark, tmp_path):
    """pyds rows must match os.stat exactly — size, mtime (UTC), and
    recursive traversal into subdirectories with pattern filtering."""
    import os
    from datetime import datetime, timezone

    from file_scraper_spark.sources import pyds

    (tmp_path / "sub" / "deep").mkdir(parents=True)
    (tmp_path / "a.dat").write_bytes(b"x" * 123)
    (tmp_path / "sub" / "b.dat").write_bytes(b"y" * 4567)
    (tmp_path / "sub" / "deep" / "c.dat").write_bytes(b"z")
    (tmp_path / "skip.txt").write_text("not matched")

    pyds.register(spark)
    rows = {
        r.filename: r
        for r in (
            spark.read.format("pylisting")
            .option("path", str(tmp_path))
            .option("pattern", "*.dat")
            .load()
        ).collect()
    }
    assert set(rows) == {"a.dat", "b.dat", "c.dat"}
    for name, rel in [("a.dat", "a.dat"), ("b.dat", "sub/b.dat"),
                      ("c.dat", "sub/deep/c.dat")]:
        p = tmp_path / rel
        st = os.stat(p)
        assert rows[name].size == st.st_size
        assert rows[name].path == str(p.parent)
        expect = datetime.fromtimestamp(st.st_mtime, tz=timezone.utc)
        got = rows[name].modified.replace(tzinfo=timezone.utc)
        assert abs((got - expect).total_seconds()) < 0.002


def test_python_datasource_tolerates_fs_anomalies(spark, tmp_path):
    """Real trees contain broken symlinks and symlink cycles; the
    executor walk must skip them (reference filter_map_ok parity,
    src/fs.rs:88) instead of crashing or looping forever."""
    import os

    from file_scraper_spark.sources import pyds

    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "real.dat").write_bytes(b"ok")
    os.symlink(tmp_path / "nowhere", sub / "broken.dat")  # dangling
    os.symlink(tmp_path, sub / "loop")  # cycle back to the root
    os.symlink(sub / "real.dat", sub / "alias.dat")  # file symlink

    pyds.register(spark)
    rows = (
        spark.read.format("pylisting")
        .option("path", str(tmp_path))
        .option("pattern", "*.dat")
        .load()
    ).collect()
    # only the regular file; no crash, no infinite loop, no
    # double-count through the cycle or the alias
    assert [(r.filename, r.size) for r in rows] == [("real.dat", 2)]


def test_streaming_datasource_replay_between_offsets(tmp_path):
    """Failure recovery: readBetweenOffsets must re-emit exactly the
    planned batch — files touched after the batch's end offset belong
    to the NEXT batch, files inside the range are replayed."""
    import os

    from file_scraper_spark.sources.pyds import ListingStreamReader

    root = tmp_path / "w"
    root.mkdir()
    (root / "a.dat").write_bytes(b"a")
    (root / "b.dat").write_bytes(b"bb")

    r = ListingStreamReader({"path": str(root), "pattern": "*.dat"})
    start = r.initialOffset()
    rows, end = r.read(start)
    assert {t[1] for t in rows} == {"a.dat", "b.dat"}

    # a file lands AFTER the planned batch (strictly newer mtime)
    (root / "late.dat").write_bytes(b"zzz")
    os.utime(root / "late.dat", ns=(end["mtime_ns"] + 10**9,) * 2)

    replay = list(r.readBetweenOffsets(start, end))
    assert {t[1] for t in replay} == {"a.dat", "b.dat"}
    # and the next live batch picks up only the late file
    nxt, _ = r.read(end)
    assert {t[1] for t in nxt} == {"late.dat"}


def test_python_streaming_datasource_incremental(spark, tmp_path):
    """pylisting_stream: batch 1 sees the initial tree; after new
    files land, the next pass emits ONLY them (mtime watermark
    offsets)."""
    import time
    import uuid as _uuid

    from file_scraper_spark.sources import pyds

    root = tmp_path / "watched"
    root.mkdir()
    (root / "a.dat").write_bytes(b"aa")
    (root / "b.dat").write_bytes(b"bbb")

    pyds.register_stream(spark)
    stream = (
        spark.readStream.format("pylisting_stream")
        .option("path", str(root))
        .option("pattern", "*.dat")
        .load()
    )
    name = f"pyds_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.filename for r in spark.table(name).collect()}
        assert first == {"a.dat", "b.dat"}

        time.sleep(0.01)  # ensure a strictly newer mtime
        (root / "c.dat").write_bytes(b"cccc")
        q.processAllAvailable()
        rows = [r.filename for r in spark.table(name).collect()]
        assert sorted(rows) == ["a.dat", "b.dat", "c.dat"]  # c once, no re-emits
    finally:
        q.stop()
