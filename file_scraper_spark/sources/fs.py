"""Filesystem listing source (reference A1/A3/A4/A13, src/fs.rs).

Spark-first design: the recursive walk is Spark's own file index
(`binaryFile` format with `recursiveFileLookup`), which runs the
directory scan on the JVM with parallel partition discovery — the
analog of the reference's async WalkDir + per-batch concurrent stat
(src/fs.rs:85-100). The listing rows come from the index's file
statuses, not from a scan of the files: no file *content is ever
read* (checked by tests/test_sources.py), and zero-byte files, which a
binaryFile scan drops, are kept.

The projected schema mirrors FileInfo (src/db.rs:10-18 -> FIXTURES.md §4):
external_source, path, filename, mime_type, created, modified, size.

Quirk parity: the reference populates `created` from the platform's
file-creation time and *errors* where btime is unavailable
(`metadata.created()?`, src/fs.rs:65). Erroring a 1000-executor job
for a missing btime is wrong at scale, so we relax: ``enrich_created``
stats each listed file executor-side and fills `created` from
st_birthtime where the platform exposes it (macOS/Windows/BSD),
falling back to st_ctime (Linux: inode-change time — the closest
os.stat field; it moves when a file is replaced, which is what the
A8 change predicate needs), and NULL only if the stat itself fails.
Spark's binaryFile listing exposes only (modificationTime, length),
so this costs one extra executor-side stat per file — exactly the
stat the reference performs (src/fs.rs:60-66). Pass
``created_from_stat=False`` to skip it when the sink does not use
`created` (halves metadata I/O on remote stores).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.sources.mime import with_mime_type
from file_scraper_spark.sources.url import default_fs_identifier

if TYPE_CHECKING:
    import pandas as pd


def list_files(spark: SparkSession, root: str) -> DataFrame:
    """Recursive metadata-only listing of a directory tree: one
    (path, modificationTime, length) row per file, zero-byte files
    included.

    Spark's file index hands only non-empty files to a scan, so a
    binaryFile scan misses empty files, and a file truncated to 0 bytes
    would read as deleted. The rows are therefore taken from the
    index's own file statuses, which Spark already holds in memory
    after the listing; no file is opened and no scan job runs."""
    index = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        ._jdf.queryExecution()
        .analyzed()
        .relation()
        .location()
    )
    statuses = _status_table(index.allFiles().mkString("\0"))
    return spark.createDataFrame(statuses).select(
        "path",
        F.timestamp_millis("modificationTime").alias("modificationTime"),
        "length",
    )


_STATUS_RE = re.compile(r"; length=(\d+);.*; modification_time=(\d+)[;}]")


def _status_table(text: str) -> pa.Table:
    """(path, modificationTime ms, length) columns from NUL-joined
    Hadoop ``FileStatus.toString`` records, ``Cls{path=P;
    isDirectory=false; length=N; ...; modification_time=M; ...}``.

    The statuses cross py4j as one string: reading them one py4j call
    at a time took 1.2 s for a 3000-file tree on 4 vCPUs, against
    0.04 s for the string. NUL never occurs in a path. The path ends
    at the LAST ``; isDirectory=``, so a file name containing that
    text still parses; a record of any other shape raises."""
    paths, mtimes, lengths = [], [], []
    for rec in text.split("\0") if text else ():
        head, sep, tail = rec.rpartition("; isDirectory=")
        m = _STATUS_RE.search(tail)
        if not sep or "{path=" not in head or m is None:
            raise ValueError(f"unrecognized file status: {rec!r}")
        paths.append(head.split("{path=", 1)[1])
        lengths.append(int(m.group(1)))
        mtimes.append(int(m.group(2)))
    return pa.table(
        {
            "path": pa.array(paths, pa.string()),
            "modificationTime": pa.array(mtimes, pa.int64()),
            "length": pa.array(lengths, pa.int64()),
        }
    )


class BirthtimeUnavailableError(OSError):
    """Strict-mode parity with the reference's ``metadata.created()?``
    (src/fs.rs:65): raised when the platform/filesystem exposes no
    file-creation time. The default (relaxed) mode falls back to
    st_ctime instead — erroring a 1000-executor job over a missing
    btime is wrong at scale, but the flag lets users who rely on the
    reference's fail-fast contract keep it."""


def _stat_created_ns(full_path: str, strict: bool = False) -> int | None:
    """Creation time in epoch-ns: st_birthtime if the platform has it,
    else st_ctime (see module docstring); None when the file vanished
    between listing and stat (OSError) — a tolerated per-entry anomaly,
    matching the reference walk's filter_map_ok (src/fs.rs:92).

    The listing path may be URI percent-encoded depending on the
    Spark/Hadoop version (observed unencoded on Spark 4.1.2, but
    older file-source code paths emit ``Path.toUri`` strings where a
    space becomes ``%20``). Stat the raw path first so a file whose
    real name contains a literal ``%`` sequence (e.g. ``per%20cent``)
    is never mis-decoded; retry percent-decoded ONLY when the raw stat
    failed with ENOENT (a permission/IO error is not a naming mismatch
    and must not trigger a different-path stat) AND the path actually
    contains a ``%XX`` escape. Residual ambiguity: a raw-named file
    vanishing between listing and stat while a decoded-name twin
    exists would resolve to the twin — indistinguishable from an
    encoded listing without a second listing pass; tolerated (same
    class of races the reference walk's filter_map_ok accepts,
    src/fs.rs:92)."""
    import errno
    import os
    import re
    from urllib.parse import unquote

    try:
        st = os.stat(full_path)
    except OSError as exc:
        if exc.errno != errno.ENOENT or not re.search(
            "%[0-9A-Fa-f]{2}", full_path
        ):
            return None
        try:
            st = os.stat(unquote(full_path))
        except OSError:
            return None
    bt = getattr(st, "st_birthtime_ns", None)
    if bt is not None:
        return bt
    bt = getattr(st, "st_birthtime", None)
    if bt is not None:
        return int(bt * 1_000_000_000)
    if strict:
        # reference behavior: error, don't fall back (src/fs.rs:65).
        # A *vanished* file is still tolerated above even in strict
        # mode — the reference walk drops unreadable entries before
        # ever calling metadata.created() (filter_map_ok, fs.rs:92).
        raise BirthtimeUnavailableError(
            f"no file-creation time available for {full_path!r} "
            "(platform exposes no st_birthtime); use "
            "strict_created=False for the st_ctime fallback"
        )
    return st.st_ctime_ns


def enrich_created(projected: DataFrame, strict: bool = False) -> DataFrame:
    """Fill the `created` column by stat-ing each file on executors.

    Arrow-batched mapInPandas (never row-at-a-time serialization); the
    per-file os.stat is the same syscall the reference's walk performs
    per entry. Schema is unchanged, so batch and streaming paths can
    both layer this on top of ``project_listing``.

    ``strict=True`` reproduces the reference's error-on-missing-btime
    (src/fs.rs:65): the job fails with BirthtimeUnavailableError
    instead of falling back to st_ctime."""
    schema = projected.schema

    def add_created(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            us = [
                None if ns is None else ns // 1_000
                for ns in (
                    _stat_created_ns(f"{p}/{f}", strict=strict)
                    for p, f in zip(pdf["path"], pdf["filename"])
                )
            ]
            pdf = pdf.copy()
            # naive UTC datetimes, pre-truncated to micros (Spark
            # TimestampType precision — Arrow refuses a lossy ns->us
            # cast); session timezone is UTC-pinned (tables.load), so
            # Arrow round-trips them unshifted
            pdf["created"] = pd.to_datetime(
                pd.Series(us, index=pdf.index, dtype="object"), unit="us"
            )
            yield pdf

    return projected.mapInPandas(add_created, schema)


def project_listing(
    listed: DataFrame, spark: SparkSession, identifier: str
) -> DataFrame:
    """(path, modificationTime, length) listing -> FileInfo rows
    (shared by the batch and streaming scrape paths so the projection
    semantics can never drift between them)."""
    # strip the scheme Spark prepends (file:/...) to match os paths
    clean = F.regexp_replace("path", r"^file:", "")
    projected = listed.select(
        F.lit(identifier).alias("external_source"),
        F.regexp_extract(clean, r"^(.*)/[^/]*$", 1).alias("path"),
        F.substring_index(clean, "/", -1).alias("filename"),
        F.lit(None).cast("timestamp").alias("created"),
        F.col("modificationTime").alias("modified"),
        F.col("length").cast("long").alias("size"),
    )
    return with_mime_type(projected, spark).select(
        "external_source",
        "path",
        "filename",
        "mime_type",
        "created",
        "modified",
        "size",
    )


def scrape_fs(
    spark: SparkSession,
    root: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
    strict_created: bool = False,
) -> DataFrame:
    """Full fs scrape dataflow: list -> project FileInfo -> mime join
    -> created stat enrichment.

    Equivalent of the reference walk pipeline minus the sink
    (src/fs.rs:98-117); feed the result to sinks.merge_sink.
    ``strict_created=True`` keeps the reference's error-on-missing-
    btime contract (see enrich_created); the default relaxes it to
    the st_ctime fallback.
    """
    identifier = identifier or default_fs_identifier(root)
    out = project_listing(list_files(spark, root), spark, identifier)
    if created_from_stat:
        out = enrich_created(out, strict=strict_created)
    return out
