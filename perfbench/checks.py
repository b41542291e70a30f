"""Correctness checks, run after each operation, outside its timing.

- Query results: row count, column names and an order-insensitive value
  hash, compared against the query's DuckDB oracle run on the same
  fixture. The hash and the oracle runner are those of
  ``tools/check_correctness.py``.
- Scrapes: the ``external_file`` table diffed against the generator's
  model, mismatches counted by kind.

``python3 perfbench/checks.py <fixture_dir> <query>...`` prints the
oracle digests of the named queries as one JSON object.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timedelta

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

import duckdb  # noqa: E402

from tools.check_correctness import duckdb_run, value_hash  # noqa: E402

_EPOCH = datetime(1970, 1, 1)
MISMATCH_KINDS = ("missing", "extra", "wrong_value", "wrong_deleted")


def digest(cols: list[str], rows: list[tuple]) -> tuple:
    """(row count, sorted column names, order-insensitive value hash)."""
    return len(rows), sorted(cols), value_hash(cols, rows)


def oracle_digests(fixture_dir: str, queries: list[str]) -> dict[str, tuple]:
    """Digest of each query's DuckDB oracle over ``fixture_dir``. The
    oracles run in a child process, so their memory stays out of this
    process's peak resident set."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__), fixture_dir, *queries],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return {q: tuple(v) for q, v in json.loads(out.splitlines()[-1]).items()}


def _print_oracle_digests(fixture_dir: str, queries: list[str]) -> None:
    from file_scraper_spark import registry  # noqa: PLC0415
    from file_scraper_spark.tables import ORACLE_SF_DIR  # noqa: PLC0415

    oracles = registry.all_oracles()
    out = {}
    for q in queries:
        # oracles that name the program's fixed fixture path are
        # pointed at fixture_dir, as tools/check_correctness.py does
        cols, rows = duckdb_run(fixture_dir, oracles[q].replace(ORACLE_SF_DIR, fixture_dir))
        out[q] = digest(cols, rows)
    print(json.dumps(out))


def _us(dt: datetime | None) -> int | None:
    return None if dt is None else (dt - _EPOCH) // timedelta(microseconds=1)


def read_external_file(db_path: str) -> dict[tuple[str, str], tuple]:
    """(path, filename) -> (external_source, mime_type, created,
    modified, size, deleted), times in epoch microseconds."""
    con = duckdb.connect(db_path, read_only=True)
    try:
        rows = con.execute(
            "SELECT path, filename, external_source, mime_type, created, "
            "modified, size, deleted FROM external_file"
        ).fetchall()
    finally:
        con.close()
    return {
        (p, f): (src, mime, _us(c), _us(m), size, _us(d))
        for p, f, src, mime, c, m, size, d in rows
    }


def diff_model(actual: dict, tree, identifier: str) -> dict[str, int]:
    """Count mismatches between the table and the model, by kind."""
    out = dict.fromkeys(MISMATCH_KINDS, 0)
    for key, row in tree.rows.items():
        got = actual.get(key)
        if got is None:
            out["missing"] += 1
            continue
        src, mime, created, modified, size, deleted = got
        if (src, mime, created, modified, size) != (
            identifier, row.mime_type, row.created, row.modified, row.size
        ):
            out["wrong_value"] += 1
        if deleted != row.deleted:
            out["wrong_deleted"] += 1
    out["extra"] = sum(1 for key in actual if key not in tree.rows)
    return out


def diff_tables(before: dict, after: dict) -> dict[str, int]:
    """Row changes one scrape made, found by diffing the table."""
    out = dict.fromkeys(
        ("inserted", "updated", "unchanged", "soft_deleted", "restamped"), 0
    )
    for key, new in after.items():
        old = before.get(key)
        if old is None:
            out["inserted"] += 1
            continue
        if old[:5] != new[:5]:
            out["updated"] += 1
        elif old[5] == new[5]:
            out["unchanged"] += 1
        if old[5] != new[5]:
            out["restamped" if old[5] is not None else "soft_deleted"] += 1
    return out


if __name__ == "__main__":
    _print_oracle_digests(sys.argv[1], sys.argv[2:])
