"""Seeded file-tree generator and the expected ``external_file`` model.

The ``scrape_churn`` workload scrapes a tree this module writes, then
applies seeded churn steps to it (files modified, deleted, added) and
scrapes again. After every scrape the model below says what the
``external_file`` table must hold, independently of the program: the
expected MIME type per extension is spelled out here, not looked up in
the program's table.

Everything the tree and the model hold derives from the seed, except
``created``: the program fills it from the file's ``st_ctime``, which
the kernel assigns. The generator records each file's ctime right after
its last write, in a side table kept apart from the deterministic model.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

#: file-name suffixes: known and unknown extensions, upper case, a
#: double extension, no extension, and a name ending in a dot.
SUFFIXES = (".txt", ".csv", ".json", ".py", ".md", ".PNG", ".tar.gz",
            ".jpeg", ".xyz", ".bak", "", ".")

#: lowercased last extension -> expected mime_type; any other is NULL
MIME_BY_EXT = {
    "txt": "text/plain",
    "csv": "text/csv",
    "json": "application/json",
    "py": "text/x-python",
    "md": "text/markdown",
    "png": "image/png",
    "gz": "application/gzip",
    "jpeg": "image/jpeg",
}

#: file stems: plain, spaces, a literal "%20", non-ASCII.
STEMS = ("report", "data", "my file", "per%20cent", "naïve", "日本語", "Ölfeld",
         "a b  c", "notes")

#: directory names; nesting is 0-3 levels below the root.
DIRS = ("src", "docs", "raw data", "2024", "ünïcode", "x%20y", "deep", "lib")

ZERO_BYTE_SHARE = 0.02
MODIFY_SHARE = 0.05
DELETE_SHARE = 0.02
ADD_SHARE = 0.02

#: first scrape's stamp; scrape k is stamped BASE_SCRAPE_TIME + k hours
BASE_SCRAPE_TIME = datetime(2026, 1, 1)
_BASE_MTIME_MS = 1_700_000_000_000


def scrape_time(k: int) -> datetime:
    return BASE_SCRAPE_TIME + timedelta(hours=k)


def _mime(filename: str) -> str | None:
    """Expected mime_type of the lowercased text after the last '.';
    NULL when the name has no '.' or the extension is unknown."""
    if "." not in filename:
        return None
    return MIME_BY_EXT.get(filename.rsplit(".", 1)[1].lower())


@dataclass
class Row:
    """Expected ``external_file`` row; times in epoch microseconds."""

    mime_type: str | None
    created: int | None
    modified: int
    size: int
    deleted: int | None = None


@dataclass
class Tree:
    """A generated tree on disk plus its live-file state and the model.

    ``files`` maps a relative path to (size, mtime_ms); ``rows`` maps
    (dirname, filename) to the expected row after the latest scrape;
    ``ctimes`` holds each live file's observed ctime in microseconds.
    """

    root: str
    seed: int
    files: dict[str, tuple[int, int]] = field(default_factory=dict)
    ctimes: dict[str, int] = field(default_factory=dict)
    rows: dict[tuple[str, str], Row] = field(default_factory=dict)
    next_id: int = 0
    scrapes: int = 0

    # -- tree --------------------------------------------------------------

    def _new_relpath(self, rng: random.Random) -> str:
        i = self.next_id
        self.next_id += 1
        depth = rng.randint(0, 3)
        parts = [rng.choice(DIRS) for _ in range(depth)]
        name = f"{rng.choice(STEMS)}-{i}{rng.choice(SUFFIXES)}"
        return os.path.join(*parts, name) if parts else name

    def _write(self, rel: str, rng: random.Random, mtime_ms: int,
               empty: bool | None = None) -> None:
        if empty is None:
            empty = rng.random() < ZERO_BYTE_SHARE
        size = 0 if empty else rng.randint(1, 4096)
        full = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(rng.randbytes(size))
        os.utime(full, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))
        self.files[rel] = (size, mtime_ms)
        self.ctimes[rel] = os.stat(full).st_ctime_ns // 1_000

    def populate(self, n_files: int) -> None:
        """Write ``n_files`` files, of which max(1, 2%) are empty."""
        rng = random.Random(f"{self.seed}:populate")
        empty = set(rng.sample(range(n_files), max(1, round(n_files * ZERO_BYTE_SHARE))))
        for i in range(n_files):
            mtime = _BASE_MTIME_MS + rng.randint(0, 10**9)
            self._write(self._new_relpath(rng), rng, mtime, empty=i in empty)

    def churn(self) -> None:
        """One churn step: ~5% modified, ~2% deleted, ~2% added."""
        rng = random.Random(f"{self.seed}:churn:{self.scrapes}")
        live = sorted(self.files)
        n = len(live)
        picked = rng.sample(live, round(n * (MODIFY_SHARE + DELETE_SHARE)))
        n_mod = round(n * MODIFY_SHARE)
        for rel in picked[:n_mod]:
            self._write(rel, rng, self.files[rel][1] + rng.randint(1_000, 10**6))
        for rel in picked[n_mod:]:
            os.remove(os.path.join(self.root, rel))
            del self.files[rel]
            del self.ctimes[rel]
        for _ in range(round(n * ADD_SHARE)):
            mtime = _BASE_MTIME_MS + 10**9 + rng.randint(0, 10**9)
            self._write(self._new_relpath(rng), rng, mtime)

    # -- model -------------------------------------------------------------

    def key(self, rel: str) -> tuple[str, str]:
        full = os.path.join(self.root, rel)
        return os.path.dirname(full), os.path.basename(full)

    def apply_scrape(self) -> dict[str, int]:
        """Advance the model by one scrape of the current tree, stamped
        ``scrape_time(self.scrapes)``; returns the expected row counts.

        Mirrors the reference merge: insert new keys; update
        (mime, created, modified, size) only when (created, modified,
        size) changed; never reset ``deleted``; stamp every unseen row,
        including rows already deleted (the re-stamp quirk)."""
        stamp = _us(scrape_time(self.scrapes))
        counts = dict.fromkeys(
            ("inserted", "updated", "unchanged", "soft_deleted", "restamped"), 0
        )
        seen = set()
        for rel, (size, mtime_ms) in self.files.items():
            k = self.key(rel)
            seen.add(k)
            new = Row(_mime(k[1]), self.ctimes[rel], mtime_ms * 1000, size)
            old = self.rows.get(k)
            if old is None:
                self.rows[k] = new
                counts["inserted"] += 1
            elif (old.created, old.modified, old.size) != (
                new.created, new.modified, new.size
            ):
                new.deleted = old.deleted
                self.rows[k] = new
                counts["updated"] += 1
            else:
                counts["unchanged"] += 1
        for k, row in self.rows.items():
            if k in seen:
                continue
            counts["restamped" if row.deleted is not None else "soft_deleted"] += 1
            row.deleted = stamp
        self.scrapes += 1
        return counts

    def model_json(self) -> str:
        """The expected table after the latest scrape, without
        ``created``, keyed by path relative to the root."""
        rows = sorted(
            json.dumps([os.path.relpath(k[0], self.root), k[1], r.mime_type,
                        r.modified, r.size, r.deleted], ensure_ascii=False)
            for k, r in self.rows.items()
        )
        return "[" + ",\n".join(rows) + "]"

    def fingerprint(self) -> str:
        """Hash of the tree bytes, names, mtimes and the model without
        ``created`` -- everything the seed determines."""
        h = hashlib.sha256()
        for rel in sorted(self.files):
            full = os.path.join(self.root, rel)
            st = os.stat(full)
            h.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
            with open(full, "rb") as f:
                h.update(f.read())
        h.update(self.model_json().encode())
        return h.hexdigest()


def _us(dt: datetime) -> int:
    return (dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)
