"""Versioned, immutable on-disk artifacts derived from an input table.

Derived artifacts (the persisted LSH band index, the rendered streaming
feeds) are pure functions of their inputs, so they are built once and
shared by every session that reads the same input. The rule that makes
sharing safe: a published path is never changed again.

Layout::

    spark-warehouse/<name>_<tag>.lock          flock, held only while building
    spark-warehouse/<name>_<tag>/<version>/    one published build
    spark-warehouse/<name>_<tag>/<version>/_meta.json
    spark-warehouse/<name>_<tag>/.build-*/     a build in progress (or crashed)

``<tag>`` is the input directory with every non-alphanumeric character
replaced by ``_`` (so tools can find and remove every artifact of one
input by name), and ``<version>`` is a short hash of the wanted
fingerprint (build parameters + ``corpus_fingerprint`` of the input). A
build writes into a dot-prefixed temp dir, writes ``_meta.json`` last
and publishes with one ``os.rename``; a changed input publishes a new
version beside the old one, so a reader holding an older version keeps
reading it. Under the build lock the ``RETAIN`` newest versions survive
and older versions and leftover temp dirs are removed.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable

WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)
META = "_meta.json"
# Published versions kept per artifact root: the one just built plus the
# one before it, which a session that looked it up just before the
# rebuild may still be reading.
RETAIN = 2


def tag(sf_dir: str) -> str:
    """The input directory as a valid unquoted SQL identifier suffix."""
    return "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))


def root(name: str, sf_dir: str) -> str:
    """Artifact root for ``name`` derived from the input ``sf_dir``. It is
    anchored in the repo's spark-warehouse whatever the caller's cwd."""
    return os.path.join(WAREHOUSE, f"{name}_{tag(sf_dir)}")


def corpus_fingerprint(sf_dir: str, existing, table: str = "documents") -> dict:
    """Staleness fingerprint for an artifact derived from ``table``:
    source-table row count plus file size/mtime plus a CONTENT signal
    digested from the parquet FOOTER (per-row-group column statistics —
    min/max, null/value counts, compressed sizes — and the writer id).
    All of it is O(footers), never a data scan: a full content hash
    would be exact but costs an O(corpus) text scan per invocation,
    defeating the O(batch) contract the band index exists for. The
    footer digest closes the mtime-proxy hole (a corpus regenerated to
    the same byte size with a preserved mtime, e.g. cp -p restore) for
    any change that moves a column's stats — only a regeneration that
    keeps every row-group's min/max/sizes identical slips through, which
    for text corpora means the content is in fact unchanged."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    files = (
        sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if os.path.isdir(path)
        else [path]
    )
    h = hashlib.md5()
    n_rows = None
    try:
        import pyarrow.parquet as pq

        n_rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            h.update(repr((f.rsplit("/", 1)[-1], md.created_by, md.num_rows)).encode())
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    s = c.statistics
                    h.update(
                        repr(
                            (
                                c.path_in_schema,
                                c.total_compressed_size,
                                s.num_values if s else None,
                                s.null_count if s else None,
                                str(s.min)[:64] if s and s.has_min_max else None,
                                str(s.max)[:64] if s and s.has_min_max else None,
                            )
                        ).encode()
                    )
        footer_sig = h.hexdigest()
    except Exception:  # noqa: BLE001 — footer unreadable: fall back to stat-only
        footer_sig = None
        n_rows = None
    # n_docs comes from the SAME footers the digest already read
    # (parquet num_rows is exact), not a Spark count(); the Spark job
    # only runs in the footer-unreadable fallback.
    return {
        "corpus": sf_dir,
        "n_docs": n_rows if n_rows is not None else existing.count(),
        "bytes": st.st_size,
        "mtime_ns": st.st_mtime_ns,
        "footer_sig": footer_sig,
    }


def version(want: dict) -> str:
    """Directory name of the build matching ``want``."""
    return hashlib.sha1(json.dumps(want, sort_keys=True).encode()).hexdigest()[:12]


def lookup(root: str, want: dict) -> str | None:
    """The published version dir for ``want``, or None when absent or
    its meta does not match (an absent/truncated meta is a stale build)."""
    path = os.path.join(root, version(want))
    try:
        with open(os.path.join(path, META)) as f:
            # JSON round-trip: compare what a reader of the meta file
            # sees (tuples -> lists etc.).
            return path if json.load(f) == json.loads(json.dumps(want)) else None
    except (OSError, ValueError):
        return None


@contextlib.contextmanager
def _locked(root: str):
    """Cross-process build lock on ``<root>.lock``.

    ``flock`` on a persistent lock file, NOT a create/unlink PID file:
    the kernel releases the lock when the holder dies (no stale-age
    heuristic that could steal the lock from a live build),
    acquisition blocks for as long as a legitimate holder runs, and
    there is no stat-then-remove window where two waiters could both
    claim a stale lock. The lock file itself is never unlinked (unlink
    would re-open the classic flock race: a waiter holding an fd to the
    unlinked inode locks a file nobody else can see)."""
    import fcntl

    os.makedirs(os.path.dirname(root), exist_ok=True)
    fd = os.open(root + ".lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _published_at(path: str) -> int:
    try:
        return os.stat(os.path.join(path, META)).st_mtime_ns
    except OSError:
        return -1  # no meta: an unfinished or corrupt version, oldest


def publish(root: str, want: dict, build: Callable[[str], None]) -> tuple[str, bool]:
    """The version dir for ``want`` under ``root``, built by
    ``build(tmp_dir)`` when no matching version is published yet.

    The lock-free lookup is the fast path; a miss takes the build lock
    and looks again, so concurrent sessions build once and the others
    wait and reuse. Returns ``(path, built)``."""
    path = lookup(root, want)
    if path is not None:
        return path, False
    with _locked(root):
        path = lookup(root, want)  # a concurrent session built it while we waited
        if path is not None:
            return path, False
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
        build(tmp)
        with open(os.path.join(tmp, META), "w") as f:
            json.dump(want, f)
        path = os.path.join(root, version(want))
        if os.path.isdir(path):  # same version, meta corrupt: no reader can hold it
            shutil.rmtree(path)
        os.rename(tmp, path)
        versions = []
        for e in os.scandir(root):
            if e.name.startswith("."):  # a crashed build's temp dir
                shutil.rmtree(e.path, ignore_errors=True)
            elif e.is_dir():
                versions.append((_published_at(e.path), e.path))
        for _, old in sorted(versions, reverse=True)[RETAIN:]:
            shutil.rmtree(old, ignore_errors=True)
        return path, True
