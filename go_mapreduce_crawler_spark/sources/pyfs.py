"""Pluggable FileSystem seam — parity with the reference's
``fs.FileSystem`` interface (reference internal/fs/filesystem.go:19-41),
the test seam its whole error-injection matrix runs through
(crawler_test.go:395-455 uses a gomock FileSystem).

The Spark-native read path (``Crawler.read_records``) subsumes every
filesystem Spark has a connector for (local/HDFS/S3/...), so this seam
exists for the same two reasons the reference's does: custom/virtual
filesystems, and deterministic fault injection in tests.  Implementations
must be PICKLABLE — the object rides to executor tasks in the
``mapInPandas`` closure (the Spark analogue of the reference handing the
FileSystem to every worker goroutine).

Contract (mirrors filesystem.go):

* ``read_dir(path) -> (dirs, files)`` — one directory level, absolute
  child paths (the reference's ReadDir + DirEntry split,
  crawler.go:138-152).  May raise; the crawler records the error and
  continues (readdir-error/readdir-panic kinds).
* ``open(path) -> bytes`` — whole-file contents (the reference's
  one-JSON-object-per-file model reads the full stream,
  crawler.go:189-199).  May raise; the crawler substitutes the neutral
  element and records the error (open-error/read-error kinds).
* ``join(*parts) -> str`` — path join (filesystem.go Join).

The two loops every seam consumer shares live here: ``walk`` (the
listing — ``Crawler.collect`` and the ``crawl`` data source's batch and
stream readers) and ``read_files`` (the reads — the same three callers).
Neither decodes anything: the crawler decodes the bytes in Spark, the
data source hands them to the query as the ``content`` column.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, Iterator, Protocol, runtime_checkable


@runtime_checkable
class FileSystem(Protocol):
    def read_dir(self, path: str) -> tuple[list[str], list[str]]: ...

    def open(self, path: str) -> bytes: ...

    def join(self, *parts: str) -> str: ...


@runtime_checkable
class WritableFileSystem(FileSystem, Protocol):
    """FileSystem + the write half (the reference is read-only; the
    engine's crawl SINK needs these two)."""

    def mkdirs(self, path: str) -> None: ...

    def write(self, path: str, data: bytes) -> None: ...

    def delete(self, path: str) -> None: ...

    def rename(self, src: str, dst: str) -> None:
        """Move a file without rewriting its bytes.  The sink's commit
        publishes staged task files with this — metadata-only on
        POSIX/HDFS, so the batch payload never funnels through the
        driver.  Object stores without native rename may implement it
        as server-side copy + delete; it still runs one call per FILE,
        not one byte-stream per file through the committer."""
        ...


class LocalFileSystem:
    """The default implementation (reference internal/fs/os.go)."""

    def read_dir(self, path: str) -> tuple[list[str], list[str]]:
        dirs: list[str] = []
        files: list[str] = []
        for entry in os.scandir(path):
            if entry.is_dir(follow_symlinks=False):
                dirs.append(entry.path)
            else:
                files.append(entry.path)
        return dirs, files

    def open(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def stat(self, path: str) -> tuple[int, int]:
        """(size_bytes, mtime_ns) — OPTIONAL protocol extension: the
        crawl stream's settle mode fingerprints not-yet-admitted files
        with it (crawl_source.CrawlStreamReader); filesystems without it
        fall back to the atomic write-then-rename producer contract."""
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def write(self, path: str, data: bytes) -> None:
        with open(path, "wb") as f:
            f.write(data)

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)


def walk(
    fs: FileSystem,
    root: str,
    workers: int = 1,
    descend: Callable[[str], bool] | None = None,
) -> tuple[list[str], list[tuple[str, str]]]:
    """Level-synchronous BFS through the seam (the reference's List +
    Searcher, pool.go:168-196 and crawler.go:113-155).

    Each level's directories are listed by up to ``workers`` threads; the
    next level starts only once every listing of this one has returned —
    the reference's ``wg.Wait()`` barrier (pool.go:182).  Returns sorted
    ``(files, errors)``, errors as ``(dir_path, message)`` pairs: a
    raising ``read_dir`` (readdir-error/readdir-panic kinds,
    crawler_test.go:417-427) skips that subtree and the walk continues.
    ``descend(dir) -> bool`` prunes subtrees (filter pushdown)."""
    def list_dir(d: str):
        try:
            return fs.read_dir(d), None
        except Exception as ex:  # readdir-error/panic -> recorded
            return None, (d, f"{d}: {ex}")

    files: list[str] = []
    errors: list[tuple[str, str]] = []
    frontier = [root] if descend is None or descend(root) else []
    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        while frontier:
            nxt: list[str] = []
            for listing, err in pool.map(list_dir, frontier):
                if err is not None:
                    errors.append(err)
                    continue
                dirs, fls = listing
                nxt.extend(s for s in dirs if descend is None or descend(s))
                files.extend(fls)
            frontier = nxt
    return sorted(files), sorted(errors)


def read_files(
    fs: FileSystem, paths: Iterable[str],
) -> Iterator[tuple[str, bytes | None, str | None]]:
    """``(path, content, error)`` per path, in order.  A raising ``open``
    (open-error/open-panic kinds) yields null content and an
    ``open error: …`` message, and the loop moves on to the next file."""
    for path in paths:
        try:
            yield path, fs.open(path), None
        except Exception as ex:
            yield path, None, f"open error: {path}: {ex}"
