"""The one way the package replaces a directory or a state file in place,
so that a failed or killed replacement never leaves readers with nothing.

A writer fills a hidden staging sibling, ``.{name}.staging-{uuid}``
(``staged``); ``swap`` renames the live target to ``.{name}.aside``,
renames staging into place, and deletes the aside. A failed write
deletes its staging directory; a failed second rename renames the aside
back. Hidden names keep both out of every Spark or Hadoop listing of
the parent. Every caller has a single writer, so a new write first
deletes stale staging siblings.

A process killed between the two renames leaves the aside and no
target; ``recover``, run before each write and by the callers' readers,
renames it back. If the target exists beside an aside, it may have been
recreated since (a restarted stream appends into a missing directory),
so ``recover`` raises ``RuntimeError`` naming both.

Renames are atomic only within one local filesystem, not on an object
store, so every path here is local (``local_dir``).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Iterator
from contextlib import contextmanager, suppress
from urllib.parse import urlparse


def local_dir(spark, path: str) -> str:
    """``path`` as an absolute path on a filesystem the driver and the
    workers share, or ``ValueError`` before any work: a ``file:`` URI (a
    local disk or a shared mount), or a path without a scheme on a local
    master whose ``fs.defaultFS`` is ``file:``. Other schemes (``s3a``,
    ``hdfs``, ...) are refused rather than written somewhere else."""
    parsed = urlparse(path)
    if parsed.scheme == "file" and parsed.netloc in ("", "localhost"):
        return os.path.abspath(parsed.path)
    if parsed.scheme:
        raise ValueError(f"{path!r} is not on a local or mounted filesystem; "
                         f"pass a file: URI or a path without a scheme")
    sc = spark.sparkContext
    default_fs = sc._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
    if not sc.master.startswith("local") or not default_fs.startswith("file:"):
        raise ValueError(f"cannot resolve {path!r} without a scheme on master "
                         f"{sc.master!r} with fs.defaultFS {default_fs!r}; "
                         f"pass a file: URI on a shared mount")
    return os.path.abspath(path)


def _sibling(target: str, tag: str) -> str:
    parent, name = os.path.split(os.path.normpath(target))
    return os.path.join(parent, f".{name}.{tag}")


def aside_path(target: str) -> str:
    return _sibling(target, "aside")


def staging_paths(target: str) -> list[str]:
    return glob.glob(_sibling(glob.escape(target), "staging-*"))


def _discard(path: str, target: str) -> None:
    """Delete ``path`` after renaming it to a fresh staging name: a task
    of a failed job can then no longer add to it by path, and a kill
    while deleting leaves only a stale staging sibling."""
    trash = _sibling(target, f"staging-{uuid.uuid4().hex}")
    os.rename(path, trash)
    if os.path.isdir(trash) and not os.path.islink(trash):
        shutil.rmtree(trash)
    else:
        os.remove(trash)


def recover(target: str) -> None:
    """Rename back an aside stranded by a kill between ``swap``'s
    renames; raise if ``target`` exists beside it."""
    aside = aside_path(target)
    if not os.path.lexists(aside):
        return
    if os.path.lexists(target):
        raise RuntimeError(
            f"{target!r} has an aside {aside!r} from a replacement killed "
            f"between its renames, and was written again since; keep the "
            f"complete one at {target!r}, delete the other, and rerun")
    os.rename(aside, target)


@contextmanager
def staged(target: str) -> Iterator[str]:
    """A new staging path for ``target``, deleted if the block raises
    and kept otherwise, for ``swap`` (or for inspection)."""
    recover(target)
    for stale in staging_paths(target):
        shutil.rmtree(stale)
    staging = _sibling(target, f"staging-{uuid.uuid4().hex}")
    try:
        yield staging
    except BaseException:
        with suppress(OSError):
            _discard(staging, target)
        raise


def swap(staging: str, target: str) -> None:
    aside = aside_path(target)
    live = os.path.lexists(target)
    if live:
        os.rename(target, aside)
    try:
        os.rename(staging, target)
    except BaseException:
        if live:
            os.rename(aside, target)
        raise
    if live:
        _discard(aside, target)


def write_dir(target: str, write):
    """Replace directory ``target`` with what ``write(staging)`` writes;
    returns what ``write`` returns."""
    with staged(target) as staging:
        result = write(staging)
        swap(staging, target)
    return result


def replace_file(path: str, text: str) -> None:
    """Replace file ``path`` with ``text``: a hidden temp file, ``fsync``,
    then ``os.replace``, atomic on POSIX."""
    tmp = _sibling(path, "tmp")
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with suppress(FileNotFoundError):
            os.remove(tmp)
        raise
