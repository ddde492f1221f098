"""Seekable filesystem abstraction for the file-level interop paths.

The reference processes one extract through a local ``FileStream``
(``OSM-pbf-convert/PbfFileProcessor.cs:24-40``); a 100 TB deployment
reads the same bytes from an object store. Everything the distributed
reader/writer needs is (a) ranged reads (seek+read -- the split
self-sync does a handful per split) and (b) whole-file streaming
writes, so this module maps URIs onto ``pyarrow.fs`` -- the public
Arrow filesystem layer already shipped with the engine's Arrow
dependency, with native S3/GCS/HDFS/Azure/local implementations --
and hands back seekable ``NativeFile`` objects that work identically
on executors and the driver (no JVM bridge in the data path).

Scheme routing:

- bare paths and ``file://`` -> ``LocalFileSystem`` (the fast path the
  other distributed readers use today);
- ``mock://<abs-path>`` -> a ``SubTreeFileSystem`` over the local
  root. This is the hermetic stand-in for an object store: it walks
  the exact generic-``FileSystem`` code path (URI parse -> fs object
  -> ranged ``open_input_file`` / ``open_output_stream``) that
  ``s3://`` takes, while staying filesystem-backed so tests need no
  network. Production correctness of the generic path is therefore
  test-covered even though the sandbox can't reach a real bucket;
- anything else -> ``pyarrow.fs.FileSystem.from_uri`` (``s3://``,
  ``gs://``, ``hdfs://``, ``abfs://``, ...). Unknown schemes (e.g. the
  Hadoop-only ``s3a://``) raise ``ArrowInvalid`` (a ``ValueError``):
  every reader and byte sink goes through this module, so they accept
  the same URIs and have no JVM fallback.
"""

from __future__ import annotations

import fnmatch
import glob as _glob
import os
import posixpath

MOCK_PREFIX = "mock://"


def resolve(path: str):
    """``(FileSystem, fs_path, uri_prefix)`` for ``path``.

    ``uri_prefix + fs_path`` reconstructs a URI this module resolves
    back to the same file (used by glob expansion and directory sinks).
    """
    import pyarrow.fs as pafs

    if path.startswith(MOCK_PREFIX):
        rel = path[len(MOCK_PREFIX):].lstrip("/")
        return (
            pafs.SubTreeFileSystem("/", pafs.LocalFileSystem()),
            rel,
            MOCK_PREFIX + "/",
        )
    if path.startswith("file://"):
        return pafs.LocalFileSystem(), path[len("file://"):], "file://"
    if "://" not in path:
        return pafs.LocalFileSystem(), path, ""
    fs, fs_path = pafs.FileSystem.from_uri(path)
    scheme = path.split("://", 1)[0]
    return fs, fs_path, scheme + "://"


def file_size(path: str) -> int:
    fs, p, _ = resolve(path)
    info = fs.get_file_info(p)
    import pyarrow.fs as pafs

    if info.type != pafs.FileType.File:
        raise FileNotFoundError(path)
    return info.size


def open_seekable(path: str):
    """Random-access input file (``seek``/``read``); context manager."""
    fs, p, _ = resolve(path)
    return fs.open_input_file(p)


def open_output(path: str):
    """Streaming output (``write``); context manager. Parent dirs are
    the caller's responsibility (see ``makedirs``)."""
    fs, p, _ = resolve(path)
    return fs.open_output_stream(p)


def makedirs(path: str) -> None:
    """Recursive create-dir; a no-op where the store has no
    directories (object-store flavors)."""
    fs, p, _ = resolve(path)
    try:
        fs.create_dir(p, recursive=True)
    except NotImplementedError:  # pure-object stores
        pass


def _match_glob(path: str, pattern: str) -> bool:
    """Glob match with standard separator semantics: ``*``/``?``/``[..]``
    stay within ONE path segment (plain ``fnmatch`` would let ``*``
    cross ``/``, silently pulling nested files into a ``dir/*.pbf``
    listing); a whole-segment ``**`` matches any number of segments."""
    def rec(ps: list[str], pp: list[str]) -> bool:
        if not pp:
            return not ps
        if pp[0] == "**":
            return any(rec(ps[i:], pp[1:]) for i in range(len(ps) + 1))
        return bool(ps) and fnmatch.fnmatch(ps[0], pp[0]) and rec(ps[1:], pp[1:])

    return rec(path.split("/"), pattern.split("/"))


def expand_glob(pattern: str) -> list[str]:
    """Expand one path-or-glob into sorted concrete URIs (scheme kept).

    Local patterns use ``glob``; remote schemes list the deepest
    magic-free parent recursively and match against it, which is how
    object-store listings support wildcards (prefix scan + client
    filter). Matching is per path segment on both branches (``*`` never
    crosses ``/``; ``**`` recurses), so a ``mock://`` or ``s3://``
    pattern selects exactly the files the local branch would."""
    fs, p, prefix = resolve(pattern)
    if not _glob.has_magic(p):
        return [pattern]
    if prefix in ("", "file://"):
        return [prefix + m for m in sorted(_glob.glob(p))]
    import pyarrow.fs as pafs

    base = p
    while _glob.has_magic(base):
        base = posixpath.dirname(base)
    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    hits = [
        i.path
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File and _match_glob(i.path, p)
    ]
    return [prefix + h for h in sorted(hits)]


def is_local(path: str) -> bool:
    """True when ``path`` is served by the OS filesystem directly
    (callers may then use plain ``open``/``os`` fast paths)."""
    return "://" not in path or path.startswith("file://")


def local_path(path: str) -> str:
    """Strip ``file://``; raises for non-local schemes."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if "://" in path:
        raise ValueError(f"not a local path: {path!r}")
    return path


def mock_uri(local: str) -> str:
    """The ``mock://`` URI for a local absolute path. Kept beside the
    ``mock://`` filesystem this module registers; tests use it to drive
    the object-store IO paths."""
    return MOCK_PREFIX + "/" + os.path.abspath(local).lstrip("/")
