"""Bind-time filesystem abstraction (local fast path + Hadoop FileSystem).

The reference routes ALL bind-time I/O through DuckDB's FileSystem
abstraction — glob expansion via the MultiFile layer
(saygox/duckdb-httpd-log `src/httpd_log_multi_file_info.cpp:90-109`) and
compression auto-detect inside the file opener
(`src/httpd_log_buffered_reader.cpp:6`) — so `read_httpd_log` works on
any filesystem the host has registered (s3://, hdfs://, ...), not just
the driver's local disk.

The Spark-native equivalent of that abstraction is Hadoop's
`FileSystem` API, reached driver-side through the JVM gateway: any URI
scheme the *executors* can scan (`file:`, `hdfs:`, `s3a:`, `gs:`,
`abfs:`, `wasb:`, ...) resolves driver-side through the very same
`Path.getFileSystem(hadoopConf)` call, so bind-time sampling and glob
expansion automatically agree with what the cluster can read — no
second credential/config path to keep in sync.

Scheme routing:
- no scheme  -> plain-Python `os`/`glob`/`open` (no JVM round-trips);
- any scheme (including `file:`) -> Hadoop FileSystem via the gateway.
"""

from __future__ import annotations

import glob as _glob
import gzip as _gzip
import io
import os
import re
from typing import Iterator, Optional, Sequence, Union
from urllib.parse import urlsplit

from pyspark.sql import SparkSession

PathLike = Union[str, Sequence[str]]

# URI scheme per RFC 3986 (single-letter "schemes" are Windows drive
# letters, not schemes — require >= 2 chars like Hadoop's Path does).
# `://` is optional: Hadoop canonicalizes file URIs to `file:/path`.
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]+):")

_GLOB_CHARS = "*?[{"


def scheme_of(path: str) -> Optional[str]:
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def has_scheme(path: str) -> bool:
    return scheme_of(path) is not None


def _glob_to_regex(pattern: str, match_descendants: bool = False) -> re.Pattern:
    """Translate a glob into a regex with directory-aware semantics —
    the semantics the reference's multi-file layer and local
    `glob.glob(recursive=True)` share: `*` / `?` / `[...]` never cross
    `/`, a whole `**` segment matches any number of segments (including
    zero, so `data/**/*.log` also hits `data/x.log` — pinned by
    reference `test/sql/multi_file/glob_patterns.test:39-49`), and
    Hadoop-style `{a,b}` alternation is honored. With
    `match_descendants`, a path under a matched directory also matches
    (mirrors the Hadoop branch where glob-hit directories recurse)."""
    i, n = 0, len(pattern)
    out: list[str] = []
    while i < n:
        c = pattern[i]
        if c == "*":
            whole_segment = (i == 0 or pattern[i - 1] == "/") and (
                i + 2 == n or pattern[i + 2 : i + 3] == "/"
            )
            if pattern[i : i + 2] == "**" and whole_segment:
                if i + 2 == n:
                    out.append(".*")
                    i += 2
                else:  # '**/' -> zero or more whole segments
                    out.append("(?:[^/]*/)*")
                    i += 3
            else:
                out.append("[^/]*")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            j = i + 1
            if j < n and pattern[j] in "!^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            while j < n and pattern[j] != "]":
                j += 1
            if j >= n:  # unterminated class: literal '['
                out.append(re.escape(c))
                i += 1
            else:
                inner = pattern[i + 1 : j].replace("\\", "\\\\")
                if inner.startswith("!"):
                    inner = "^" + inner[1:]
                out.append(f"[{inner}]")
                i = j + 1
        elif c == "{":
            j = pattern.find("}", i)
            if j < 0:
                out.append(re.escape(c))
                i += 1
            else:
                alts = pattern[i + 1 : j].split(",")
                out.append("(?:" + "|".join(re.escape(a) for a in alts) + ")")
                i = j + 1
        else:
            out.append(re.escape(c))
            i += 1
    suffix = r"(?:/.*)?\Z" if match_descendants else r"\Z"
    return re.compile("".join(out) + suffix)


def _uri_path(uri: str) -> str:
    """The path component of a URI, canonicalization-insensitive
    (`file:///x`, `file:/x`, and `s3a://bucket/x` all compare on the
    part after scheme+authority). Hand-rolled rather than urlsplit so
    glob metacharacters (`?`, `#`) survive — urlsplit would treat them
    as query/fragment separators."""
    rest = _SCHEME_RE.sub("", uri, count=1)
    if rest.startswith("//"):
        rest = rest[2:]
        slash = rest.find("/")
        rest = rest[slash:] if slash >= 0 else "/"
    return rest


def _session_or_none(spark: Optional[SparkSession]) -> Optional[SparkSession]:
    return spark or SparkSession.getActiveSession()


# pyarrow URI schemes differ from Hadoop's for two filesystems
_PA_SCHEME_MAP = {"s3a": "s3", "gs": "gcs"}


def _pyarrow_fs(path: str):
    """(pyarrow FileSystem, fs-relative path, original scheme, URI
    authority) — the session-less fallback used where no JVM gateway
    exists (Python workers, e.g. raw mode's per-file line streamer)."""
    import pyarrow.fs as pafs

    scheme = scheme_of(path)
    uri = re.sub(
        r"^([A-Za-z][A-Za-z0-9+.\-]+):",
        lambda m: _PA_SCHEME_MAP.get(m.group(1).lower(), m.group(1)) + ":",
        path,
    )
    fs, rel = pafs.FileSystem.from_uri(uri)
    netloc = urlsplit(path).netloc
    return fs, rel, scheme, netloc


def _pa_uri(scheme: str, netloc: str, fs_path: str) -> str:
    """Rebuild a scheme-qualified URI from a pyarrow fs-relative path.
    Object stores keep the bucket inside the fs path (s3a://bucket/key),
    local paths are absolute (file:///...), but host-addressed
    filesystems (hdfs://host:port/...) lose the authority in pyarrow's
    relative path — re-attach it so the URIs round-trip."""
    if netloc and not (fs_path == netloc or fs_path.startswith(netloc + "/")):
        return f"{scheme}://{netloc}{'' if fs_path.startswith('/') else '/'}{fs_path}"
    return f"{scheme}://{fs_path}"


def _expand_remote_pyarrow(pattern: str) -> list[str]:
    """Glob/dir/file expansion through pyarrow.fs: recursively list the
    deepest non-glob directory prefix and match each path with the same
    separator-aware `_glob_to_regex` the Hadoop route uses, so the file
    set cannot depend on whether a SparkSession was reachable."""
    import pyarrow.fs as pafs

    if not any(ch in pattern for ch in _GLOB_CHARS):
        fs, rel, scheme, netloc = _pyarrow_fs(pattern)
        info = fs.get_file_info(rel)
        if info.type == pafs.FileType.NotFound:
            return []
        if info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(rel, recursive=True)
            return [
                _pa_uri(scheme, netloc, i.path)
                for i in fs.get_file_info(sel)
                if i.type == pafs.FileType.File
            ]
        return [_pa_uri(scheme, netloc, info.path)]
    fs, rel, scheme, netloc = _pyarrow_fs(_glob_base_dir(pattern))
    info = fs.get_file_info(rel)
    if info.type != pafs.FileType.Directory:
        return []
    sel = pafs.FileSelector(rel, recursive=True)
    # match on the URI path component so local-absolute and
    # bucket-relative listings compare against the same pattern shape
    rx = _glob_to_regex(_uri_path(pattern), match_descendants=True)
    out = []
    for i in fs.get_file_info(sel):
        if i.type != pafs.FileType.File:
            continue
        uri = _pa_uri(scheme, netloc, i.path)
        if rx.match(_uri_path(uri)):
            out.append(uri)
    return out


def _fs_for(spark: SparkSession, path: str):
    """(jvm, hadoop FileSystem, hadoop Path) for a URI."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _list_files_recursive(fs, jpath) -> list[str]:
    out: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return out


def _glob_base_dir(pattern: str) -> str:
    """Deepest directory prefix of a pattern that contains no glob
    metacharacter (`s3a://b/data/**/*.log` -> `s3a://b/data`)."""
    first_glob = min(pattern.index(c) for c in _GLOB_CHARS if c in pattern)
    return pattern[:first_glob].rsplit("/", 1)[0]


def expand_remote(spark: Optional[SparkSession], pattern: str) -> list[str]:
    """Expand one scheme-qualified pattern (glob / directory / file) into
    full URIs, mirroring the local `expand_paths` semantics: directories
    recurse, globs expand (glob hits that are directories recurse too),
    missing paths yield []. With no SparkSession in reach (Python
    workers have no JVM gateway) the expansion falls back to pyarrow.fs
    — same glob semantics either way (`_glob_to_regex`)."""
    spark = _session_or_none(spark)
    if spark is None:
        return _expand_remote_pyarrow(pattern)
    jvm, fs, jpath = _fs_for(spark, pattern)
    files: list[str] = []
    if "**" in pattern:
        # Hadoop's globStatus has no recursive '**' (a `**` there is
        # just `*`, one directory level) while the local path recurses
        # — route through one recursive listing of the deepest non-glob
        # prefix + separator-aware regex so every backend agrees.
        base = jvm.org.apache.hadoop.fs.Path(_glob_base_dir(pattern))
        if fs.exists(base):
            rx = _glob_to_regex(_uri_path(pattern), match_descendants=True)
            files.extend(
                uri
                for uri in _list_files_recursive(fs, base)
                if rx.match(_uri_path(uri))
            )
    elif any(ch in pattern for ch in _GLOB_CHARS):
        statuses = fs.globStatus(jpath)
        if statuses is not None:
            for st in statuses:
                if st.isDirectory():
                    files.extend(_list_files_recursive(fs, st.getPath()))
                else:
                    files.append(st.getPath().toString())
    else:
        if fs.exists(jpath):
            st = fs.getFileStatus(jpath)
            if st.isDirectory():
                files.extend(_list_files_recursive(fs, jpath))
            else:
                files.append(st.getPath().toString())
    return files


def _expand_local(p: str) -> list[str]:
    files: list[str] = []
    if os.path.isdir(p):
        for root, _dirs, names in os.walk(p):
            files.extend(os.path.join(root, f) for f in sorted(names))
    elif any(ch in p for ch in "*?["):
        files.extend(sorted(_glob.glob(p, recursive=True)))
    elif os.path.exists(p):
        files.append(p)
    return files


def expand_paths(path: PathLike, spark: Optional[SparkSession] = None) -> list[str]:
    """Expand glob patterns / directories into a sorted, deduped file
    list. Scheme-less patterns use plain Python (no JVM); anything with
    a URI scheme resolves through Hadoop's FileSystem (same code path
    the executors will scan with). Mixed lists are fine."""
    patterns = [path] if isinstance(path, str) else list(path)
    files: list[str] = []
    for p in patterns:
        if has_scheme(p):
            files.extend(expand_remote(spark, p))
        else:
            files.extend(_expand_local(p))
    return sorted(dict.fromkeys(files))


def read_head(spark: Optional[SparkSession], path: str, n: int) -> bytes:
    """First <= n bytes of a file on any filesystem (local: plain open)."""
    if not has_scheme(path):
        with open(path, "rb") as fh:
            return fh.read(n)
    spark = _session_or_none(spark)
    if spark is None:
        fs, rel, _, _ = _pyarrow_fs(path)
        with fs.open_input_stream(rel) as stream:
            return stream.read(n)
    jvm, fs, jpath = _fs_for(spark, path)
    stream = fs.open(jpath)
    try:
        # commons-io is on Spark's classpath; BoundedInputStream caps the
        # read so a multi-GB remote file costs one ranged request, and
        # toByteArray returns byte[] which py4j hands back as bytes.
        bounded = jvm.org.apache.commons.io.input.BoundedInputStream(stream, n)
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(bounded)
        return bytes(data)
    finally:
        stream.close()


def read_all(spark: Optional[SparkSession], path: str) -> bytes:
    """Whole file as bytes (for small config files on any filesystem)."""
    if not has_scheme(path):
        with open(path, "rb") as fh:
            return fh.read()
    spark = _session_or_none(spark)
    if spark is None:
        fs, rel, _, _ = _pyarrow_fs(path)
        with fs.open_input_stream(rel) as stream:
            return stream.read()
    jvm, fs, jpath = _fs_for(spark, path)
    stream = fs.open(jpath)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


_STREAM_CHUNK = 1 << 21  # 2 MiB, the reference's buffer size
# (src/httpd_log_buffered_reader.cpp:5-57)


def _iter_byte_lines(chunks: "Iterator[bytes]") -> Iterator[tuple[int, str]]:
    """(1-based line_number, CR-stripped line) pairs from a byte-chunk
    stream. Splitting on b'\\n' BEFORE decoding is safe: 0x0A never
    appears inside a UTF-8 multi-byte sequence, so a code point split
    across chunks always reassembles within its line. A trailing
    newline produces no phantom final line."""
    buf = b""
    i = 0
    for chunk in chunks:
        if not chunk:
            continue
        buf += chunk
        parts = buf.split(b"\n")
        buf = parts.pop()
        for part in parts:
            i += 1
            yield i, part.decode("utf-8", errors="replace").rstrip("\r")
    if buf:
        i += 1
        yield i, buf.decode("utf-8", errors="replace").rstrip("\r")


def _iter_remote_lines(fname: str) -> Iterator[tuple[int, str]]:
    """Streamed lines via pyarrow.fs — usable on EXECUTORS (Python
    workers have no JVM gateway, so the Hadoop FileSystem route used at
    bind time is not available here). Memory is O(chunk), never
    O(file): raw-mode reads of multi-GB remote logs stream through the
    same 2 MiB buffer as local ones. gzip is inflated incrementally
    (multi-member aware, like gzip.decompress)."""
    import zlib

    fs, rel, _, _ = _pyarrow_fs(fname)
    with fs.open_input_stream(rel) as stream:
        first = stream.read(2)

        def raw_chunks():
            if first:
                yield first
            while True:
                c = stream.read(_STREAM_CHUNK)
                if not c:
                    break
                yield c

        if first == b"\x1f\x8b":

            def gz_chunks():
                d = zlib.decompressobj(wbits=31)
                data = first
                while True:
                    if not data:
                        data = stream.read(_STREAM_CHUNK)
                        if not data:
                            break
                    if d.eof:  # next gzip member in a concatenated file
                        d = zlib.decompressobj(wbits=31)
                    out = d.decompress(data)
                    if out:
                        yield out
                    data = d.unused_data
                if not d.eof:
                    # stream ended mid-member: match the local gzip.open
                    # path (and gzip.decompress) instead of silently
                    # yielding a truncated tail
                    raise EOFError(f"truncated gzip stream: {fname}")

            chunks = gz_chunks()
        else:
            chunks = raw_chunks()
        yield from _iter_byte_lines(chunks)


def iter_log_lines(fname: str) -> Iterator[tuple[int, str]]:
    """(1-based line_number, CR-stripped line) pairs; gzip sniffed by
    magic bytes like the reference's AUTO_DETECT compression. Paths with
    a URI scheme stream through pyarrow.fs (file/s3/hdfs/gcs); local
    paths stream through buffered python I/O. Either way memory is
    bounded by the 2 MiB buffer, never file size."""
    if has_scheme(fname):
        yield from _iter_remote_lines(fname)
        return
    with open(fname, "rb") as fh:
        magic = fh.read(2)
    if magic == b"\x1f\x8b":
        stream = io.TextIOWrapper(_gzip.open(fname, "rb"), encoding="utf-8", errors="replace")
    else:
        stream = open(fname, "r", encoding="utf-8", errors="replace")
    with stream:
        for i, line in enumerate(stream, start=1):
            yield i, line.rstrip("\n").rstrip("\r")


def file_sigs(
    spark: Optional[SparkSession], files: list[str]
) -> list[Optional[tuple]]:
    """Per-file ``(mtime, size)`` aligned with ``files``, statted NOW,
    with mtime in epoch milliseconds (UTC) for every scheme — the one
    source of file mtimes for pruning (sources/pushdown.py) and the
    freshness key of the column stats (sources/colstats.py). An
    unavailable entry is None (callers must treat it as 'unknown —
    never prune'). Local paths are one os.stat each; scheme-qualified
    paths (s3a/hdfs/viewfs/...) are batched ONE Hadoop listStatus per
    parent directory — a rotated-log dir of 1000 files costs one LIST
    RPC instead of 1000 per-file HEADs — with a per-file getFileStatus
    fallback for anything the parent listing missed."""
    remote = {f for f in files if has_scheme(f) and scheme_of(f) != "file"}
    s = _session_or_none(spark) if remote else None
    remote_sigs: dict[str, tuple] = {}
    if s is not None:
        for parent in {f.rsplit("/", 1)[0] for f in remote}:
            try:
                _jvm, hfs, jpath = _fs_for(s, parent)
                for st in hfs.listStatus(jpath):
                    remote_sigs[st.getPath().toString()] = (
                        st.getModificationTime(),
                        st.getLen(),
                    )
            except Exception:
                continue  # per-file fallback below
    out: list = []
    for f in files:
        try:
            if f not in remote:
                st = os.stat(_uri_path(f) if has_scheme(f) else f)
                out.append((st.st_mtime_ns // 1_000_000, st.st_size))
            elif f in remote_sigs:
                out.append(remote_sigs[f])
            elif s is None:
                out.append(None)
            else:
                _jvm, hfs, jpath = _fs_for(s, f)
                st = hfs.getFileStatus(jpath)
                out.append((st.getModificationTime(), st.getLen()))
        except Exception:
            out.append(None)
    return out
