"""Property tests for the bind-time filesystem layer and hive-partition
key extraction — pure Python, no SparkSession."""

import string

from hypothesis import given
from hypothesis import strategies as st

from duckdb_httpd_log_spark.sources import fs as FS
from duckdb_httpd_log_spark.sources.reader import _hive_partition_keys

SCHEMES = ["s3a", "hdfs", "gs", "abfs", "wasb", "file", "s3"]


@given(st.sampled_from(SCHEMES), st.text(alphabet=string.ascii_lowercase + "/.-_", min_size=1))
def test_scheme_roundtrip(scheme, rest):
    assert FS.scheme_of(f"{scheme}://{rest}") == scheme


@given(st.text(alphabet=string.ascii_lowercase + string.digits + "/.-_ ", min_size=0))
def test_plain_paths_never_have_scheme(path):
    # paths without a colon can never be classified as remote
    if ":" not in path:
        assert FS.scheme_of(path) is None
        assert FS.scheme_of("/" + path) is None


@given(st.sampled_from(string.ascii_uppercase))
def test_drive_letters_are_not_schemes(letter):
    assert FS.scheme_of(f"{letter}:/logs/x.log") is None
    assert FS.scheme_of(f"{letter}:\\logs\\x.log") is None


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5),
            st.text(alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=5),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda kv: kv[0],
    ),
    st.integers(min_value=1, max_value=4),
)
def test_hive_keys_extracted_in_order(kvs, nfiles):
    segs = "/".join(f"{k}={v}" for k, v in kvs)
    files = [f"/base/{segs}/part{i}.log" for i in range(nfiles)]
    assert _hive_partition_keys(files) == [k for k, _v in kvs]


def test_hive_keys_mismatch_raises():
    import pytest

    with pytest.raises(ValueError, match="differ"):
        _hive_partition_keys(["/b/date=1/x.log", "/b/host=a/y.log"])


def test_hive_keys_none_raises():
    import pytest

    with pytest.raises(ValueError, match="no key=value"):
        _hive_partition_keys(["/plain/dir/x.log"])


# ---------------------------------------------------------------------------
# glob -> regex translator: property-checked against Python's
# glob.glob(recursive=True) ground truth over generated trees (the
# local backend IS the semantics contract the remote backends must
# match; see test_remote_fs.py for the three-backend integration runs)
# ---------------------------------------------------------------------------
_NAMES = ["a", "b", "ab", "a1", "log", "x.log", "y.log", "x.txt", "data"]


@st.composite
def _tree_and_pattern(draw):
    # a small random tree: list of relative file paths (depth <= 3)
    n = draw(st.integers(min_value=1, max_value=6))
    files = set()
    for _ in range(n):
        depth = draw(st.integers(min_value=1, max_value=3))
        parts = [draw(st.sampled_from(_NAMES)) for _ in range(depth)]
        files.add("/".join(parts))
    # a pattern built from glob atoms
    pdepth = draw(st.integers(min_value=1, max_value=3))
    atoms = []
    for _ in range(pdepth):
        atoms.append(
            draw(
                st.sampled_from(
                    ["*", "**", "?", "a*", "*.log", "x?log", "[ab]", "a", "log", "data"]
                )
            )
        )
    return sorted(files), "/".join(atoms)


@given(_tree_and_pattern())
def test_glob_regex_matches_python_glob(tp):
    import glob as pyglob
    import os
    import tempfile

    files, pattern = tp
    with tempfile.TemporaryDirectory() as td:
        for f in files:
            p = os.path.join(td, f)
            # a name may appear as both a file and a directory across
            # generated paths — skip the conflicting ones, the surviving
            # tree is still a valid fixture
            try:
                os.makedirs(os.path.dirname(p), exist_ok=True)
                if not os.path.isdir(p):
                    with open(p, "w") as fh:
                        fh.write("x")
            except OSError:
                continue
        # set: pyglob can report the same file twice for patterns like
        # '**/**' (overlapping recursive expansions)
        expected = sorted(
            {
                os.path.relpath(m, td)
                for m in pyglob.glob(os.path.join(td, pattern), recursive=True)
                if os.path.isfile(m)
            }
        )
        rx = FS._glob_to_regex(pattern)
        got = sorted(
            f
            for f in (
                os.path.relpath(os.path.join(dp, fn), td)
                for dp, _dn, fns in os.walk(td)
                for fn in fns
            )
            if rx.match(f)
        )
        assert got == expected, (files, pattern)


def test_iter_byte_lines_chunk_boundaries():
    """The streamed splitter must be byte-chunking-invariant: any chunk
    partition of the same bytes yields identical (line_number, line)
    pairs — including a multi-byte UTF-8 code point split across
    chunks, CRLF endings, and a trailing newline producing no phantom
    line."""
    from duckdb_httpd_log_spark.sources.fs import _iter_byte_lines

    text = "alpha β\r\nmiddle é line\nlast"  # no trailing newline
    data = text.encode("utf-8")
    expected = [(1, "alpha β"), (2, "middle é line"), (3, "last")]
    for size in (1, 2, 3, 7, len(data)):
        chunks = [data[i : i + size] for i in range(0, len(data), size)]
        assert list(_iter_byte_lines(iter(chunks))) == expected, size
    # trailing newline: same lines, no phantom 4th
    data2 = (text + "\n").encode("utf-8")
    assert list(_iter_byte_lines(iter([data2]))) == expected


def test_iter_remote_lines_streams_multimember_gzip(tmp_path):
    """file:// URIs route through the pyarrow streaming reader; a
    concatenated two-member gzip must decode fully (gzip.decompress
    semantics) with continuous line numbers."""
    import gzip

    from duckdb_httpd_log_spark.sources.fs import iter_log_lines

    p = tmp_path / "multi.log.gz"
    with open(p, "wb") as fh:
        fh.write(gzip.compress(b"one\ntwo\n"))
        fh.write(gzip.compress(b"three\nfour"))
    got = list(iter_log_lines(f"file://{p}"))
    assert got == [(1, "one"), (2, "two"), (3, "three"), (4, "four")]
