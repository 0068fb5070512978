"""Native-kernel loader: compiles into a private per-user cache and
refuses libraries another account could have written."""

import os
import tempfile

import pytest

from geotools_spark import _native

SRC = "int answer(void) { return 42; }\n"
FLAGS = ["-O2", "-fPIC", "-shared"]


def test_group_writable_library_is_not_loaded(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.delenv("GEOTOOLS_SPARK_NO_NATIVE", raising=False)
    lib = _native.load("probe", SRC, FLAGS)
    if lib is None:
        pytest.skip("no C toolchain on this host")
    assert lib.answer() == 42
    cache = _native.cache_dir()
    assert os.stat(cache).st_mode & 0o777 == 0o700

    # plant a group-writable library at the cache path: never loaded
    so = _native.so_path("probe", SRC, FLAGS)
    os.chmod(so, 0o775)
    assert _native.load("probe", SRC, FLAGS) is None
    os.chmod(so, 0o700)
    assert _native.load("probe", SRC, FLAGS) is not None
    # a cache directory others can write is refused as a whole
    os.chmod(cache, 0o777)
    assert _native.load("probe", SRC, FLAGS) is None

    monkeypatch.setenv("GEOTOOLS_SPARK_NO_NATIVE", "1")
    os.chmod(cache, 0o700)
    assert _native.load("probe", SRC, FLAGS) is None
