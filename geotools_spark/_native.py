"""Compile-once loader for the package's small C kernels (ctypes).

Each kernel is compiled on first use into a content-hashed ``.so`` in a
per-user cache directory (``<tmp>/geotools_spark-<uid>``, mode 0700).
A library is loaded only when the directory and the file belong to the
current user and neither is writable by group or others: anything
else at those paths may have been planted by another account, and
``CDLL`` runs a library's constructors on load.

``load`` returns None on any failure (no compiler, refused cache,
broken build) and when ``GEOTOOLS_SPARK_NO_NATIVE=1``; callers then
keep their pure-Python path.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile


def cache_dir() -> str:
    return os.path.join(tempfile.gettempdir(), f"geotools_spark-{os.getuid()}")


def so_path(name: str, source: str, cflags: list[str]) -> str:
    tag = hashlib.sha256((source + " ".join(cflags)).encode()).hexdigest()[:16]
    return os.path.join(cache_dir(), f"{name}_{tag}.so")


def _trusted(path: str, *, is_dir: bool) -> bool:
    st = os.lstat(path)
    kind_ok = stat.S_ISDIR(st.st_mode) if is_dir else stat.S_ISREG(st.st_mode)
    return kind_ok and st.st_uid == os.getuid() and not st.st_mode & 0o022


def _compile(so: str, source: str, cflags: list[str]) -> None:
    fd, csrc = tempfile.mkstemp(suffix=".c", dir=os.path.dirname(so))
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(source)
        tmp_so = f"{so}.tmp{os.getpid()}"
        subprocess.run(["gcc", *cflags, "-o", tmp_so, csrc],
                       check=True, capture_output=True, timeout=120)
        os.chmod(tmp_so, 0o700)  # independent of the umask
        os.replace(tmp_so, so)  # atomic: concurrent compiles race benignly
    finally:
        os.unlink(csrc)


def load(name: str, source: str, cflags: list[str]) -> ctypes.CDLL | None:
    """ctypes handle to ``source`` compiled with ``cflags``, or None."""
    if os.environ.get("GEOTOOLS_SPARK_NO_NATIVE") == "1":
        return None
    so = so_path(name, source, cflags)
    try:
        os.makedirs(os.path.dirname(so), mode=0o700, exist_ok=True)
        if not _trusted(os.path.dirname(so), is_dir=True):
            return None
        if not os.path.lexists(so):
            _compile(so, source, cflags)
        if not _trusted(so, is_dir=False):
            return None
        return ctypes.CDLL(so)
    except (OSError, subprocess.SubprocessError):
        return None
