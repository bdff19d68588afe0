"""Build-and-load for the native codec kernels (_kernels.c).

The C twins of the numpy hot loops are compiled ONCE per boot into a
content-hashed shared object under /dev/shm (tmpfs; falls back to the
system temp dir) and loaded with ctypes.  Every caller treats ``lib``
being None as "use the numpy path" — a missing compiler, a failed
compile, or an unreadable cache directory degrades to the pure-numpy
implementation, which remains the source of truth for correctness (tests
pin byte-identical outputs between the two).  ``error`` then holds the
last reason the build or load failed (the gcc stderr tail or the
exception text); it is None when ``lib`` loaded.

Concurrent first-use by many Spark worker processes is safe: each
process compiles to a private temp name and atomically renames into
place; losers of the race just overwrite with an identical file.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(__file__), "_kernels.c")
_CACHE_ROOTS = ("/dev/shm", tempfile.gettempdir())

_i64 = ctypes.c_int64
_i32 = ctypes.c_int32
_p_u8 = np.ctypeslib.ndpointer(dtype=np.uint8, flags="C_CONTIGUOUS")
_p_u64 = np.ctypeslib.ndpointer(dtype=np.uint64, flags="C_CONTIGUOUS")
_p_i64 = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
_p_i32 = np.ctypeslib.ndpointer(dtype=np.int32, flags="C_CONTIGUOUS")
_pp_void = ctypes.POINTER(ctypes.c_void_p)


def _source() -> bytes:
    """Kernel C source, readable also when the package ships as a zip
    (spark-submit --py-files): resources first, plain file fallback."""
    try:
        from importlib import resources

        return (
            resources.files("nem_mms_spark.codecs")
            .joinpath("_kernels.c")
            .read_bytes()
        )
    except Exception:
        with open(_SRC, "rb") as fh:
            return fh.read()


def _reason(exc: Exception) -> str:
    """Why a build step failed: the exception type, then gcc's stderr
    tail when there is one, else the exception text."""
    stderr = getattr(exc, "stderr", None)
    if stderr:
        tail = stderr.decode(errors="replace").strip()[-400:]
        return f"{type(exc).__name__}: {tail}"
    return f"{type(exc).__name__}: {exc}"


def _build() -> ctypes.CDLL | None:
    global error
    try:
        src = _source()
    except Exception as exc:
        error = _reason(exc)
        return None
    tag = hashlib.sha256(src).hexdigest()[:16]
    for root in _CACHE_ROOTS:
        cache = os.path.join(root, "nem_mms_native")
        so = os.path.join(cache, f"kernels_{tag}.so")
        try:
            if not os.path.exists(so):
                os.makedirs(cache, exist_ok=True)
                csrc = os.path.join(cache, f"kernels_{tag}.c")
                ctmp = f"{csrc}.{os.getpid()}.tmp"
                with open(ctmp, "wb") as fh:
                    fh.write(src)
                os.rename(ctmp, csrc)
                tmp = f"{so}.{os.getpid()}.tmp"
                subprocess.run(
                    ["gcc", "-O3", "-shared", "-fPIC",
                     "-fno-strict-aliasing", "-x", "c", "-o", tmp, csrc],
                    check=True, capture_output=True, timeout=120,
                )
                os.rename(tmp, so)
            lib = ctypes.CDLL(so)
            lib.nem_fsst_encode.restype = _i64
            lib.nem_fsst_encode.argtypes = [
                _p_u8, _p_i64, _i64, _p_i32, _p_i32,
                _p_u64, _p_u64, _p_i32, _p_i32, _p_u8, _p_i64,
            ]
            lib.nem_fsst_repair.restype = _i64
            lib.nem_fsst_repair.argtypes = [
                _p_i32, _i64, _p_i64, _i32, _i64, _i32,
                _p_i32, _p_i32, _p_i32, _p_i64,
            ]
            lib.nem_pack_uints.restype = None
            lib.nem_pack_uints.argtypes = [_p_u64, _i64, _i32, _p_u8]
            lib.nem_unpack_uints.restype = None
            lib.nem_unpack_uints.argtypes = [_p_u8, _i64, _i32, _p_u64]
            lib.nem_wd_factorize.restype = _i64
            lib.nem_wd_factorize.argtypes = [
                _p_u8, _p_i64, _i64, _p_i64, _p_i64, _pp_void, _pp_void,
                _pp_void, _p_i64,
            ]
            lib.nem_wd_split_tiers.restype = _i64
            lib.nem_wd_split_tiers.argtypes = [
                _p_i64, _i64, _p_i64, _i32, _p_u8, _p_u64, _p_u64,
            ]
            lib.nem_wd_unpack_tiers.restype = _i64
            lib.nem_wd_unpack_tiers.argtypes = [
                _p_u8, _i64, _i64, _i32, _p_i32, _p_i64, _p_i64, _i64,
                _p_i64,
            ]
            lib.nem_free.restype = None
            lib.nem_free.argtypes = [ctypes.c_void_p]
        except Exception as exc:
            error = _reason(exc)
            continue
        error = None
        return lib
    return None


error: str | None = None
lib = None if os.environ.get("NEM_MMS_NO_NATIVE") else _build()
