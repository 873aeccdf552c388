"""Compiled banded edit distance: ``cbanded.c`` built with cffi.

The C source is compiled with the local C compiler on first import, in
cffi's API mode, into ``_build/`` next to this file. The library's name
carries a hash of the source, the compile flags and the Python ABI, so a
changed source or interpreter builds a new library and an unchanged one
is reused by every later process: the Spark driver, the worker daemon and
its forked workers. The cache sits inside the package, never under a
temporary or Spark scratch directory, because those are removed after
each run. Each build goes to a private temporary directory inside the
cache and is moved into place with ``os.replace``, so processes that
import for the first time at once cannot see a half-written library.

``-O2`` without ``-march=native``: a cached library must run on any CPU
of the same architecture.

When the library cannot be built or loaded, ``LIB`` is None, ``ERROR``
says why, one warning is logged, and ``myers`` runs its numpy kernel.
"""

from __future__ import annotations

import hashlib
import importlib.util
import logging
import os
import sys
import sysconfig
import tempfile
from pathlib import Path

import numpy as np

SOURCE = Path(__file__).with_name("cbanded.c")
BUILD_DIR = Path(__file__).with_name("_build")
CDEF = """
int sassy_banded_lev(const uint8_t *a, const int64_t *a_off,
                     const uint8_t *b, const int64_t *b_off,
                     const int64_t *k, int64_t npairs, int64_t *out);
"""
FLAGS = ["-O2"]


def load(cache_dir: Path = BUILD_DIR):
    """Import the compiled module from ``cache_dir``, building it first
    when no library for this source, these flags and this interpreter is
    there. Returns (module, compiled) where compiled says whether this
    call ran the compiler."""
    import cffi

    source = SOURCE.read_text()
    suffix = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
    key = hashlib.sha256(
        "\0".join(
            [source, CDEF, " ".join(FLAGS), cffi.__version__,
             sys.implementation.cache_tag, suffix]
        ).encode()
    ).hexdigest()[:16]
    name = f"_cbanded_{key}"
    path = Path(cache_dir) / (name + suffix)
    compiled = not path.exists()
    if compiled:
        path.parent.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=path.parent, prefix=".tmp-") as tmp:
            ffi = cffi.FFI()
            ffi.cdef(CDEF)
            ffi.set_source(name, source, extra_compile_args=FLAGS)
            os.replace(ffi.compile(tmpdir=tmp), path)
    spec = importlib.util.spec_from_file_location(name, path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load {path}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module, compiled


def _load_default():
    try:
        import cffi
    except ImportError as e:
        return None, None, f"ImportError: {e}"
    try:
        module, _ = load()
    except (ImportError, OSError, cffi.VerificationError) as e:
        return None, None, f"{type(e).__name__}: {e}"
    return module.lib, module.ffi, None


LIB, FFI, ERROR = _load_default()
if ERROR is not None:
    logging.getLogger(__name__).warning(
        "compiled edit-distance kernel unavailable, using numpy: %s", ERROR
    )


def distances(a_data, a_offs, b_data, b_offs, k) -> np.ndarray:
    """Banded global edit distance per pair through the C kernel.

    Pair i is ``a_data[a_offs[i]:a_offs[i+1]]`` against the same slice of
    ``b_data``: uint8 symbol buffers with int64-convertible offsets, one
    more offset than pairs. ``k`` holds one int per pair. Returns int64
    ``min(distance, k + 1)`` per pair.
    """
    k = np.ascontiguousarray(k, dtype=np.int64)
    a_offs = np.ascontiguousarray(a_offs, dtype=np.int64)
    b_offs = np.ascontiguousarray(b_offs, dtype=np.int64)
    a_data = np.ascontiguousarray(a_data)
    b_data = np.ascontiguousarray(b_data)
    n = len(k)
    for data, offs in ((a_data, a_offs), (b_data, b_offs)):
        if data.dtype != np.uint8 or data.ndim != 1:
            raise TypeError(f"symbols must be a 1-D uint8 array, got {data.dtype}")
        if len(offs) != n + 1 or (
            n and (offs[0] < 0 or offs[-1] > len(data) or (np.diff(offs) < 0).any())
        ):
            raise ValueError("offsets must be n+1 non-decreasing positions in data")
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    buf = FFI.from_buffer
    rc = LIB.sassy_banded_lev(
        buf("uint8_t[]", a_data), buf("int64_t[]", a_offs),
        buf("uint8_t[]", b_data), buf("int64_t[]", b_offs),
        buf("int64_t[]", k), n, buf("int64_t[]", out, require_writable=True),
    )
    if rc != 0:
        raise MemoryError("edit-distance kernel scratch allocation failed")
    return out
