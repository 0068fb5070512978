"""Native (C, via ctypes) TIFF LZW encoder.

``codecs._lzw_encode`` is a per-byte Python loop (dict lookups plus an
O(match-length) bytes concatenation per input byte): ~0.5 s for a 1 MB
strip — and the synthetic media generator encodes several LZW TIFFs per
query. This compiles the IDENTICAL greedy LZW (TIFF 6.0 §13, early
change, reset at 4094) to C; greedy LZW is deterministic, so the
output stream is byte-for-byte the Python encoder's (pinned by
tests/test_codecs_property.py). Compiled once per user by
``geotools_spark._native``; no compiler -> callers keep the Python
loop.
"""

from __future__ import annotations

import ctypes

from geotools_spark import _native

_C_SOURCE = r"""
#include <stdlib.h>
#include <string.h>
#include <stdint.h>

/* table keyed by (prefix_code << 8 | byte); generation tags avoid a
   memset per Clear. Thread-local and allocated once per thread: the
   synthetic TIFF writer calls this for every 16x16 tile, so per-call
   allocation would dominate tiny inputs. */
static __thread int32_t* gen = 0;
static __thread int16_t* code = 0;
static __thread int32_t gen_ctr = 0;

int64_t lzw_encode(const unsigned char* src, int64_t n,
                   unsigned char* out /* cap >= 2*n + 16 */) {
    if (!gen) {
        gen = calloc(4096 * 256, sizeof(int32_t));
        code = malloc(4096 * 256 * sizeof(int16_t));
        if (!gen || !code) return -1;
    }
    if (gen_ctr > 2000000000) { /* generation wrap: re-zero */
        memset(gen, 0, 4096 * 256 * sizeof(int32_t));
        gen_ctr = 0;
    }
    int32_t cur_gen = ++gen_ctr;
    int64_t w = 0;
    uint32_t bitbuf = 0;
    int nbits = 0;
    int width = 9;
    int next_code = 258;

    #define EMIT(c) do { \
        bitbuf = (bitbuf << width) | (uint32_t)(c); \
        nbits += width; \
        while (nbits >= 8) { out[w++] = (bitbuf >> (nbits - 8)) & 0xFF; nbits -= 8; } \
    } while (0)

    EMIT(256); /* spec: every strip starts with a Clear */
    if (n > 0) {
        int omega = src[0];
        for (int64_t i = 1; i < n; i++) {
            int b = src[i];
            int64_t key = ((int64_t)omega << 8) | b;
            if (gen[key] == cur_gen) {
                omega = code[key];
                continue;
            }
            EMIT(omega);
            gen[key] = cur_gen;
            code[key] = (int16_t)next_code;
            next_code++;
            if (next_code == (1 << width) - 1 && width < 12) {
                width++;
            } else if (next_code == 4094) {
                EMIT(256);
                cur_gen = ++gen_ctr;
                next_code = 258;
                width = 9;
            }
            omega = b;
        }
        EMIT(omega);
    }
    EMIT(257); /* EndOfInformation */
    if (nbits) out[w++] = (bitbuf << (8 - nbits)) & 0xFF;
    return w;
}
"""

_CFLAGS = ["-O2", "-fPIC", "-shared"]

_lib = None
_lib_tried = False


def get_lib():
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    lib = _native.load("lzw", _C_SOURCE, _CFLAGS)
    if lib is not None:
        lib.lzw_encode.restype = ctypes.c_int64
        lib.lzw_encode.argtypes = [
            ctypes.c_char_p, ctypes.c_int64, ctypes.POINTER(ctypes.c_ubyte)
        ]
    _lib = lib
    return _lib


def encode(src: bytes) -> bytes | None:
    """Byte-identical native _lzw_encode, or None when unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    # worst case: 12 bits out per input byte plus Clear/EOI framing
    cap = 2 * len(src) + 64
    buf = ctypes.create_string_buffer(cap)
    w = lib.lzw_encode(
        src, ctypes.c_int64(len(src)),
        ctypes.cast(buf, ctypes.POINTER(ctypes.c_ubyte)),
    )
    if w < 0:
        return None
    return ctypes.string_at(buf, int(w))
