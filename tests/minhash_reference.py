"""numpy reference for the JVM dedup kernels (scala/DdKernels.scala).

This is the kernel the engine ran before the JVM port, kept as the
specification the differential tests check the JVM output against: the
shingle set, the MinHash signature and band keys, and the SimHash md5
fold. Persisted streaming MinHash indexes store `sh` and `bkeys`, so the
JVM kernel must reproduce these bit for bit.
"""

from __future__ import annotations

import hashlib

import numpy as np

P31 = 2_147_483_647  # minhash universe: Mersenne prime 2^31-1

# two ~31-bit primes for the double polynomial rolling hash
_RH_P1 = 2_147_483_647
_RH_P2 = 2_147_483_629
_RH_B1 = 1_114_117  # > max codepoint 0x10FFFF: injective per-position mixing
_RH_B2 = 1_114_129


def np_shingle_set(text: str, n: int) -> np.ndarray:
    """Distinct shingle codes of lower(trim(text)), fully vectorized.

    Shingles are CHARACTER n-grams (codepoints, matching SQL substr
    semantics, not bytes). Each window hashes to
    (poly_p1 << 31) | poly_p2 — a 62-bit double hash; a cross-pair
    collision needs both 31-bit polynomials to collide (~2^-62).
    """
    # SQL trim() strips ONLY spaces (not \t\n) — match it exactly, the
    # DuckDB oracle computes shingles of lower(trim(text))
    t = text.strip(" ").lower()
    codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    if len(codes) < n:
        # SQL substr returns the SHORT string as the single shingle; pad
        # to the window width with a sentinel ABOVE the Unicode range
        # (0x10FFFF) so 'a' and 'a\x00' stay distinct and no padded
        # window can collide with a real n-codepoint window
        codes = np.pad(
            codes, (0, n - len(codes)), constant_values=0x110000
        )
        w = codes.reshape(1, n).astype(np.int64)
    else:
        w = np.lib.stride_tricks.sliding_window_view(codes, n).astype(np.int64)
    h1 = np.zeros(len(w), dtype=np.int64)
    h2 = np.zeros(len(w), dtype=np.int64)
    for j in range(n):  # Horner, mod kept < 2^31 so products fit int64
        h1 = (h1 * _RH_B1 + w[:, j]) % _RH_P1
        h2 = (h2 * _RH_B2 + w[:, j]) % _RH_P2
    return np.unique((h1 << 31) | h2)


def np_signature(sh: np.ndarray, a: list[int], b: list[int]) -> np.ndarray:
    """sig[k] = min over h of (a[k]*(h mod P31) + b[k]) % P31 — products
    stay below 2^62, so int64 arithmetic is exact. All P31 when empty."""
    if not len(sh):
        return np.full(len(a), P31, dtype=np.int64)
    A = np.asarray(a, dtype=np.int64).reshape(-1, 1)
    B = np.asarray(b, dtype=np.int64).reshape(-1, 1)
    h = np.mod(sh, P31).reshape(1, -1)
    return ((A * h + B) % P31).min(axis=1)


def np_band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """Double 31-bit polynomial fold per band -> 62-bit key, seeded with
    the band index. acc < 2^31 and multiplier < 2^21, so products stay
    far below 2^63. When bands doesn't divide K the trailing
    K - bands*r signature rows are unused."""
    rows_per_band = len(sig) // bands
    w = sig[: bands * rows_per_band].reshape(bands, rows_per_band)
    band_ix = np.arange(bands, dtype=np.int64)
    acc1 = band_ix.copy()
    acc2 = band_ix + np.int64(1)
    for j in range(rows_per_band):
        acc1 = (acc1 * 1_000_003 + w[:, j]) % _RH_P1
        acc2 = (acc2 * 1_000_033 + w[:, j]) % _RH_P2
    return (acc1 << 31) | acc2


def np_kernel(text: str | None, a, b, n: int, bands: int = 0) -> dict:
    """The fused kernel's row: {"sh", "sig"[, "bkeys"]} as int lists."""
    if text is None:
        sh = np.empty(0, dtype=np.int64)
    else:
        sh = np_shingle_set(text, n)
    sig = np_signature(sh, a, b)
    out = {"sh": sh.tolist(), "sig": sig.tolist()}
    if bands:
        out["bkeys"] = np_band_keys(sig, bands).tolist()
    return out


def simhash_reference(tokens: list[str] | None, bits: int = 60) -> int:
    """Majority fold of int(md5(utf8(t)).hexdigest()[:15], 16) over
    `bits` bit positions; 0 for a None or empty token array."""
    if not tokens:
        return 0
    hv = np.array(
        [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in tokens],
        dtype=np.int64,
    )
    bit_ix = np.arange(bits, dtype=np.int64)
    ones = ((hv[:, None] >> bit_ix) & 1).sum(axis=0)
    bitsum = 2 * ones - len(hv)
    return int(((bitsum > 0).astype(np.int64) << bit_ix).sum())
