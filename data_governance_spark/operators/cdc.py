"""Content-defined chunking (FastCDC) for chunk-level dedup of binary
corpora — the storage-side twin of the document-level dedup family:
daily crawl snapshots, model checkpoints, and multimodal blobs repeat
most of their BYTES between versions, and fixed-size blocks cannot see
that (one inserted byte shifts every later block).  A content-defined
boundary depends only on a local window, so an edit perturbs chunks
near the edit and NOTHING after — identical regions re-chunk to
identical (offset-independent) chunks whose hashes dedup with a plain
groupBy.

Algorithm: FastCDC (Xia et al., USENIX ATC 2016 — public paper):

- **Gear hash**: ``h = (h << 1 + gear[byte]) mod 2^64`` — only the
  last 64 bytes influence ``h`` (older terms shift out), which is
  both the content-defined property and what makes the rolling pass
  vectorizable: ``h_i = Σ_{k=0..63} gear[b_{i-k}] << k``, computed
  here as 64 shifted numpy adds over the whole buffer instead of a
  per-byte Python loop.
- **Normalized chunking**: positions before the target size test
  against a HARDER mask (more bits) and positions after against an
  easier one, squeezing the size distribution toward the target
  (the paper's NC=2 setting: ``bits+2`` / ``bits-2``).
- ``min_size`` skipped outright (also a speedup), ``max_size`` a hard
  cut so pathological content (e.g. all-zero runs whose gear value
  never satisfies any mask) cannot produce unbounded chunks.

The gear table derives from a fixed splitmix64 sequence (seed
documented below) — any fixed random-ish table yields the CDC
properties; pinning ours makes chunk hashes stable across versions,
which incremental dedup state REQUIRES (the operators/incremental.py
corpus-immutability rule).

Chunk identity is the first 8 bytes of MD5 (signed little-endian
int64) — the same digest the exact-dedup family keys on (d03's
``md5(text)`` tier), and a measured 30× over hashing in Python:
``hashlib.md5`` runs ~587 MB/s/core against ~20 for the pure-Python
XXH64, which would otherwise dominate the map pass (boundaries
themselves run ~36 MB/s/core).  A chunk row is ``(id, chunk_idx,
offset, size, hash)`` and chunk-level dedup is ``groupBy(hash)`` —
shuffle only on the 8-byte hash + counters, never the bytes.

Scale shape: :func:`cdc_chunks` is map-only Arrow (``mapInPandas``),
no shuffle, no driver state; a 100 TB blob store chunks at scan speed
and the dedup aggregate moves hashes, not content.  Tests
(`tests/test_cdc.py`) pin determinism, the size envelope, exact
reconstruction, and the load-bearing property — boundary-shift
resistance under inserts vs a fixed-size baseline.

Reference twin: none — training-data extension per SURVEY.md §6 (the
algorithm is the public FastCDC paper).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["cdc_chunks", "cdc_boundaries", "chunk_hash", "gear_table"]

_M64 = (1 << 64) - 1


def _splitmix64(seed: int):
    state = seed & _M64
    while True:
        state = (state + 0x9E3779B97F4A7C15) & _M64
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        yield z ^ (z >> 31)


def gear_table(seed: int = 0x5FC4D1C9) -> np.ndarray:
    """The 256-entry gear table, pinned by its splitmix64 seed (module
    doc: table stability is a dedup-state requirement)."""
    g = _splitmix64(seed)
    return np.array([next(g) for _ in range(256)], dtype=np.uint64)


_GEAR = gear_table()


def _gear_hashes(buf: np.ndarray) -> np.ndarray:
    """``h[i]`` = gear hash of the (up to) 64 bytes ending at ``i``.
    Binary doubling: after pass ``k`` each element holds the
    ``2k``-term window sum, so six passes (1,2,4,8,16,32) build the
    full 64-term window — uint64 arithmetic wraps mod 2^64 exactly
    like the recurrence, which is also WHY the window is 64: older
    terms shift out of the word.  ~6 vectorized adds instead of a
    per-byte Python loop (measured ~20 MB/s/core vs ~2 at 64 passes
    and far less at per-byte)."""
    h = _GEAR[buf]
    tmp = np.empty_like(h)  # one scratch buffer for every pass (the
    # per-pass allocations page-fault and dominate the wall otherwise)
    for k in (1, 2, 4, 8, 16, 32):
        if k >= len(h):
            break
        np.left_shift(h[:-k], np.uint64(k), out=tmp[: len(h) - k])
        np.add(h[k:], tmp[: len(h) - k], out=h[k:])
    return h


def cdc_boundaries(
    data: bytes,
    min_size: int = 2048,
    avg_size: int = 8192,
    max_size: int = 65536,
) -> list[int]:
    """Chunk END offsets (exclusive) for ``data`` under normalized
    FastCDC.  Empty input chunks to nothing; the final chunk ends at
    ``len(data)`` regardless of mask."""
    if not (0 < min_size <= avg_size <= max_size):
        raise ValueError(
            f"need 0 < min ({min_size}) <= avg ({avg_size}) <= "
            f"max ({max_size})"
        )
    bits = max(int(avg_size).bit_length() - 1, 1)
    # nested masks: the hard mask's zero-set is a subset of the easy
    # mask's, so one candidate scan per mask covers the walk
    mask_s = np.uint64((1 << min(bits + 2, 63)) - 1)
    mask_l = np.uint64((1 << max(bits - 2, 1)) - 1)
    n = len(data)
    if n == 0:
        return []
    buf = np.frombuffer(data, dtype=np.uint8)
    # candidate boundary positions per mask (position i = chunk ends
    # AFTER byte i, i.e. end offset i+1).  Computed in cache-sized
    # segments with 63 bytes of left context — the gear window is 64
    # bytes, so segment hashes equal full-buffer hashes — because the
    # full uint64 hash array is 8× the input and goes bandwidth-bound
    # (measured: 6 MB/s whole-buffer vs ~3× segmented at 16 MB)
    seg = 1 << 20
    cs_parts, cl_parts = [], []
    for s0 in range(0, n, seg):
        lo = max(0, s0 - 63)
        h = _gear_hashes(buf[lo : s0 + seg])[s0 - lo :]
        cs_parts.append(np.flatnonzero((h & mask_s) == 0) + s0)
        cl_parts.append(np.flatnonzero((h & mask_l) == 0) + s0)
    cand_s = np.concatenate(cs_parts) if cs_parts else np.array([], int)
    cand_l = np.concatenate(cl_parts) if cl_parts else np.array([], int)
    ends: list[int] = []
    start = 0
    while n - start > min_size:
        lo = start + min_size          # first testable position
        mid = min(start + avg_size, n)  # hard/easy mask switch
        hi = min(start + max_size, n)   # forced cut (end offset)
        cut = None
        # hard-mask region [lo, mid)
        i = int(np.searchsorted(cand_s, lo))
        if i < len(cand_s) and cand_s[i] < mid:
            cut = int(cand_s[i]) + 1
        if cut is None:
            # easy-mask region [mid, hi)
            j = int(np.searchsorted(cand_l, mid))
            if j < len(cand_l) and cand_l[j] < hi:
                cut = int(cand_l[j]) + 1
        if cut is None:
            cut = hi  # max cut, or the remainder when hi == n
        ends.append(cut)
        start = cut
    if start < n:
        ends.append(n)  # sub-min tail merges into one final chunk
    return ends


def chunk_hash(piece: bytes) -> int:
    """Chunk identity: first 8 bytes of MD5 as a signed little-endian
    int64 (module doc: the exact-dedup family's digest, ~30x the
    pure-Python XXH64 — the map pass must not be hash-bound)."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(piece).digest()[:8], "little", signed=True
    )


def cdc_chunks(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    min_size: int = 2048,
    avg_size: int = 8192,
    max_size: int = 65536,
) -> DataFrame:
    """One row per chunk of each document's bytes:
    ``(id_col, chunk_idx int, offset long, size long, chunk_hash
    long)`` with ``chunk_hash`` = :func:`chunk_hash` of the chunk bytes
    (first 8 bytes of MD5, signed little-endian int64).  NULL content
    yields one row whose ``chunk_idx``, ``offset``, ``size`` and
    ``chunk_hash`` are all NULL (quarantine semantics, the
    explode_archives precedent).  Every value is exact whatever else
    shares the Arrow batch: the chunk columns go from object straight
    to nullable integer dtypes, so a NULL row never turns a batch's
    hashes into float64.  Map-only Arrow pass; chunk-level dedup composes as
    ``groupBy("chunk_hash")`` downstream — the shuffle moves 8-byte
    hashes and counters, never content."""
    import pyspark.sql.types as T

    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            id_field,
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("size", T.LongType()),
            T.StructField("chunk_hash", T.LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for did, c in zip(pdf[id_col], pdf[content_col]):
                if c is None:
                    rows.append((did, None, None, None, None))
                    continue
                data = bytes(c)
                if not data:
                    # empty content is VALID (not quarantine): one
                    # zero-size chunk keeps the document visible to
                    # downstream accounting — documents never vanish
                    # silently (review catch: the boundaries list is
                    # empty, so the loop below would emit nothing)
                    rows.append((did, 0, 0, 0, chunk_hash(b"")))
                    continue
                start = 0
                for idx, end in enumerate(
                    cdc_boundaries(data, min_size, avg_size, max_size)
                ):
                    rows.append(
                        (did, idx, start, end - start,
                         chunk_hash(data[start:end]))
                    )
                    start = end
            # object, then nullable integers: left to infer, pandas
            # makes float64 of any column holding a NULL and rounds
            # every full-range int64 hash in the batch
            yield pd.DataFrame(
                rows,
                columns=[id_col, "chunk_idx", "offset", "size",
                         "chunk_hash"],
                dtype=object,
            ).astype(
                {"chunk_idx": "Int32", "offset": "Int64", "size": "Int64",
                 "chunk_hash": "Int64"}
            )

    return df.select(id_col, content_col).mapInPandas(run, schema)
