"""FastCDC content-defined chunking (operators/cdc.py): gear-hash
numeric parity with the paper's recurrence, determinism, the size
envelope, exact reconstruction, segment-boundary independence, the
load-bearing shift-resistance property vs a fixed-size baseline, the
degenerate all-zeros max-cut path, the Spark chunk-row surface with
NULL quarantine, and the d03 'cdc' gate fixture pin."""

from __future__ import annotations

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_governance_spark.operators.cdc import (
    _GEAR,
    _gear_hashes,
    cdc_boundaries,
    cdc_chunks,
    chunk_hash,
    gear_table,
)

_M64 = (1 << 64) - 1


def _sizes(data: bytes, **kw) -> list[int]:
    ends = cdc_boundaries(data, **kw)
    return list(np.diff([0] + ends))


class TestGearHash:
    def test_matches_recurrence(self):
        # h_i = (h_{i-1} << 1) + gear[b_i] mod 2^64 — the doubling
        # construction must equal the per-byte recurrence exactly
        random.seed(11)
        data = random.randbytes(700)
        h = _gear_hashes(np.frombuffer(data, dtype=np.uint8))
        acc = 0
        for i, b in enumerate(data):
            acc = ((acc << 1) + int(_GEAR[b])) & _M64
            assert int(h[i]) == acc, i

    def test_window_is_64_bytes(self):
        # two buffers agreeing on their last 64 bytes hash identically
        # at the end — the content-defined property itself
        random.seed(12)
        tail = random.randbytes(64)
        a = random.randbytes(500) + tail
        b = random.randbytes(321) + tail
        ha = _gear_hashes(np.frombuffer(a, dtype=np.uint8))
        hb = _gear_hashes(np.frombuffer(b, dtype=np.uint8))
        assert int(ha[-1]) == int(hb[-1])

    def test_chunk_hash_is_md5_prefix(self):
        # chunk identity = md5 digest's first 8 bytes, signed LE int64
        # — the exact-dedup family's digest (30x pure-Python xxh64);
        # stability across versions is a dedup-state requirement
        import hashlib

        for piece in (b"", b"x", b"chunk body"):
            want = int.from_bytes(
                hashlib.md5(piece).digest()[:8], "little", signed=True
            )
            assert chunk_hash(piece) == want

    def test_gear_table_pinned(self):
        # the table is part of the chunk-identity contract
        # (incremental dedup state depends on it) — pin its seed row
        g = gear_table()
        assert g.shape == (256,)
        assert len(set(g.tolist())) == 256
        assert np.array_equal(g, _GEAR)


class TestBoundaries:
    def test_deterministic_and_reconstructs(self):
        random.seed(13)
        data = random.randbytes(300_000)
        ends = cdc_boundaries(data)
        assert ends == cdc_boundaries(data)
        assert ends[-1] == len(data)
        assert all(a < b for a, b in zip(ends, ends[1:]))

    def test_size_envelope(self):
        random.seed(14)
        sizes = _sizes(random.randbytes(500_000))
        assert all(s <= 65536 for s in sizes)
        assert all(s > 2048 for s in sizes[:-1])  # tail may be short
        # normalized chunking keeps the mean near the target
        assert 4096 < np.mean(sizes) < 16384

    def test_segment_boundary_independence(self):
        # boundaries must not depend on the internal 1 MB segmentation:
        # chunk a buffer big enough to span segments and verify against
        # a whole-buffer candidate walk
        random.seed(15)
        data = random.randbytes((1 << 21) + 12345)  # 2 MB + tail
        ends = cdc_boundaries(data)
        h = _gear_hashes(np.frombuffer(data, dtype=np.uint8))
        ms, ml = np.uint64((1 << 15) - 1), np.uint64((1 << 11) - 1)
        cs = np.flatnonzero((h & ms) == 0)
        cl = np.flatnonzero((h & ml) == 0)
        ref, start, n = [], 0, len(data)
        while n - start > 2048:
            lo, mid = start + 2048, min(start + 8192, n)
            hi, cut = min(start + 65536, n), None
            i = int(np.searchsorted(cs, lo))
            if i < len(cs) and cs[i] < mid:
                cut = int(cs[i]) + 1
            if cut is None:
                j = int(np.searchsorted(cl, mid))
                if j < len(cl) and cl[j] < hi:
                    cut = int(cl[j]) + 1
            ref.append(cut or hi)
            start = cut or hi
        if start < n:
            ref.append(n)
        assert ends == ref

    def test_shift_resistance_beats_fixed_size(self):
        # THE property CDC exists for: an insert perturbs chunks near
        # the edit and nothing after; fixed blocks shift everywhere
        random.seed(16)
        data = random.randbytes(400_000)
        ins = data[:137_000] + b"!EDIT!" + data[137_000:]

        def chunks(d):
            s, out = 0, set()
            for e in cdc_boundaries(d):
                out.add(d[s:e])
                s = e
            return out

        a, b = chunks(data), chunks(ins)
        cdc_shared = len(a & b) / len(a)
        fixed_a = {data[i : i + 8192] for i in range(0, len(data), 8192)}
        fixed_b = {ins[i : i + 8192] for i in range(0, len(ins), 8192)}
        fixed_shared = len(fixed_a & fixed_b) / len(fixed_a)
        assert cdc_shared > 0.9
        assert cdc_shared > fixed_shared + 0.3

    def test_all_zeros_forced_max_cuts(self):
        # a zero window's gear hash is constant and satisfies neither
        # mask for this table, so every cut is the max-size guard
        sizes = _sizes(b"\x00" * 200_000)
        assert sizes[:-1] == [65536] * (len(sizes) - 1)
        assert sum(sizes) == 200_000

    def test_empty_and_sub_min(self):
        assert cdc_boundaries(b"") == []
        assert cdc_boundaries(b"abc") == [3]
        assert cdc_boundaries(b"x" * 2048) == [2048]

    def test_param_validation(self):
        with pytest.raises(ValueError, match="min"):
            cdc_boundaries(b"x", min_size=0)
        with pytest.raises(ValueError, match="min"):
            cdc_boundaries(b"x", min_size=9000, avg_size=8192)

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=30_000),
           st.integers(min_value=6, max_value=20))
    def test_envelope_holds_under_fuzz(self, data, avg_bits):
        avg = 1 << avg_bits
        sizes = _sizes(
            data, min_size=avg // 4, avg_size=avg, max_size=avg * 8
        )
        assert sum(sizes) == len(data)
        assert all(s <= avg * 8 for s in sizes)
        assert all(s > avg // 4 for s in sizes[:-1])


class TestSparkSurface:
    def test_chunk_rows_and_null_quarantine(self, spark):
        random.seed(17)
        blobs = [
            ("a", bytearray(random.randbytes(50_000))),
            ("b", None),
            ("c", bytearray(b"small")),
            ("e", bytearray(b"")),
        ]
        df = spark.createDataFrame(blobs, "doc_id string, content binary")
        rows = cdc_chunks(df, id_col="doc_id").collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # NULL content: exactly one quarantine row, NULL chunk fields
        assert len(by_doc["b"]) == 1
        assert by_doc["b"][0]["chunk_idx"] is None
        # EMPTY content: one valid zero-size chunk (review catch — the
        # doc must not vanish), distinct from the NULL quarantine row
        assert len(by_doc["e"]) == 1
        assert by_doc["e"][0]["chunk_idx"] == 0
        assert by_doc["e"][0]["size"] == 0
        assert by_doc["e"][0]["chunk_hash"] == chunk_hash(b"")
        # reconstruction + hash parity against chunk_hash (MD5 prefix)
        a = bytes(blobs[0][1])
        achunks = sorted(by_doc["a"], key=lambda r: r["chunk_idx"])
        assert achunks[0]["offset"] == 0
        assert sum(r["size"] for r in achunks) == len(a)
        for r in achunks:
            piece = a[r["offset"] : r["offset"] + r["size"]]
            assert r["chunk_hash"] == chunk_hash(piece)
        # chunk-level dedup composes as a plain groupBy on the hash
        dup = spark.createDataFrame(
            [("a2", bytearray(a))], "doc_id string, content binary"
        )
        both = cdc_chunks(df.unionByName(dup), id_col="doc_id")
        agg = (
            both.filter(both.chunk_hash.isNotNull())
            .groupBy("chunk_hash")
            .count()
            .filter("count >= 2")
            .count()
        )
        assert agg == len(achunks)  # every 'a' chunk found its twin

    def test_null_row_in_shared_batch_keeps_hashes_exact(self, spark):
        # a NULL quarantine row in the SAME Arrow batch as real content
        # must not turn the batch's int64 hashes into float64 (which
        # rounds every full-range hash); coalesce(1) forces one batch
        random.seed(23)
        a = random.randbytes(50_000)
        df = spark.createDataFrame(
            [("a", bytearray(a)), ("b", None)],
            "doc_id string, content binary",
        ).coalesce(1)
        rows = cdc_chunks(df, id_col="doc_id").collect()
        null_rows = [r for r in rows if r["doc_id"] == "b"]
        assert len(null_rows) == 1
        assert null_rows[0]["chunk_hash"] is None
        achunks = [r for r in rows if r["doc_id"] == "a"]
        assert len(achunks) > 1
        for r in achunks:
            piece = a[r["offset"] : r["offset"] + r["size"]]
            assert r["chunk_hash"] == chunk_hash(piece), r


class TestGateFixturePin:
    def test_gate_fixture_pin(self):
        # regenerate the d03 'cdc' oracle VALUES from the operator and
        # assert every pinned tuple appears verbatim in the gate SQL
        from data_governance_spark.queries.documents import _cdc_fixture
        from data_governance_spark.queries.registry import QUERIES

        oracle = QUERIES["d03_exact_dedup_family"].oracle
        n_pinned = 0
        for name, body in _cdc_fixture().items():
            if body is None:
                assert "('C:-', '')" in oracle
                n_pinned += 1
                continue
            if body == b"":
                h = chunk_hash(b"")
                assert f"('{name}:0', '0:0:{h}')" in oracle
                n_pinned += 1
                continue
            start = 0
            for idx, end in enumerate(cdc_boundaries(body)):
                h = chunk_hash(body[start:end])
                tup = f"('{name}:{idx}', '{start}:{end - start}:{h}')"
                assert tup in oracle, tup
                start = end
                n_pinned += 1
        # and nothing extra: the VALUES block has exactly these rows
        assert oracle.count("('A:") + oracle.count("('B:") \
            + oracle.count("('C:") + oracle.count("('D:") \
            + oracle.count("('E:") + oracle.count("('F:") == n_pinned
