"""The MinHash and SimHash UDF bodies against per-document references.

Pure numpy and pyarrow (no Spark session): the bodies are the Arrow UDFs'
``.func``, fed one ``pa.ListArray`` of feature-hash arrays the way Spark
hands a batch over.
"""

from __future__ import annotations

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from zerox_spark.operators.dedup import (
    MERSENNE_PRIME,
    SIGNATURE_BLOCK,
    _minhash_params,
    _minhash_sig_udf,
    _simhash_udf,
)

B = SIGNATURE_BLOCK

SHAPES = {
    "longer_than_two_blocks": [2 * B + 5],
    "crossing_block_edges": [B - 1, 3, B, 2, 7],
    "one_feature_docs": [1] * 50,
    "empty_batch": [],
}


def _hashes(lens, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.integers(-(2**63), 2**63, n, dtype=np.int64) for n in lens]


def _batch(hs):
    """The documents' hash arrays as one Arrow list<int64> column."""
    offsets = np.zeros(len(hs) + 1, dtype=np.int32)
    np.cumsum([len(h) for h in hs], out=offsets[1:])
    values = np.concatenate(hs) if hs else np.zeros(0, dtype=np.int64)
    return pa.ListArray.from_arrays(offsets, values)


def _run(udf, batch):
    (out,) = udf.func(iter([batch]))
    return out


def _minhash_ref(h):
    """min over the doc's hashes of a_i·h + b_i mod p, per permutation i."""
    a, b = (np.array(c, dtype=np.int64)[:, None] for c in _minhash_params())
    return ((a * h + b) % MERSENNE_PRIME).min(1).tolist()


def _simhash_ref(h):
    """Bit i set iff the doc's ±1 sum over bit i of its hashes is > 0."""
    bits = (h.view(np.uint64)[:, None] >> np.arange(64, dtype=np.uint64)) & 1
    sums = (2 * bits.astype(np.int64) - 1).sum(0)
    v = sum(1 << i for i in range(64) if sums[i] > 0)
    return v - (1 << 64) if v >= 1 << 63 else v


@pytest.mark.parametrize("lens", SHAPES.values(), ids=SHAPES.keys())
def test_minhash_body_matches_per_document_reference(lens):
    hs = [h % MERSENNE_PRIME for h in _hashes(lens)]
    got = _run(_minhash_sig_udf, _batch(hs))
    assert got.to_pylist() == [_minhash_ref(h) for h in hs]


@pytest.mark.parametrize("lens", SHAPES.values(), ids=SHAPES.keys())
def test_simhash_body_matches_per_document_reference(lens):
    hs = _hashes(lens)
    got = _run(_simhash_udf, _batch(hs))
    assert got.type == pa.int64()
    assert got.to_pylist() == [_simhash_ref(h) for h in hs]


def test_signature_bodies_peak_memory_is_bounded():
    """One 300,000-feature document: the kernel works a block at a time,
    so its peak does not grow with the document (a whole-batch expansion
    is 128 × 300k × 8 B ≈ 293 MiB for MinHash alone)."""
    hs = _hashes([300_000], seed=1)
    mh_batch = _batch([h % MERSENNE_PRIME for h in hs])
    for udf, b in ((_minhash_sig_udf, mh_batch), (_simhash_udf, _batch(hs))):
        tracemalloc.start()
        try:
            _run(udf, b)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 64 * 2**20, (udf.__name__, peak / 2**20)


def test_segment_reduce_reads_a_sliced_batch_in_place():
    """A sliced ListArray (its offsets start past 0, its child values hold
    the rows outside the slice) reduces exactly like the same documents
    built unsliced, through both bodies."""
    hs = [
        h % MERSENNE_PRIME
        for h in _hashes([5, B - 1, 3, B + 2, 7, 1], seed=2)
    ]
    sliced = _batch(hs).slice(2, 3)
    assert sliced.offsets[0].as_py() != 0
    for udf in (_minhash_sig_udf, _simhash_udf):
        got = _run(udf, sliced).to_pylist()
        assert got == _run(udf, _batch(hs[2:5])).to_pylist()
