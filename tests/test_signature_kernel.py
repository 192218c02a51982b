"""The MinHash and SimHash UDF bodies against per-document references.

Pure numpy (no Spark session): the bodies are the pandas UDFs' ``.func``,
fed one batch of feature-hash arrays the way Arrow hands them over.
"""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
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


def _batch(lens, seed=0):
    rng = np.random.default_rng(seed)
    return pd.Series(
        [rng.integers(-(2**63), 2**63, n, dtype=np.int64) for n in lens],
        dtype=object,
    )


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
    batch = _batch(lens).map(lambda h: h % MERSENNE_PRIME)
    got = _run(_minhash_sig_udf, batch)
    assert [list(s) for s in got] == [_minhash_ref(h) for h in batch]


@pytest.mark.parametrize("lens", SHAPES.values(), ids=SHAPES.keys())
def test_simhash_body_matches_per_document_reference(lens):
    batch = _batch(lens)
    got = _run(_simhash_udf, batch)
    assert got.dtype == np.int64
    assert got.tolist() == [_simhash_ref(h) for h in batch]


def test_signature_bodies_peak_memory_is_bounded():
    """One 300,000-feature document: the kernel works a block at a time,
    so its peak does not grow with the document (a whole-batch expansion
    is 128 × 300k × 8 B ≈ 293 MiB for MinHash alone)."""
    batch = _batch([300_000], seed=1)
    mh_batch = batch.map(lambda h: h % MERSENNE_PRIME)
    for udf, b in ((_minhash_sig_udf, mh_batch), (_simhash_udf, batch)):
        tracemalloc.start()
        try:
            _run(udf, b)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 64 * 2**20, (udf.__name__, peak / 2**20)
