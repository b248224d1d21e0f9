"""HyperLogLog sketch (functions/hll.py) — accuracy, merge algebra,
determinism.  The serving aggregation mirror uses it for
cardinality(exact=False); the distributed engine keeps Spark's HLL++
(same register count, same error class, different constants — the
documented tolerance-contract stance)."""

import numpy as np
import pytest

from tantivy_spark.functions.hll import (
    HyperLogLog,
    _bit_length_u64,
    lg_k_for_rsd,
)


def test_bit_length_u64_exact():
    vals = np.array([0, 1, 2, 3, 4, (1 << 31) - 1, 1 << 31, (1 << 53) + 1,
                     (1 << 63) - 1, 1 << 63, (1 << 64) - 1], dtype=np.uint64)
    got = _bit_length_u64(vals)
    want = [int(v).bit_length() for v in vals.tolist()]
    assert got.tolist() == want


def test_lg_k_for_rsd():
    assert lg_k_for_rsd(0.023) == 11     # the reference's DataSketches lg_k
    assert lg_k_for_rsd(0.05) == 9       # Spark's default rsd
    assert lg_k_for_rsd(0.9) == 4        # floor
    assert lg_k_for_rsd(0.001) == 18     # ceiling: tiny rsd answers,
    assert lg_k_for_rsd(1e-9) == 18      # never crashes the mirror
    with pytest.raises(ValueError, match="rsd"):
        lg_k_for_rsd(0.0)


@pytest.mark.parametrize("n", [0, 1, 10, 500, 20000])
def test_estimate_within_bound(n):
    h = HyperLogLog(11)
    h.add([f"value-{i}" for i in range(n)])
    est = h.estimate()
    # 5-sigma at rsd=0.023, with absolute slack for tiny n (linear
    # counting is near-exact there)
    assert abs(est - n) <= max(5 * 0.023 * n, 2)


def test_duplicates_do_not_inflate():
    h = HyperLogLog(11)
    h.add([f"v{i % 50}" for i in range(5000)])
    assert abs(h.estimate() - 50) <= 3


def test_merge_equals_single_shot():
    vals = [f"doc-{i}" for i in range(3000)]
    whole = HyperLogLog(11)
    whole.add(vals)
    a, b = HyperLogLog(11), HyperLogLog(11)
    a.add(vals[:2000])
    b.add(vals[1000:])            # overlapping halves
    a.merge(b)
    assert np.array_equal(a.registers, whole.registers)
    assert a.estimate() == whole.estimate()


def test_merge_lg_k_mismatch_refused():
    with pytest.raises(ValueError, match="lg_k"):
        HyperLogLog(11).merge(HyperLogLog(10))


def test_order_invariant_and_deterministic():
    vals = [f"k{i}" for i in range(1000)]
    h1, h2 = HyperLogLog(11), HyperLogLog(11)
    h1.add(vals)
    h2.add(list(reversed(vals)))
    assert np.array_equal(h1.registers, h2.registers)


def test_int_and_float_inputs():
    import pandas as pd

    h = HyperLogLog(11)
    h.add(pd.Series(np.arange(1000, dtype=np.int64)))
    assert abs(h.estimate() - 1000) <= 5 * 0.023 * 1000
    hf = HyperLogLog(11)
    hf.add(pd.Series(np.linspace(0.0, 1.0, 700)))
    assert abs(hf.estimate() - 700) <= max(5 * 0.023 * 700, 2)


def test_nulls_dropped():
    import pandas as pd

    h = HyperLogLog(11)
    h.add(pd.Series(["a", None, "b", None, "a"]))
    assert round(h.estimate()) == 2


def test_roundtrip_serialization():
    h = HyperLogLog(11)
    h.add([f"x{i}" for i in range(123)])
    h2 = HyperLogLog.from_array(h.to_array())
    assert h2.lg_k == 11
    assert np.array_equal(h2.registers, h.registers)
    with pytest.raises(ValueError, match="power of 2"):
        HyperLogLog.from_array(np.zeros(1000, dtype=np.uint8))


@pytest.mark.parametrize("lg_k,alpha", [(4, 0.673), (5, 0.697), (6, 0.709)])
def test_small_m_alpha_is_published_constant(lg_k, alpha):
    assert HyperLogLog(lg_k).alpha() == alpha


def test_large_m_alpha_is_asymptotic():
    for lg_k in (7, 11, 18):
        m = 1 << lg_k
        assert HyperLogLog(lg_k).alpha() == pytest.approx(
            0.7213 / (1.0 + 1.079 / m))


def test_coarsest_sketch_within_its_rsd():
    n = 10_000
    h = HyperLogLog(4)
    h.add([f"value-{i}" for i in range(n)])
    rsd = 1.04 / np.sqrt(h.m)
    assert abs(h.estimate() / n - 1.0) <= rsd
