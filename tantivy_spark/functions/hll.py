"""HyperLogLog — mergeable distinct-count sketch for the serving tier.

The reference's cardinality aggregation wraps a DataSketches HLL with
lg_k=11 (/root/reference/src/aggregation/metric/cardinality.rs — the
`Hll` type with its default log2m), i.e. relative standard deviation
1.04/sqrt(2^11) ~= 0.023.  The DISTRIBUTED engine maps that to Spark's
built-in HLL++ (`F.approx_count_distinct(rsd=0.023)` —
operators/aggregations.py); this module is the Spark-free analogue for
`ServingSearcher.aggregate`, implemented from the published algorithm
(Flajolet, Fusy, Gandouet, Meunier — AofA'07, with the standard
small-range linear-counting correction).  Same error class and same
register count as both of those; estimates are NOT bit-identical to
either (different hash/bias constants — the same documented stance as
the agg_cardinality_hll oracle entry's tolerance contract).

Values are hashed with the repo's vectorized XXH64
(`functions/xxhash64.spark_xxhash64_array`, Spark's seed-42 input
conventions), so an identical value set yields an identical sketch on
every engine and machine — estimates are deterministic.

Mergeable: registers combine by elementwise max, the standard HLL
merge — a per-segment partial sketch is 2^lg_k bytes regardless of
data size, the same two-phase shape as `percentiles_ddsketch`.
"""

from __future__ import annotations

import math

import numpy as np

DEFAULT_LG_K = 11        # rsd ~= 0.023, the reference's default

_SMALL_M_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def lg_k_for_rsd(rsd: float) -> int:
    """Smallest lg_k whose HLL standard error 1.04/sqrt(2^lg_k) <= rsd
    (how Spark's `approx_count_distinct(rsd=...)` sizes HLL++ too).
    Clamped to HyperLogLog's [4, 18] register range so any rsd the
    distributed engine accepts answers here too (an rsd below
    ~0.0026 gets the best available accuracy rather than a crash)."""
    if not rsd > 0:
        raise ValueError(f"rsd must be > 0, got {rsd}")
    m = (1.04 / float(rsd)) ** 2
    return min(18, max(4, math.ceil(math.log2(m))))


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0).  float log2 would
    mis-round near 2^53; this is exact binary reduction."""
    x = x.astype(np.uint64, copy=True)
    out = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = (x >> np.uint64(s)) > 0
        out[big] += s
        x[big] >>= np.uint64(s)
    out[x > 0] += 1
    return out


class HyperLogLog:
    __slots__ = ("lg_k", "m", "registers")

    def __init__(self, lg_k: int = DEFAULT_LG_K):
        if not 4 <= int(lg_k) <= 18:
            raise ValueError(f"lg_k {lg_k} out of range [4, 18]")
        self.lg_k = int(lg_k)
        self.m = 1 << self.lg_k
        self.registers = np.zeros(self.m, dtype=np.uint8)

    # -- build --------------------------------------------------------------
    def add_hashes(self, h: np.ndarray) -> None:
        """Insert precomputed 64-bit hashes (uint64/int64 array)."""
        h = np.asarray(h).view(np.uint64) if np.asarray(h).dtype == np.int64 \
            else np.asarray(h, dtype=np.uint64)
        if len(h) == 0:
            return
        idx = (h >> np.uint64(64 - self.lg_k)).astype(np.int64)
        p = 64 - self.lg_k                       # remaining-bits width
        w = h & ((np.uint64(1) << np.uint64(p)) - np.uint64(1))
        rho = (p - _bit_length_u64(w) + 1).astype(np.uint8)  # w=0 -> p+1
        np.maximum.at(self.registers, idx, rho)

    def add(self, values) -> None:
        """Insert a pandas Series / pyarrow array / sequence of values
        (strings or integers), hashed with the Spark-convention XXH64."""
        import pyarrow as pa

        from tantivy_spark.functions.xxhash64 import spark_xxhash64_array

        if isinstance(values, pa.Array):
            arr = values
        elif hasattr(values, "dtype"):            # pandas Series / ndarray
            arr = pa.Array.from_pandas(values)
        else:
            arr = pa.array(list(values))
        arr = arr.drop_null()
        if len(arr) == 0:
            return
        if not (pa.types.is_string(arr.type)
                or pa.types.is_large_string(arr.type)
                or pa.types.is_integer(arr.type)):
            arr = arr.cast(pa.string())   # canonical text form, per-engine
        self.add_hashes(spark_xxhash64_array(arr))

    # -- merge / estimate ---------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.lg_k != self.lg_k:
            raise ValueError(
                f"cannot merge HLL lg_k={other.lg_k} into lg_k={self.lg_k}")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def alpha(self) -> float:
        """The bias constant of the raw estimate: the published values
        for m = 16 / 32 / 64 (Flajolet et al. 2007), where the
        asymptotic 0.7213 / (1 + 1.079/m) is off (0.6757 at m = 16),
        and that formula from m = 128 on."""
        return _SMALL_M_ALPHA.get(self.m, 0.7213 / (1.0 + 1.079 / self.m))

    def estimate(self) -> float:
        m = float(self.m)
        alpha = self.alpha()
        inv = np.ldexp(1.0, -self.registers.astype(np.int64)).sum()
        e = alpha * m * m / inv
        if e <= 2.5 * m:                         # small-range correction
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * math.log(m / zeros)   # linear counting
        return float(e)

    # -- serialization (two-phase partials) ---------------------------------
    def to_array(self) -> np.ndarray:
        return self.registers.copy()

    @classmethod
    def from_array(cls, registers: np.ndarray) -> "HyperLogLog":
        lg_k = int(len(registers)).bit_length() - 1
        if (1 << lg_k) != len(registers):
            raise ValueError("register array length must be a power of 2")
        out = cls(lg_k)
        out.registers = np.asarray(registers, dtype=np.uint8).copy()
        return out
