"""HyperLogLog with Ertl's improved estimator.

Semantics follow the reference's vendored HLL (reference:
include/hll.h): register index = top ``p`` hash bits (hll.h:761),
register value = ``clz(((h << 1) | 1) << (p - 1)) + 1`` (hll.h:715),
elementwise-max merge (hll.h:957-991). The estimator is the
ERTL_IMPROVED path (hll.h:228-237, σ/τ helpers hll.h:22-50), i.e.
Algorithm 6 of Ertl, "New cardinality estimation algorithms for
HyperLogLog sketches" (arXiv:1702.01284) — a published algorithm,
implemented here from the paper.

Expected relative standard error ≈ 1.03896 / sqrt(m) (hll.h:739).
Values are WangHash-mixed on update so callers can feed raw token
hashes or small integers alike.
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib.hashing import clz64, wang_hash_u64
from sketchlib.sketches.base import Sketch, Sparse

_U64 = np.uint64


def _sigma(x: float) -> float:
    """Ertl Alg. 6 helper: sum_{k>=1} x^(2^k) * 2^(k-1) + x."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prev:
            return z


def _improved_estimate(counts: np.ndarray, m: int, q: int) -> float:
    """Ertl Algorithm 6 (improved estimator) from a register histogram."""
    m = float(m)
    z = m * _tau(1.0 - counts[q + 1] / m)
    for k in range(q, 0, -1):
        z = 0.5 * (z + counts[k])
    z += m * _sigma(counts[0] / m)
    alpha_inf = 1.0 / (2.0 * math.log(2.0))
    return alpha_inf * m * m / z


def _ml_estimate(counts: np.ndarray, p: int, q: int,
                 relerr: float = 1e-2) -> float:
    """Ertl Algorithm 8: maximum-likelihood cardinality from a register
    histogram ``counts[0..q+1]``, solved by the paper's secant method
    with the Poisson-probability recurrence for the derivative terms.
    Used by the joint (intersection) estimator, which needs MLEs of
    sketches at two different rank resolutions (q and q-1)."""
    m = 1 << p
    if counts[q + 1] == m:
        return math.inf
    k_min = int(np.flatnonzero(counts)[0])
    k_min_p = max(1, k_min)
    k_max = int(np.flatnonzero(counts[:q + 2])[-1])
    k_max_p = min(q, k_max)
    z = 0.0
    for k in range(k_max_p, k_min_p - 1, -1):
        z = 0.5 * z + float(counts[k])
    z = math.ldexp(z, -k_min_p)
    c_prime = float(counts[q + 1])
    if q >= 1:
        c_prime += float(counts[k_max_p])
    a = z + float(counts[0])
    m_prime = m - int(counts[0])
    # starting point: weak lower bound from the paper
    g_prev = z + math.ldexp(float(counts[q + 1]), -q)
    if g_prev <= 1.5 * a:
        x = m_prime / (0.5 * g_prev + a)
    else:
        x = (m_prime / g_prev) * math.log1p(g_prev / a)
    g_prev = 0.0
    delta_x = x
    eps = relerr / math.sqrt(m)
    while delta_x > x * eps:
        kappa = math.frexp(x)[1]  # binary exponent of x
        x_prime = math.ldexp(x, -max(k_max_p + 1, kappa + 2))
        x_pp = x_prime * x_prime
        # Taylor start of h(x) = 1 - exp(-x') tail recurrence
        h = x_prime - x_pp / 3 + (x_pp * x_pp) * (1.0 / 45 - x_pp / 472.5)
        for _ in range(kappa, k_max_p - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
        g = c_prime * h
        for k in range(k_max_p - 1, k_min_p - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
            g += float(counts[k]) * h
        g += x * a
        if g_prev < g <= m_prime:
            delta_x *= (g - m_prime) / (g_prev - g)
        else:
            delta_x = 0.0
        x += delta_x
        g_prev = g
    return x * m


class HyperLogLog(Sketch):
    MAGIC = b"SKHL"
    HEADER, FIELDS = "I", ("p",)
    # (index, rank) pairs, a u32 count, below 1/5 of the registers set:
    # the reference's sparse-then-dense promotion (include/sparse.h),
    # for the low-cardinality partials of grouped merges
    ARRAYS = (("registers", Sparse("u1", 5, count="I"),
               lambda h: 1 << h.p),)

    def __init__(self, p: int = 14, registers: np.ndarray | None = None):
        assert 4 <= p <= 18
        self.p = p
        self.m = 1 << p
        if registers is None:
            registers = np.zeros(self.m, dtype=np.uint8)
        self.registers = registers

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64))
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        # rank of the remaining q bits, sentinel bit keeps clz bounded
        rest = ((h << _U64(1)) | _U64(1)) << _U64(self.p - 1)
        rank = (clz64(rest) + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        assert self.p == other.p
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        q = 64 - self.p
        counts = np.bincount(self.registers, minlength=q + 2)
        return _improved_estimate(counts, self.m, q)

    @property
    def relative_error(self) -> float:
        return 1.03896 / math.sqrt(self.m)

    # ---- set algebra (union / intersection estimators) ----------------
    #
    # Semantics follow the reference's vendored HLL set operations
    # (reference include/hll.h:1124-1140 union_size, :636-689
    # ertl_joint); both are published algorithms from the same Ertl
    # paper (arXiv:1702.01284): union = estimate over elementwise-max
    # registers; joint A-only/B-only/intersection via the joint MLE
    # construction of Section 4 (register-pair histograms + the two
    # "half-resolution" pseudo-sketches), each solved with the paper's
    # Algorithm 8 maximum-likelihood estimator.

    def union_size(self, other: "HyperLogLog") -> float:
        """Estimated |A ∪ B| without mutating either sketch."""
        assert self.p == other.p
        q = 64 - self.p
        cu = np.bincount(np.maximum(self.registers, other.registers),
                         minlength=q + 2)
        return _improved_estimate(cu, self.m, q)

    def joint_estimates(self, other: "HyperLogLog") -> tuple[float, float, float]:
        """(|A \\ B|, |B \\ A|, |A ∩ B|) via Ertl's joint MLE."""
        assert self.p == other.p
        p, m = self.p, self.m
        q = 64 - p
        a, b = self.registers, other.registers
        c1 = np.bincount(a, minlength=q + 2).astype(np.int64)
        c2 = np.bincount(b, minlength=q + 2).astype(np.int64)
        cu = np.bincount(np.maximum(a, b), minlength=q + 2).astype(np.int64)
        gt, lt, eq = a > b, a < b, a == b
        cg1 = np.bincount(a[gt], minlength=q + 2).astype(np.int64)
        cg2 = np.bincount(b[lt], minlength=q + 2).astype(np.int64)
        ceq = np.bincount(a[eq], minlength=q + 2).astype(np.int64)

        est_a = _ml_estimate(c1, p, q)
        est_b = _ml_estimate(c2, p, q)
        est_u = _ml_estimate(cu, p, q)

        # half-resolution pseudo-sketches (register value halved by one
        # bit of rank): counts at q' < q combine "greater", "equal" and
        # the other sketch's next rank; slot q absorbs the rest
        axb = np.zeros(q + 1, dtype=np.int64)
        bxa = np.zeros(q + 1, dtype=np.int64)
        for k in range(q):
            axb[k] = cg1[k] + ceq[k] + cg2[k + 1]
            bxa[k] = cg2[k] + ceq[k] + cg1[k + 1]
        axb[q] = m - axb[:q].sum()
        bxa[q] = m - bxa[:q].sum()
        est_axb = _ml_estimate(axb, p, q - 1)
        est_bxa = _ml_estimate(bxa, p, q - 1)

        only_a = max(0.0, est_u - est_b)
        only_b = max(0.0, est_u - est_a)
        x1 = 1.5 * est_b + 1.5 * est_a - est_bxa - est_axb
        x2 = 2.0 * (est_bxa + est_axb) - 3.0 * est_u
        inter = max(0.0, 0.5 * (x1 + x2))
        return only_a, only_b, inter

    def intersection_size(self, other: "HyperLogLog") -> float:
        return self.joint_estimates(other)[2]
