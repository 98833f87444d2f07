"""Frequent Directions: a mergeable matrix sketch.

Liberty, "Simple and deterministic matrix sketching" (KDD 2013);
Ghashami, Liberty, Phillips & Woodruff, "Frequent Directions: simple
and deterministic matrix sketching" (SIAM J. Computing 45(5), 2016).
Extends the reference's RNLA surface (include/rnla.h sketches matrices
by count-sketch transforms; FD is the deterministic sibling the paper
family always pairs with it — not present in the vendored headers, so
implemented from the publications).

State: at most ``2*ell`` retained rows of width d. When the buffer
fills, one SVD shrinks it to ``ell`` rows by subtracting the
(ell+1)-th squared singular value from every retained direction:
``B <- sqrt(max(S^2 - S[ell]^2, 0)) @ Vt``. The covariance estimate
``B^T B`` then satisfies the deterministic guarantee

    0  <=  x^T (A^T A - B^T B) x  <=  ||A||_F^2 / ell   for unit x

and the sketch MERGES: concatenating two sketches' rows and shrinking
preserves the same bound (Ghashami et al. §3.2), which is what makes
it a Spark partial+final aggregate like every other sketch here.

Exact regime (the strict driver-query gate): while the total number
of appended rows never exceeds the buffer, no shrink ever fires and B
IS the input row multiset — ``gram()`` equals ``A^T A`` exactly; with
integer-valued inputs the float sums are order-independent too, so a
distributed build matches DuckDB bit-for-bit (the same plumbing-
under-strict-gate pattern as KLL's delta>=n regime).

Scale shape: the state is ell x d float64 (e.g. 128 x 1024 = 1 MB)
independent of row count — per-partition partial sketches + a
tree-fold of blobs, identical to every other build_sketch family; at
100 TB the corpus streams through Arrow batches and only ell-row
matrices ever shuffle.
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch

__all__ = ["FrequentDirections", "fd_trace_g01"]


def fd_trace_g01(sk: "FrequentDirections") -> list:
    """Picklable finalize for the grouped harness: [trace(B^T B),
    (B^T B)[0,1]] — two scalars that summarize the covariance sketch
    and are exact integers in the quantized exact regime."""
    G = sk.gram()
    return [float(np.trace(G)), float(G[0, 1])]


class FrequentDirections(Sketch):
    MAGIC = b"SKFD"
    HEADER, FIELDS = "III", ("ell", "d", "#rows")
    ARRAYS = (("rows", "<f8", ("#rows", "d")),)

    def __init__(self, ell: int = 64, d: int = 64,
                 rows: np.ndarray | None = None):
        self.ell = int(ell)
        self.d = int(d)
        self.rows = (np.zeros((0, self.d), dtype=np.float64)
                     if rows is None else rows)

    # -- update ------------------------------------------------------
    def update(self, vals: np.ndarray) -> None:
        """vals: object ndarray of length-d vectors (one Arrow column
        batch) or an (n, d) matrix."""
        if len(vals) == 0:
            return
        X = (np.asarray(vals, dtype=np.float64) if vals.ndim == 2
             else np.stack([np.asarray(v, dtype=np.float64)
                            for v in vals]))
        if X.shape[1] != self.d:
            raise ValueError(f"dim {X.shape[1]} != {self.d}")
        self._append(X)

    def _append(self, X: np.ndarray) -> None:
        cap = 2 * self.ell
        buf = np.vstack([self.rows, X])
        while buf.shape[0] > cap:
            head, buf = buf[:cap], buf[cap:]
            buf = np.vstack([self._shrink(head), buf])
        self.rows = buf

    def _shrink(self, M: np.ndarray) -> np.ndarray:
        """One FD step: SVD, subtract the (ell+1)-th squared singular
        value, keep the ell surviving directions."""
        _, S, Vt = np.linalg.svd(M, full_matrices=False)
        if S.size <= self.ell:
            # rank(M) <= ell: no direction must be sacrificed — return
            # the EXACT compression diag(S) @ Vt (<= d rows), which
            # preserves M^T M and still drains the buffer (the d < ell
            # case would otherwise loop forever)
            return S[:, None] * Vt
        delta = S[self.ell] ** 2
        s2 = np.maximum(S[:self.ell] ** 2 - delta, 0.0)
        return np.sqrt(s2)[:, None] * Vt[:self.ell]

    # -- merge / estimate --------------------------------------------
    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        # a real exception, not assert: merging mismatched geometries
        # under python -O would silently produce a sketch with neither
        # party's error bound
        if (self.ell, self.d) != (other.ell, other.d):
            raise ValueError(f"geometry mismatch: ({self.ell},{self.d})"
                             f" vs ({other.ell},{other.d})")
        if other.rows.shape[0]:
            self._append(other.rows)
        return self

    def gram(self) -> np.ndarray:
        """The covariance estimate B^T B (d x d)."""
        if self.rows.shape[0] == 0:
            return np.zeros((self.d, self.d))
        return self.rows.T @ self.rows

    def quad_form(self, x: np.ndarray) -> float:
        """x^T B^T B x — the squared norm of A x, up to the FD bound."""
        v = self.rows @ np.asarray(x, dtype=np.float64)
        return float(v @ v)
