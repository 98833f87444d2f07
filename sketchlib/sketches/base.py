"""Sketch protocol + blob registry.

Every sketch class implements:
  - ``update(vals: np.ndarray)``  (uint64 batch; some take other dtypes)
  - ``merge(other) -> self``      (associative & commutative)
  - ``to_bytes() / from_bytes``   (4-byte MAGIC-prefixed blob)
  - an estimator (``estimate`` / ``result`` / sketch-specific)

The registry lets the generic Spark harness merge serialized partials
without knowing the concrete type (the blob's MAGIC dispatches).
"""

from __future__ import annotations


_REGISTRY: dict[bytes, type] = {}


def register(cls: type) -> type:
    _REGISTRY[cls.MAGIC] = cls
    return cls


def deserialize(blob: bytes):
    cls = _REGISTRY.get(bytes(blob[:4]))
    if cls is None:
        # lazy-register the built-in sketch modules (executors hit this
        # on their first merge)
        import sketchlib.sketches  # noqa: F401  (registers on import)
        cls = _REGISTRY.get(bytes(blob[:4]))
    if cls is None:
        raise ValueError(f"unknown sketch magic {blob[:4]!r}")
    return cls.from_bytes(blob)


def fold_blobs(blobs, acc=None):
    """Merge serialized sketches, in order, into ``acc`` (default: the
    first blob's sketch). Returns ``acc`` unchanged when ``blobs`` is
    empty, so an empty fold with no ``acc`` returns ``None``."""
    for b in blobs:
        sk = deserialize(bytes(b))
        acc = sk if acc is None else acc.merge(sk)
    return acc
