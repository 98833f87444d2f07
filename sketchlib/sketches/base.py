"""Sketch protocol, blob codec and registry.

Every sketch class implements ``update`` (a uint64 batch; some take
other dtypes), ``merge(other) -> self`` (associative and commutative),
an estimator, and the blob pair ``to_bytes`` / ``from_bytes``, which
:class:`Sketch` derives from the class's declaration:

- ``MAGIC``: the blob's first four bytes. Defining it registers the
  class; a MAGIC another class holds raises.
- ``VERSION``: the byte after MAGIC (``None``: no version byte).
- ``HEADER``, ``FIELDS``: the struct codes (little-endian, unpadded)
  after the version byte and the attribute each holds. A dotted field
  reads a nested attribute and comes back under its last name; a field
  ``"#name"`` holds the length of array ``name``.
- ``ARRAYS``: ``(attribute, coding, shape)`` in blob order after the
  header; ``shape`` is a header field, a tuple of them, or a function
  of the header (``lambda h: 1 << h.p``). The coding is a numpy dtype
  string (the C-order bytes), :class:`Sparse`, :class:`Narrow`, or a
  sketch class (a list of nested blobs, each after its u64 length).

``from_bytes`` checks the magic, the version and that the payload ends
where the declaration does, then passes fields and arrays to
``__init__`` by name and sets the rest as attributes (or calls the
class's own ``_new``). A bad blob raises ``ValueError`` naming the
class. A layout no flat declaration says writes its own pair with the
:class:`Writer` and :class:`Reader` primitives.

The sparse rule (:func:`sparse`) writes the ``nnz`` nonzero cells of a
``size``-cell array as (index, value) entries when ``nnz * entry +
fixed < size * cell``. HyperLogLog (``entry`` 5) and the Bloom filters
(6) weigh cells; the narrow count-min codes weigh bytes.

The registry lets the Spark harness merge serialized partials without
knowing their type: the blob's MAGIC dispatches (:func:`deserialize`).
"""

from __future__ import annotations

import inspect
import math
import struct
from operator import attrgetter
from types import SimpleNamespace
from typing import NamedTuple

import numpy as np

_REGISTRY: dict[bytes, type] = {}


def register(cls: type) -> type:
    held = _REGISTRY.setdefault(cls.MAGIC, cls)
    if held is not cls:
        raise ValueError(f"{cls.__name__}: {held.__name__} has its magic")
    return cls


def sparse(nnz: int, size: int, entry: int, cell: int = 1,
           fixed: int = 0) -> bool:
    """The sparse rule (see the module docstring)."""
    return nnz * entry + fixed < size * cell


class Writer:
    """The pieces of one blob; :meth:`finish` packs the header last,
    once the arrays have set its version and code bytes."""

    def __init__(self, cls: type):
        self.cls, self.version = cls, cls.VERSION
        self.codes, self.parts = [], []

    def pack(self, codes: str, *vals) -> None:
        self.parts.append(struct.pack("<" + codes, *vals))

    def array(self, arr, dtype) -> None:
        self.parts.append(np.asarray(arr).astype(dtype, copy=False)
                          .tobytes())

    def blob(self, blob: bytes) -> None:
        self.pack("Q", len(blob))
        self.parts.append(blob)

    def finish(self, codes: str, *fields) -> bytes:
        head = [] if self.version is None else [self.version]
        fmt = "<" + "B" * len(head) + codes + "B" * len(self.codes)
        return b"".join([self.cls.MAGIC,
                         struct.pack(fmt, *head, *fields, *self.codes),
                         *self.parts])


class Reader:
    """A cursor over one blob of ``cls`` that checks its magic and
    version, then reads the pieces in order."""

    def __init__(self, cls: type, data: bytes):
        self.name, self.data, self.pos = cls.__name__, data, 4
        if bytes(data[:4]) != cls.MAGIC:
            self.fail(f"magic {bytes(data[:4])!r}")
        self.version = None
        if cls.VERSION is not None:
            (self.version,) = self.unpack("B")
            if self.version not in cls._versions:
                self.fail(f"unknown version {self.version}")

    def fail(self, what) -> None:
        raise ValueError(f"{self.name} blob: {what}")

    def take(self, n: int) -> int:
        """The offset of the next ``n`` bytes."""
        start, self.pos = self.pos, self.pos + n
        if self.pos > len(self.data):
            self.fail(f"short payload ({len(self.data)} of {self.pos} "
                      f"bytes)")
        return start

    def unpack(self, codes: str) -> tuple:
        fmt = "<" + codes
        return struct.unpack_from(fmt, self.data,
                                  self.take(struct.calcsize(fmt)))

    def array(self, dtype, count: int) -> np.ndarray:
        """A read-only view of the next ``count`` items."""
        dtype = np.dtype(dtype)
        return np.frombuffer(self.data, dtype, count,
                             self.take(count * dtype.itemsize))

    def cells(self, count: str, index, dtype, size: int, out) -> np.ndarray:
        """The next sparse entries as a flat ``size``-cell ``out`` array."""
        (n,) = self.unpack(count)
        idx, vals = self.array(index, n), self.array(dtype, n)
        out = np.zeros(size, dtype=out)
        try:
            out[idx] = vals
        except IndexError:
            self.fail("sparse index out of range")
        return out

    def blob(self, cls: type, n: int | None = None):
        """The nested ``cls`` sketch in the next ``n`` bytes (default:
        a u64 length, then that many)."""
        if n is None:
            (n,) = self.unpack("Q")
        start = self.take(n)
        try:
            return cls.from_bytes(self.data[start:self.pos])
        except ValueError as e:
            self.fail(e)

    def rest(self, cls: type):
        """The nested ``cls`` sketch that ends the blob."""
        return self.blob(cls, len(self.data) - self.pos)

    def done(self) -> None:
        if self.pos != len(self.data):
            self.fail(f"{len(self.data) - self.pos} bytes past the payload")


def _count(shape) -> int:
    return math.prod(shape) if isinstance(shape, tuple) else shape


class Plain(NamedTuple):
    dtype: str

    def put(self, w: Writer, arr) -> None:
        w.array(arr, self.dtype)

    def get(self, r: Reader, shape) -> np.ndarray:
        return r.array(self.dtype, _count(shape)).reshape(shape).copy()


class Sparse(NamedTuple):
    """An array of ``dtype``, sparse under the rule with ``entry`` (the
    entry count as struct code ``count``, then u32 indices and the
    values; the blob's version is then ``VERSION``), else dense."""
    dtype: str
    entry: int
    count: str = "Q"
    VERSION = 2

    def put(self, w: Writer, arr: np.ndarray) -> None:
        flat = arr.reshape(-1)
        nz = np.flatnonzero(flat)
        if not sparse(nz.size, flat.size, self.entry):
            return w.array(flat, self.dtype)
        w.version = self.VERSION
        w.pack(self.count, nz.size)
        w.array(nz, "<u4")
        w.array(flat[nz], self.dtype)

    def get(self, r: Reader, shape) -> np.ndarray:
        if r.version != self.VERSION:
            return Plain(self.dtype).get(r, shape)
        return r.cells(self.count, "<u4", self.dtype, _count(shape),
                       self.dtype).reshape(shape)


_NARROW = [(np.uint8, 0), (np.uint16, 1), (np.uint32, 2), (np.uint64, 3)]
_CODE_DTYPE = {c: d for d, c in _NARROW}
_SPARSE_BIT = 0x80


def _pack_cells(w: Writer, size: int, idx: np.ndarray | None,
                vals: np.ndarray) -> int:
    """Write a nonnegative integer array (uint64 or int32) of ``size``
    cells at its narrowest lossless width, sparse (int64 indices +
    values) when that is smaller, and return its code byte (low 2 bits:
    width, high bit: sparse). A partial CM at w=2^20 is ~5% nonzero:
    ~2 MB instead of ~15 MB. With ``idx`` ``None``, ``vals`` is the
    whole flat array; else the array is zero outside the ascending flat
    cells ``idx``, which hold ``vals`` (zeros among them are dropped).
    A whole array is never gathered or scattered on the dense side: on
    a full 7x2^20 table that doubled the packing time."""
    whole = None
    if idx is None:
        # a boolean mask first: flatnonzero of a uint64 array is slower
        whole, idx = vals, np.flatnonzero(vals != 0)
    else:
        keep = vals != 0
        if not keep.all():
            idx, vals = idx[keep], vals[keep]
    mx = int(vals.max()) if vals.size else 0
    code = next(c for dt, c in _NARROW if mx <= np.iinfo(dt).max)
    dt = _CODE_DTYPE[code]
    itemsize = np.dtype(dt).itemsize
    if sparse(idx.size, size, 8 + itemsize, itemsize, 8):
        if whole is not None:
            vals = whole[idx]
        w.pack("Q", idx.size)
        w.array(idx, np.int64)
        w.array(vals, dt)
        return code | _SPARSE_BIT
    if whole is None:
        whole = np.zeros(size, dt)
        whole[idx] = vals
    w.array(whole, dt)
    return code


class Narrow(NamedTuple):
    """A nonnegative integer table of ``dtype`` packed by
    :func:`_pack_cells`; its code byte ends the header. ``put`` also
    takes ``(size, cells, values)``: a flat ``size``-cell table that is
    zero outside the ascending flat ``cells``."""
    dtype: type

    def put(self, w: Writer, arr) -> None:
        size, cells, vals = (arr if isinstance(arr, tuple)
                             else (arr.size, None, arr.reshape(-1)))
        if np.dtype(self.dtype).kind == "i":
            # e.g. OCCM collision marks: round numbers, mostly zero early
            assert vals.min(initial=0) >= 0
        w.codes.append(_pack_cells(w, size, cells, vals))

    def get(self, r: Reader, shape) -> np.ndarray:
        code = r.codes.pop(0)
        if code & ~(_SPARSE_BIT | 0x03):
            r.fail(f"code byte {code:#x}")
        dt = _CODE_DTYPE[code & 0x03]
        if code & _SPARSE_BIT:
            return r.cells("Q", np.int64, dt, _count(shape),
                           self.dtype).reshape(shape)
        return r.array(dt, _count(shape)).astype(self.dtype).reshape(shape)


class Nested(NamedTuple):
    cls: type

    def put(self, w: Writer, sketches) -> None:
        for sk in sketches:
            w.blob(sk.to_bytes())

    def get(self, r: Reader, n: int) -> list:
        return [r.blob(self.cls) for _ in range(n)]


def _shape(spec, h):
    if callable(spec):
        return spec(h)
    if isinstance(spec, tuple):
        return tuple(getattr(h, s) for s in spec)
    return getattr(h, spec)


def _field(sk, field: str):
    if field[0] == "#":
        return len(attrgetter(field[1:])(sk))
    return attrgetter(field)(sk)


class Sketch:
    """Base of every sketch class: the blob codec of its declaration,
    and a batch update through ``update_weighted``."""

    MAGIC: bytes
    VERSION: int | None = 1
    HEADER = ""
    FIELDS: tuple[str, ...] = ()
    ARRAYS: tuple = ()

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        cls._codings = [
            c if isinstance(c, (Sparse, Narrow))
            else Nested(c) if isinstance(c, type) and issubclass(c, Sketch)
            else Plain(c) for _, c, _ in cls.ARRAYS]
        cls._narrow = sum(isinstance(c, Narrow) for c in cls._codings)
        cls._versions = {cls.VERSION} | {c.VERSION for c in cls._codings
                                         if isinstance(c, Sparse)}
        cls._init = frozenset(inspect.signature(cls).parameters)
        if "MAGIC" in vars(cls):
            register(cls)

    def update(self, vals: np.ndarray) -> None:
        """The batch's distinct values, each weighted by its count (for
        the classes that define ``update_weighted``)."""
        if len(vals) == 0:
            return
        u, c = np.unique(np.asarray(vals, dtype=np.uint64),
                         return_counts=True)
        self.update_weighted(u, c)

    def to_bytes(self) -> bytes:
        return self._pack([_field(self, f) for f in self.FIELDS],
                          [attrgetter(a)(self) for a, _, _ in self.ARRAYS])

    @classmethod
    def _pack(cls, fields, arrays) -> bytes:
        w = Writer(cls)
        for coding, arr in zip(cls._codings, arrays):
            coding.put(w, arr)
        return w.finish(cls.HEADER, *fields)

    @classmethod
    def from_bytes(cls, data: bytes):
        r = Reader(cls, data)
        vals = r.unpack(cls.HEADER + "B" * cls._narrow)
        r.codes = list(vals[len(cls.FIELDS):])
        h = {f.rpartition(".")[2]: v for f, v in zip(cls.FIELDS, vals)}
        ns = SimpleNamespace(**h)
        arrays = {a.rpartition(".")[2]: coding.get(r, _shape(spec, ns))
                  for (a, _, spec), coding in zip(cls.ARRAYS, cls._codings)}
        r.done()
        return cls._new(**{k: v for k, v in h.items() if k[0] != "#"},
                        **arrays)

    @classmethod
    def _new(cls, **kw):
        sk = cls(**{k: kw.pop(k) for k in cls._init & kw.keys()})
        vars(sk).update(kw)
        return sk


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
