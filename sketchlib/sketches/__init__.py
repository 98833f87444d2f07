"""Sketch implementations; importing this package registers every
blob type with the merge registry (sketchlib.sketches.base): a class
registers itself when it is defined."""

from sketchlib.sketches import (  # noqa: F401
    bbmh, bloom, cbf, cm, cml, countsketch, cs4w, dd, fd, gadgets, hk, hll,
    hmh, kll, mg, mh, packedcm, pcbf, pcsa, setsketch, tdigest, vac, wmh)
