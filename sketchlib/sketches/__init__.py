"""Sketch implementations; importing this package registers all blob
types with the merge registry (sketchlib.sketches.base)."""

from sketchlib.sketches.base import register
from sketchlib.sketches.bbmh import OnePermMinHash
from sketchlib.sketches.bloom import BloomFilter
from sketchlib.sketches.cbf import CountingBloom
from sketchlib.sketches.cm import CMConfig, CountMin, OfflineCountMin
from sketchlib.sketches.cml import CountMinLog
from sketchlib.sketches.countsketch import CountSketch
from sketchlib.sketches.cs4w import CountSketch4W
from sketchlib.sketches.dd import DDSketch
from sketchlib.sketches.fd import FrequentDirections
from sketchlib.sketches.gadgets import FilterHLL, HyperBitBit, ModSketch
from sketchlib.sketches.hk import HeavyKeeper
from sketchlib.sketches.hll import HyperLogLog
from sketchlib.sketches.hmh import HyperMinHash
from sketchlib.sketches.kll import KLL
from sketchlib.sketches.mg import MisraGries
from sketchlib.sketches.mh import MinHashBottomK
from sketchlib.sketches.packedcm import CountMinPacked
from sketchlib.sketches.pcbf import PCBF
from sketchlib.sketches.pcsa import PCSA
from sketchlib.sketches.setsketch import SetSketch
from sketchlib.sketches.tdigest import TDigest
from sketchlib.sketches.vac import VACSketch
from sketchlib.sketches.wmh import CountingMinHash

for _cls in (CountMin, OfflineCountMin, HyperLogLog, BloomFilter, TDigest,
             KLL, CountSketch, PCSA, MinHashBottomK, HeavyKeeper,
             CountingBloom, CountMinLog, CountSketch4W, OnePermMinHash,
             CountingMinHash, FilterHLL, HyperBitBit, ModSketch, PCBF,
             VACSketch, HyperMinHash, SetSketch, DDSketch,
             FrequentDirections, MisraGries, CountMinPacked):
    register(_cls)
