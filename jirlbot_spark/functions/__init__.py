"""Scalar/column function surface: URL canonicalization, PLD extraction,
hashing (xxhash64 engine keys + bit-exact murmur3-128), image codecs +
perceptual hash, and text analysis. All Python execution is Arrow-batched
(Arrow/pandas UDFs, mapInArrow) over vectorized pyarrow/numpy/pandas ops —
zero per-row Python UDFs.
"""
