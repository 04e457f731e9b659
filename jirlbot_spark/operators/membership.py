"""Per-bucket Bloom-filter sidecars — the DRUM RAM-fast-path analog.

The north rule pins "DRUM-style URL-seen deduplication reimplemented as a
partitioned bloom/cuckoo membership layer (pandas/Arrow UDFs over
canonicalized murmur3 URL hashes)". In the reference design (IRLbot paper,
DRUM section; reference tree empty at build time, SURVEY.md §0), a RAM-held
hot subset of the sorted cache lets most CHECK operations answer
"definitely not seen" without touching disk. This module is the Spark-first
incarnation:

  - `url_seen` is bucket-partitioned by `bucket = pmod(url_hash, K)`.
  - Each bucket owns ONE fixed-size Bloom bit-array FILE (numpy uint64,
    atomically replaced on rebuild/update). Fixed sizing keeps bitwise-OR
    union valid, so per-batch `update_bloom_files` is an O(new keys)
    incremental OR — the analog of DRUM merging a batch into cache file Z
    without rewriting it.
  - Probing is a mapInPandas pass (no shuffle): each Arrow batch computes
    its rows' buckets, loads the needed filter files once per worker
    process (cached by (path, mtime) so a rewritten file is always
    reloaded), and tests membership with vectorized double hashing.
    Output is a boolean column.

Correctness contract: a Bloom NEGATIVE is definitive (no false negatives
⇒ the key is certainly absent from the store); a POSITIVE is advisory and
falls through to the exact anti-join in `dedup.check_update_agg`.
Classification is therefore bit-identical with or without filters
(equivalence-tested in tests/test_membership.py) — the filters are purely
a physical fast path, exactly like DRUM's RAM layer.

What this buys at 10^10 keys: the exact join's probe set shrinks by the
batch's true-negative rate (for crawl frontiers, typically 60-90% of
extracted links are new), and Spark 4's runtime bloom filter then prunes
the url_seen scan from the other side — the two filters compose. Sizing:
with K=32 buckets and 2^33 bits/bucket (1 GiB), a 10^10-key store holds
~3.1e8 keys/bucket at ~0.4% FP with 7 hashes; this sandbox defaults to
2^24 bits (2 MiB) per bucket (see DEFAULT_LOG2_BITS for why local mode
needs small filters).

Hashing: keys are already murmur3-mixed 64-bit values (functions/hashing).
Double hashing (Kirsch-Mitzenmacher): position_i = (h1 + i*h2) mod m with
h2 forced odd and m a power of two.

Bloom vs cuckoo (the north rule allows either): a cuckoo filter's two
advantages are deletion support and better bits/key below ~3% FP. The
url_seen set is APPEND-ONLY by construction (a crawled URL never becomes
un-seen), so deletion buys nothing, while Bloom's bitwise-OR union is
what makes the incremental per-batch file update and the crash-safety
argument (pre-commit OR can only over-fill — storage.commit_batch) both
trivially correct; a cuckoo filter's displacement inserts have no
monotone union, so a crashed half-update could silently drop entries
(false negatives = wrong crawl). Bloom is therefore the right variant
for this store, not just the simpler one.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jirlbot_spark.session import DEFAULT_NUM_BUCKETS

# 2 MiB per bucket in the sandbox: every local-mode worker ends up
# probing (and caching) EVERY bucket, so the per-process footprint is
# num_buckets × filter size × num_workers — 16 MiB buckets OOM-killed
# workers at 32×32 on this box. A cluster sizes this up (SCALE.md: 2^33
# per bucket at 10^10 keys) because there each executor touches mostly
# its node's buckets and has the filter budget to itself.
DEFAULT_LOG2_BITS = 24
DEFAULT_NUM_HASHES = 7
MAYBE_COL = "__maybe_seen"

_U64 = np.uint64
_ERR = np.errstate(over="ignore")

# Worker-process cache of filter files, keyed by (path, mtime_ns): the
# path's CONTENT changes across batches (incremental OR rewrites the file),
# and Spark reuses Python workers across jobs — a path-only cache would let
# a long-lived worker probe with a stale filter missing the latest batch's
# keys, i.e. Bloom false negatives. A stat() per bucket per Arrow batch
# (~32 stats / 10k rows) buys exact freshness. LRU-capped in BYTES
# (JIRLBOT_BLOOM_CACHE_MB, default 256): a local-mode worker touches
# every bucket, and an unbounded cache multiplied across workers
# OOM-killed the box at 16 MiB×32×32.
from collections import OrderedDict  # noqa: E402

_FILTER_CACHE: OrderedDict[tuple[str, int], tuple[np.ndarray, int]] = (
    OrderedDict()
)
_CACHE_CAP_BYTES = (
    int(os.environ.get("JIRLBOT_BLOOM_CACHE_MB", "256")) * 1024 * 1024
)

# File format: np.save of uint64 [MAGIC, epoch, bits...]. The embedded
# epoch makes every filter file SELF-VALIDATING against the committed
# store, with a PER-BUCKET contract: file for bucket b is trustworthy
# iff its epoch >= the last batch that actually appended url_seen keys
# for bucket b (the caller derives that map from the store's run
# listing — see plans/loop.CrawlLoop._bucket_key_epochs). Why per
# bucket, not a global batch id: a bucket untouched for ten batches has
# a perfectly complete file at its old epoch, while a node-local dir
# that MISSED a batch which did write keys for that bucket holds a
# present-but-incomplete file — and that is precisely the case that
# produces Bloom FALSE NEGATIVES (re-crawls). An out-of-contract or
# headerless file is treated exactly like an absent one (no information
# ⇒ maybe ⇒ the exact join resolves), the same safe degradation as a
# missing file; update refuses to OR into it and deletes it instead of
# fresh-building from one batch. A file AHEAD of the expectation
# (crash after the pre-commit OR, re-run) is safe by the standing
# over-fill argument and is accepted.
_MAGIC = np.uint64(0x4A4C424C4F4F4D31)  # "JLBLOOM1"
_HDR = 2


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — derives the second hash stream from the key."""
    with _ERR:
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


def _positions(keys: np.ndarray, log2_bits: int, num_hashes: int):
    """Yield num_hashes position arrays (uint64) in [0, 2^log2_bits)."""
    h1 = keys.astype(np.int64).view(_U64)
    h2 = _splitmix64(h1) | _U64(1)
    mask = _U64((1 << log2_bits) - 1)
    with _ERR:
        for i in range(num_hashes):
            yield (h1 + _U64(i) * h2) & mask


def _bucket_path(dir_path: str, bucket: int) -> str:
    return os.path.join(dir_path, f"bucket_{bucket:05d}.npy")


def _load_filter(path: str) -> tuple[np.ndarray, int] | None:
    """(bits, epoch) of a filter file, or None if absent/unrecognized."""
    try:
        mtime = os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return None
    key = (path, mtime)
    if key not in _FILTER_CACHE:
        # drop superseded versions of this path before caching the new one
        for k in [k for k in _FILTER_CACHE if k[0] == path]:
            del _FILTER_CACHE[k]
        arr = np.load(path)
        if len(arr) < _HDR or arr[0] != _MAGIC:
            return None  # legacy/foreign file: no epoch ⇒ no information
        _FILTER_CACHE[key] = (arr[_HDR:], int(arr[1]))
        total = sum(v[0].nbytes for v in _FILTER_CACHE.values())
        while total > _CACHE_CAP_BYTES and len(_FILTER_CACHE) > 1:
            _, (old_bits, _) = _FILTER_CACHE.popitem(last=False)
            total -= old_bits.nbytes
    else:
        _FILTER_CACHE.move_to_end(key)
    return _FILTER_CACHE[key]


def _atomic_save(path: str, bits: np.ndarray, epoch: int) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    arr = np.concatenate([np.array([_MAGIC, np.uint64(epoch)]), bits])
    np.save(tmp, arr)
    os.replace(tmp + ".npy", path)


def _set_bits(
    bits: np.ndarray, keys: np.ndarray, log2_bits: int, num_hashes: int
) -> None:
    for pos in _positions(keys, log2_bits, num_hashes):
        np.bitwise_or.at(
            bits, (pos >> _U64(6)).astype(np.int64), _U64(1) << (pos & _U64(63))
        )


def _log2_of(bits: np.ndarray) -> int:
    """Filter files are self-describing: size is always a power of two, so
    the address width comes from the array, never from caller config (a
    mismatch would index out of bounds or silently probe wrong bits)."""
    return (len(bits) * 64).bit_length() - 1


def _test_bits(
    bits: np.ndarray, keys: np.ndarray, num_hashes: int
) -> np.ndarray:
    log2_bits = _log2_of(bits)
    hit = np.ones(len(keys), dtype=bool)
    for pos in _positions(keys, log2_bits, num_hashes):
        word = bits[(pos >> _U64(6)).astype(np.int64)]
        hit &= (word >> (pos & _U64(63))) & _U64(1) != 0
        if not hit.any():
            break
    return hit


BUILD_STATS_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_keys", LongType()),
        StructField("fill_ratio", DoubleType()),
        StructField("path", StringType()),
        StructField("epoch", LongType()),
        StructField("stale", BooleanType()),
    ]
)


def _build_or_update(
    dir_path: str,
    key_col: str,
    log2_bits: int,
    num_hashes: int,
    update: bool,
    epoch: int,
    bucket_key_epochs: dict[int, int] | None,
):
    def _stale_row(bucket: int, path: str) -> pd.DataFrame:
        # this node's file missed batches that wrote keys for its bucket
        # (or is headerless/foreign): an incremental OR would leave a
        # present-but-incomplete filter = Bloom false negatives. Make it
        # ABSENT instead (missing ⇒ "maybe" ⇒ exact join — safe);
        # build_bloom_files re-bootstraps it.
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_keys": [0],
                "fill_ratio": [0.0],
                "path": [path],
                "epoch": [-1],
                "stale": [True],
            }
        )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        path = _bucket_path(dir_path, bucket)
        bits = None
        file_epoch = None
        file_exists = update and os.path.exists(path)
        if file_exists:
            # fresh read — never OR into a cached copy
            arr = np.load(path)
            if len(arr) >= _HDR and arr[0] == _MAGIC:
                bits, file_epoch = arr[_HDR:].copy(), int(arr[1])
        if update:
            if file_exists and bits is None:
                return _stale_row(bucket, path)  # unparseable file
            if bucket_key_epochs is not None:
                need = bucket_key_epochs.get(bucket, -1)
                if bits is None:
                    # missing file: fresh-build is valid ONLY when the
                    # store holds no earlier keys for this bucket
                    if need >= 0:
                        return _stale_row(bucket, path)
                elif file_epoch < need:
                    return _stale_row(bucket, path)
        if bits is None:
            bits = np.zeros(1 << max(log2_bits - 6, 0), dtype=_U64)
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        _set_bits(bits, keys, _log2_of(bits), num_hashes)
        _atomic_save(path, bits, epoch)
        fill = float(np.unpackbits(bits.view(np.uint8)).mean())
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_keys": [len(keys)],
                "fill_ratio": [fill],
                "path": [path],
                "epoch": [epoch],
                "stale": [False],
            }
        )

    return fn


def build_bloom_files(
    seen: DataFrame,
    dir_path: str,
    key_col: str = "url_hash",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    log2_bits: int = DEFAULT_LOG2_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    epoch: int = 0,
) -> pd.DataFrame:
    """(Re)build one filter file per bucket from the full store, stamped
    with `epoch` (the batch id the store is committed through). One task
    per bucket (groupBy shuffle on the bucket id), atomic per-file replace.
    Returns per-bucket stats; fill_ratio > ~0.5 means undersized filters
    (raise log2_bits and rebuild — FP rate degrades, correctness never)."""
    os.makedirs(dir_path, exist_ok=True)
    keyed = seen.select(
        F.col(key_col),
        F.pmod(F.col(key_col), F.lit(num_buckets)).cast("int").alias("bucket"),
    )
    stats = keyed.groupBy("bucket").applyInPandas(
        _build_or_update(
            dir_path, key_col, log2_bits, num_hashes, False, epoch, None
        ),
        schema=BUILD_STATS_SCHEMA,
    )
    return stats.toPandas()


def parse_run_batch(run_name: str) -> int:
    """Effective batch id encoded in a url_seen run/compaction dir name
    (b%08d_... or compact_b%08d_...); -1 if none."""
    import re

    m = re.search(r"b(\d{8})", run_name)
    return int(m.group(1)) if m else -1


def update_bloom_files(
    new_keys: DataFrame,
    dir_path: str,
    key_col: str = "url_hash",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    log2_bits: int = DEFAULT_LOG2_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    epoch: int = 0,
    bucket_key_epochs: dict[int, int] | None = None,
) -> pd.DataFrame:
    """Incremental OR of a batch's newly-unique keys into the bucket files
    — the per-batch DRUM merge analog; cost O(batch), not O(store).

    Per-bucket epoch contract (multi-node safety): `bucket_key_epochs`
    maps bucket -> last batch that wrote url_seen keys for it (from the
    STORE's run listing — CrawlLoop._bucket_key_epochs). A bucket's file
    is ORed into only when its embedded epoch >= that value (a file
    ahead of it — crash re-run — is safe by the over-fill argument); a
    file BEHIND it missed committed keys and is deleted instead of ORed
    (stale=True in the stats), and a MISSING file is fresh-built only
    when the store holds no earlier keys for that bucket — otherwise a
    fresh-from-one-batch filter would be present-but-incomplete = Bloom
    false negatives on this node. bucket_key_epochs = None skips
    validation (single-node / shared-dir legacy mode).

    Single-writer discipline (one driver loop commits batches serially, as
    the storage manifest already requires) — concurrent updaters could
    lose each other's bits."""
    os.makedirs(dir_path, exist_ok=True)
    keyed = new_keys.select(
        F.col(key_col),
        F.pmod(F.col(key_col), F.lit(num_buckets)).cast("int").alias("bucket"),
    )
    stats = keyed.groupBy("bucket").applyInPandas(
        _build_or_update(
            dir_path, key_col, log2_bits, num_hashes, True, epoch,
            bucket_key_epochs,
        ),
        schema=BUILD_STATS_SCHEMA,
    )
    return stats.toPandas()


def bloom_probe(
    batch: DataFrame,
    dir_path: str,
    key_col: str = "url_hash",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    log2_bits: int = DEFAULT_LOG2_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    out_col: str = MAYBE_COL,
    min_epoch: int | None = None,
    bucket_key_epochs: dict[int, int] | None = None,
) -> DataFrame:
    """Attach `out_col`: False ⇒ key certainly NOT in the store; True ⇒
    maybe (resolve with the exact join). mapInPandas — no shuffle; filter
    files load once per worker process, cached by (path, mtime). A missing
    bucket file means "no information" ⇒ True for that bucket's rows, and
    so does a file that fails the epoch contract: its embedded epoch must
    be >= `bucket_key_epochs[bucket]` (the last batch that wrote keys for
    that bucket per the STORE — the per-bucket contract) and, when the
    scalar `min_epoch` is given instead, >= min_epoch for every bucket (a
    blunter test, used by standalone callers). Out-of-contract = a
    node-local file that missed committed keys — probing it would yield
    false negatives. Address width comes from each file
    (self-describing); `log2_bits` is accepted for signature symmetry but
    never trusted for probing."""
    from pyspark.sql.types import BooleanType

    schema = StructType(
        batch.schema.fields + [StructField(out_col, BooleanType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            buckets = keys % num_buckets  # matches F.pmod for positive K
            maybe = np.ones(len(pdf), dtype=bool)
            for b in np.unique(buckets):
                loaded = _load_filter(_bucket_path(dir_path, int(b)))
                sel = buckets == b
                if loaded is None:
                    continue  # no file -> no information -> maybe
                bits, file_epoch = loaded
                need = -1
                if bucket_key_epochs is not None:
                    need = bucket_key_epochs.get(int(b), -1)
                if min_epoch is not None:
                    need = max(need, min_epoch)
                if file_epoch < need:
                    continue  # out-of-contract ≡ absent (false-neg guard)
                maybe[sel] = _test_bits(bits, keys[sel], num_hashes)
            out = pdf.copy()
            out[out_col] = maybe
            yield out

    return batch.mapInPandas(run, schema=schema)
