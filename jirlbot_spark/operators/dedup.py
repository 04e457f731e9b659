"""DRUM check+update, Spark-first.

The reference's DRUM (IRLbot paper; at.rovo.caching.drum in the reference
dependency tree — tree empty at build time, SURVEY.md §0) classifies a batch
of keyed tuples against a persistent sorted store as UNIQUE_KEY /
DUPLICATE_KEY, merges uniques in, and redispatches in arrival order. Its
broker/disk-writer/merger thread machinery exists to turn random-access
membership into sequential per-bucket merges.

Spark already gives us that shape for free:
  - bucketing            = hash partitioning on the key (shuffle exchange)
  - the sequential merge = a left-anti join against the bucket-partitioned
                           `url_seen` table (shuffled-hash; runtime bloom
                           filter pre-probes)
  - arrival-order redispatch = carry an explicit `seq` column; classification
                           is a COLUMN, not a callback
  - the RAM fast-path    = per-bucket bloom sidecars (membership.py) that
                           let a batch skip the join for definite-negatives

One engine: `check_update_agg` (CHECK+UPDATE — the crawl loop's path).
`classify_batch` (CHECK) is a projection over it. APPEND_UPDATE is
`star.distinct_new_edges` specialized to the PLD-edge schema, and a
blind UPDATE is `check_update_agg`'s `uniques`.

Classification semantics (pinned by the reference's DrumTest contract):
within one batch, the FIRST arrival of a key is UNIQUE_KEY iff the key is
not in the store; every later arrival of the same key in the same batch is
DUPLICATE_KEY. The caller appends `uniques` to the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jirlbot_spark.session import DEFAULT_NUM_BUCKETS

SEQ_COL = "__seq"
RESULT_COL = "drum_result"
UNIQUE_KEY = "UNIQUE_KEY"
DUPLICATE_KEY = "DUPLICATE_KEY"


def with_seq(df: DataFrame, order_col: str | None = None) -> DataFrame:
    """Attach the arrival-order column DRUM dispatch semantics require.

    If the caller has a natural order column, use it (deterministic across
    runs — required for crawl-order equivalence). Fallback is Spark's
    partition-monotonic id (deterministic per physical plan only).
    """
    if SEQ_COL in df.columns:
        return df
    if order_col is not None:
        return df.withColumn(SEQ_COL, F.col(order_col).cast("long"))
    return df.withColumn(SEQ_COL, F.monotonically_increasing_id())


def _bloom_epoch_kw(bloom_min_epoch) -> dict:
    """Route the caller's epoch expectation to bloom_probe: a dict is the
    per-bucket store contract (bucket -> last key-writing batch), a bare
    int a blunt global minimum."""
    if isinstance(bloom_min_epoch, dict):
        return {"bucket_key_epochs": bloom_min_epoch}
    if bloom_min_epoch is not None:
        return {"min_epoch": bloom_min_epoch}
    return {}


def check_update_agg(
    batch: DataFrame,
    seen: DataFrame | None,
    key_col: str = "url_hash",
    order_col: str | None = None,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    bloom_dir: str | None = None,
    bloom_min_epoch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """DRUM CHECK_UPDATE: returns (fresh_first_arrival_rows,
    new_unique_keys).

    The caller commits `new_unique_keys` (bucket column attached, ready
    for partitioned append) atomically with the rest of the batch's
    tables — the store append IS the UPDATE half, kept out of this
    function so one manifest rename commits everything
    (storage.TableStore.commit_batch). Physical plan, sized for the
    10^10-row tier:

      - in-batch first-arrival via groupBy(key).agg(min_by(row, seq)):
        the partial aggregate collapses in-batch duplicates BEFORE the
        exchange (a row_number window ships every duplicate through the
        shuffle), and no Window operator appears. Catalyst plans
        min_by-over-struct as SortAggregate (var-length buffers are not
        hash-aggregable), so the wide rows are still sorted by key within
        partitions — measured FASTER than both a row_number window
        formulation (which sorts just as much and then runs Window) and
        a "zero-sort" narrow-min + join-back formulation (whose three
        hash-join builds over every distinct key cost more than the
        sorts; measured 3.5x slower at 32M distinct keys);
      - membership via LEFT ANTI join with a shuffle_hash hint on the
        (narrow, key-only) seen side: streams the agged rows against a
        per-partition hash set instead of sort-merging, and reuses the
        aggregation's hash partitioning on the streamed side (one wide
        exchange total, AQE-skew-splittable).

    Seq ties (same key, same order value) pick an arbitrary winner via
    min_by — callers for whom ties are possible (the crawl loop, keyed by
    depth) only ever have bit-identical tied rows, so the choice is
    immaterial.

    `bloom_dir` (DRUM RAM-fast-path analog): rows whose key the per-bucket
    Bloom filters prove absent bypass the anti-join entirely — they join
    nothing by construction, so only the maybe-seen slice probes the
    store. Classification is bit-identical with or without.
    """
    batch = with_seq(batch, order_col)
    row_cols = [c for c in batch.columns if c not in (key_col, SEQ_COL)]
    maybe_flag = None
    if bloom_dir is not None and seen is not None:
        from jirlbot_spark.operators.membership import MAYBE_COL, bloom_probe

        batch = bloom_probe(
            batch, bloom_dir, key_col=key_col, num_buckets=num_buckets,
            **_bloom_epoch_kw(bloom_min_epoch),
        )
        row_cols = [c for c in row_cols if c != MAYBE_COL]
        maybe_flag = MAYBE_COL

    aggs = [
        F.min_by(F.struct(*row_cols), F.col(SEQ_COL)).alias("__row"),
        F.min(SEQ_COL).alias(SEQ_COL),
    ]
    if maybe_flag is not None:
        # all rows of a key share the flag (it is a function of the key)
        aggs.append(F.first(maybe_flag).alias(maybe_flag))
    agged = batch.groupBy(key_col).agg(*aggs)
    agged = agged.select(key_col, SEQ_COL, *(
        [maybe_flag] if maybe_flag else []
    ), "__row.*")

    if seen is not None:
        probe = seen.select(key_col).hint("shuffle_hash")
        if maybe_flag is not None:
            certain_new = agged.filter(~F.col(maybe_flag)).drop(maybe_flag)
            maybe_seen = agged.filter(F.col(maybe_flag)).drop(maybe_flag)
            fresh = certain_new.unionByName(
                maybe_seen.join(probe, key_col, "left_anti")
            )
        else:
            fresh = agged.join(probe, key_col, "left_anti")
    else:
        fresh = agged.drop(maybe_flag) if maybe_flag else agged
    uniques = fresh.select(key_col).withColumn(
        "bucket", F.pmod(F.col(key_col), F.lit(num_buckets)).cast("int")
    )
    return fresh, uniques


def classify_batch(
    batch: DataFrame,
    seen: DataFrame | None,
    order_col: str,
    key_col: str = "url_hash",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    bloom_dir: str | None = None,
    bloom_min_epoch: int | None = None,
) -> DataFrame:
    """DRUM CHECK: every batch row labeled UNIQUE_KEY / DUPLICATE_KEY in
    RESULT_COL, as a projection over check_update_agg: a row is UNIQUE_KEY
    iff its (key, seq) is one of the fresh first arrivals.

    `order_col` is required: the join-back reads the seq twice, so it
    must be a deterministic column, never a per-plan generated id. Rows
    tied on (key, order value) all get the same label — give every
    arrival of a key its own order value.
    """
    batch = with_seq(batch, order_col)
    fresh, _ = check_update_agg(
        batch, seen, key_col, num_buckets=num_buckets, bloom_dir=bloom_dir,
        bloom_min_epoch=bloom_min_epoch,
    )
    firsts = fresh.select(key_col, SEQ_COL, F.lit(True).alias("__first"))
    return batch.join(firsts, [key_col, SEQ_COL], "left").select(
        *batch.columns,
        F.when(F.col("__first"), F.lit(UNIQUE_KEY))
        .otherwise(F.lit(DUPLICATE_KEY))
        .alias(RESULT_COL),
    )
