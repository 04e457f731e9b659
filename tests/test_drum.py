"""DrumTest-style scripted sequences: exact UNIQUE_KEY/DUPLICATE_KEY
classification in arrival order, store merge, and atomic-commit resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jirlbot_spark.operators.dedup import (
    DUPLICATE_KEY,
    UNIQUE_KEY,
    check_update_agg,
    classify_batch,
)
from jirlbot_spark.sources.storage import TableStore, TableWrite


def _batch(spark, keys):
    return spark.createDataFrame(
        [(k, i, f"aux{k}") for i, k in enumerate(keys)],
        ["url_hash", "arrival", "aux"],
    )


def _results(df):
    rows = df.orderBy("arrival").collect()
    return [r.drum_result for r in rows]


def _check_update(batch, seen):
    """DrumTest's CHECK_UPDATE step: the classified batch plus the store
    delta (check_update_agg's uniques)."""
    _, uniques = check_update_agg(batch, seen, order_col="arrival")
    return classify_batch(batch, seen, order_col="arrival"), uniques


def test_in_batch_duplicate_classification(spark):
    b = _batch(spark, [1, 2, 3, 2])
    out = classify_batch(b, None, order_col="arrival")
    assert _results(out) == [UNIQUE_KEY, UNIQUE_KEY, UNIQUE_KEY, DUPLICATE_KEY]


def test_check_update_sequence(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "state"))

    b1 = _batch(spark, [1, 2, 3, 2])
    c1, u1 = _check_update(b1, None)
    assert _results(c1) == [UNIQUE_KEY, UNIQUE_KEY, UNIQUE_KEY, DUPLICATE_KEY]
    store.commit_batch(0, {"url_seen": TableWrite(u1, partition_by=("bucket",))})
    assert sorted(r.url_hash for r in store.read("url_seen").collect()) == [1, 2, 3]

    b2 = _batch(spark, [3, 4, 1, 4, 5])
    c2, u2 = _check_update(b2, store.read("url_seen"))
    assert _results(c2) == [
        DUPLICATE_KEY,
        UNIQUE_KEY,
        DUPLICATE_KEY,
        DUPLICATE_KEY,
        UNIQUE_KEY,
    ]
    store.commit_batch(1, {"url_seen": TableWrite(u2, partition_by=("bucket",))})
    assert sorted(r.url_hash for r in store.read("url_seen").collect()) == [
        1, 2, 3, 4, 5,
    ]


def test_check_does_not_mutate(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "state"))
    b1 = _batch(spark, [7, 8])
    _, u1 = _check_update(b1, None)
    store.commit_batch(0, {"url_seen": TableWrite(u1, partition_by=("bucket",))})
    before = store.read("url_seen").count()
    classify_batch(_batch(spark, [7, 9]), store.read("url_seen"), order_col="arrival")
    assert store.read("url_seen").count() == before


def test_idempotence_union(spark):
    """run(batch ∪ batch) unique-key set == run(batch)."""
    b = _batch(spark, [10, 11, 12, 11])
    bb = b.unionAll(b)
    _, u1 = _check_update(b, None)
    _, u2 = _check_update(bb, None)
    assert sorted(r.url_hash for r in u1.collect()) == sorted(
        r.url_hash for r in u2.collect()
    )


def test_atomic_resume(spark, tmp_path):
    root = str(tmp_path / "state")
    store = TableStore(spark, root)
    _, u1 = _check_update(_batch(spark, [1, 2]), None)
    store.commit_batch(0, {"url_seen": TableWrite(u1, partition_by=("bucket",))})
    # simulate crash: a new store instance over the same root resumes
    store2 = TableStore(spark, root)
    assert store2.last_batch() == 0
    _, u2 = _check_update(_batch(spark, [2, 3]), store2.read("url_seen"))
    store2.commit_batch(1, {"url_seen": TableWrite(u2, partition_by=("bucket",))})
    assert sorted(r.url_hash for r in store2.read("url_seen").collect()) == [1, 2, 3]
    with pytest.raises(ValueError):
        store2.commit_batch(1, {"url_seen": TableWrite(u2)})


def test_gc_orphans_and_compact(spark, tmp_path):
    root = str(tmp_path / "state")
    store = TableStore(spark, root)
    for i in range(3):
        _, u = _check_update(
            _batch(spark, [i * 10, i * 10 + 1]), store.read("url_seen")
        )
        store.commit_batch(i, {"url_seen": TableWrite(u, partition_by=("bucket",))})
    assert store.read("url_seen").count() == 6
    store.compact("url_seen", partition_by=("bucket",))
    assert store.read("url_seen").count() == 6
    assert len(store.manifest()["tables"]["url_seen"]) == 1


def test_check_update_agg_matches_python_reference(spark, tmp_path):
    """check_update_agg's fresh set ≡ a pure-Python first-arrival scan
    minus the store, on a batch with in-batch duplicates and a
    half-populated store — with AND without the Bloom sidecar fast path
    (which must be physical-only)."""
    from jirlbot_spark.operators.membership import build_bloom_files

    n = 500
    base = spark.range(n).select(
        (F.col("id") * 7919 % 1000).alias("url_hash"),  # forced collisions
        F.col("id").alias("arrival"),
        F.format_string("http://u%d.com/", F.col("id")).alias("url"),
    )
    dup = base.unionByName(
        base.withColumn("arrival", F.col("arrival") + n)
    )
    seen = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))

    first: dict[int, int] = {}
    for arrival in range(2 * n):
        first.setdefault(arrival % n * 7919 % 1000, arrival)
    want = {(k, a) for k, a in first.items() if k % 2}
    assert 0 < len(want) < n  # both classes populated

    fresh, uniq = check_update_agg(
        dup, seen, key_col="url_hash", order_col="arrival"
    )
    got = {
        (r.url_hash, r.arrival)
        for r in fresh.select("url_hash", "arrival").collect()
    }
    assert got == want
    assert {r.url_hash for r in uniq.collect()} == {k for k, _ in want}

    bloom_dir = str(tmp_path / "bloom")
    build_bloom_files(
        seen.withColumn(
            "bucket", F.pmod("url_hash", F.lit(8)).cast("int")
        ),
        bloom_dir,
        num_buckets=8,
        log2_bits=18,
    )
    fresh_b, _ = check_update_agg(
        dup, seen, key_col="url_hash", order_col="arrival",
        num_buckets=8, bloom_dir=bloom_dir,
    )
    got_b = {
        (r.url_hash, r.arrival)
        for r in fresh_b.select("url_hash", "arrival").collect()
    }
    assert got_b == want


def test_iceberg_store_gated(spark, tmp_path):
    """IcebergTableStore is capability-gated: without a configured
    catalog it must refuse loudly (the parquet TableStore is the
    sandbox implementation of the same interface)."""
    import pytest as _pytest

    from jirlbot_spark.sources.storage import IcebergTableStore

    with _pytest.raises(NotImplementedError, match="STUB-GATE"):
        IcebergTableStore(spark, str(tmp_path / "ice"))


def test_concurrent_commit_crash_leaves_manifest_untouched(spark, tmp_path):
    """The concurrent multi-table commit keeps the crash contract: if ANY
    table's write fails, the manifest must not move (readers still see
    the old state), already-written sibling run dirs become orphans that
    gc_orphans removes, and the same batch id can then be re-committed
    cleanly."""
    import pytest as _pytest

    root = str(tmp_path / "state")
    store = TableStore(spark, root)
    good = spark.range(10).select(F.col("id").alias("url_hash"))
    store.commit_batch(0, {"a": TableWrite(good)})
    before = store.manifest()

    # a DataFrame whose evaluation throws inside the write job
    bad = spark.range(4).select(
        F.assert_true(F.col("id") < 2).alias("boom")
    )
    with _pytest.raises(Exception):
        store.commit_batch(
            1, {"a": TableWrite(good), "b": TableWrite(bad)}
        )
    after = store.manifest()
    assert after == before  # atomic: nothing moved
    assert store.read("a").count() == 10
    assert store.read("b") is None
    removed = store.gc_orphans()
    assert all(r.startswith(("a/", "b/")) for r in removed)
    # the batch id is still free — re-commit succeeds
    store.commit_batch(1, {"a": TableWrite(good), "b": TableWrite(good)})
    assert store.read("b").count() == 10
    assert store.gc_orphans() == []


def test_concurrent_commit_logs_every_failed_table(spark, tmp_path, caplog):
    """Sibling failures must not be masked by the first raising future
    (r4 ADVICE): with TWO failing tables in one batch, both land in the
    log, the raise is the first failure in deterministic dict order, and
    the manifest still doesn't move."""
    import logging as _logging

    import pytest as _pytest

    root = str(tmp_path / "state")
    store = TableStore(spark, root)
    good = spark.range(10).select(F.col("id").alias("url_hash"))
    bad = spark.range(4).select(
        F.assert_true(F.col("id") < 2).alias("boom")
    )
    with caplog.at_level(_logging.ERROR, logger="jirlbot_spark.storage"):
        with _pytest.raises(Exception):
            store.commit_batch(
                0,
                {
                    "a": TableWrite(good),
                    "b": TableWrite(bad),
                    "c": TableWrite(bad),
                },
            )
    logged = [r.getMessage() for r in caplog.records]
    assert any("'b'" in m for m in logged), logged
    assert any("'c'" in m for m in logged), logged
    assert store.manifest()["batch_id"] == -1  # nothing committed
    store.gc_orphans()
    store.commit_batch(0, {"a": TableWrite(good)})  # id still free
