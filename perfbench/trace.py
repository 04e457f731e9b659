"""Spans and counters around the crawl loop's layer calls.

`Tracer.attach(loop)` replaces each layer entry point where
`jirlbot_spark.plans.loop` looks it up (module attributes, plus the
loop's own TableStore instance) with a wrapper that opens a span, calls
the layer, and materializes the returned DataFrame(s) (eager local
checkpoint, then count) inside the span, so the next layer starts from
materialized inputs and a span's duration is that layer's own work.
Extra counting the tracer does for its counters runs in "trace" spans,
which are excluded from the loop's self time and show up as tracing
overhead instead. The storage module's `_parquet_rows`, which
commit_batch calls after each table's write, is wrapped too, to time each
table's part of the commit.

Spans are kept in memory: (id, name, start, end, parent), where the parent
of every layer span is the enclosing `run_batch` ("batch") or
`ingest_seeds` ("ingest") span.
"""

from __future__ import annotations

import inspect
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH = "batch"  # one run_batch call
INGEST = "ingest"  # the ingest_seeds call
TRACE = "trace"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


def self_time(spans: list[Span], parent: Span) -> float:
    """Parent duration minus the part of it covered by its children."""
    ivs = sorted(
        (max(s.start, parent.start), min(s.end, parent.end))
        for s in spans
        if s.parent == parent.id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(parent.end - parent.start - covered, 0.0)


def _materialize(out):
    if isinstance(out, tuple):
        return tuple(_materialize(d) for d in out)
    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a written run dir."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return size, files


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, bool]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    # ---- wrapping ----
    def _patch(self, owner, attr: str, wrapper) -> None:
        own = attr in vars(owner)  # False: a method found on the class
        self._patches.append((owner, attr, getattr(owner, attr), own))
        setattr(owner, attr, wrapper)

    def detach(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def _layer(self, layer: str, fn, before=None, after=None,
               materialize: bool = True):
        sig = inspect.signature(fn)

        def wrapped(*args, **kw):
            bound = sig.bind(*args, **kw)
            bound.apply_defaults()
            a = bound.arguments
            if before is not None:
                with self.span(TRACE):
                    before(a)
            with self.span(layer):
                out = fn(*args, **kw)
                if materialize:
                    # a local checkpoint, not cache(): downstream plans then
                    # start from a flat scan instead of nesting every
                    # upstream cached plan
                    out = _materialize(out)
                outs = out if isinstance(out, tuple) else (out,)
                ns = [d.count() if isinstance(d, DataFrame) else 0
                      for d in outs] if materialize else []
            if after is not None:
                with self.span(TRACE):
                    after(a, outs, ns)
            return out

        return wrapped

    def attach(self, loop) -> None:
        import pyarrow as pa

        import jirlbot_spark.operators.fetch as fetch_mod
        import jirlbot_spark.plans.loop as loop_mod
        import jirlbot_spark.sources.storage as storage_mod
        from jirlbot_spark.functions.prepare import (
            PREPARED_FIELDS,
            prepare_batch_arrow,
        )
        from perfbench.gate import VERIFY_OK_COLS

        c = self.counts

        def add(key, n):
            c[key] += n

        def prepare_before(a):
            # the same rows through the Arrow kernel, in-process, to split
            # kernel time from the JVM<->Python boundary
            cols = [a["url_col"]] + ([a["base_col"]] if a["base_col"] else [])
            tbl = a["df"].select(*cols, *a["keep"]).toArrow()
            add("prepare.rows_in", tbl.num_rows)
            schema = pa.schema(
                [pa.field(f.name, pa.int64() if f.name.endswith("_hash")
                          else pa.string()) for f in PREPARED_FIELDS]
                + [tbl.schema.field(k) for k in a["keep"]]
            )
            t = time.perf_counter()
            for rb in tbl.to_batches(max_chunksize=10_000):
                prepare_batch_arrow(rb, a["url_col"], schema, a["base_col"])
            add("prepare.kernel_s", time.perf_counter() - t)

        def drum_before(a):
            add("drum.rows_in", a["batch"].count())
            if a["seen"] is not None:
                add("drum.seen_rows", a["seen"].count())

        def robots_after(a, outs, ns):
            for r in outs[0].groupBy("robots_status").count().collect():
                add(f"robots.{r[0].lower()}", r[1])

        def politeness_after(a, outs, ns):
            r = outs[0].agg(
                F.countDistinct(a["host_col"]), F.max("seq_in_host")
            ).first()
            add("politeness.hosts", r[0] or 0)
            c["politeness.max_seq_in_host"] = max(
                c["politeness.max_seq_in_host"], r[1] or 0
            )

        def verify_after(a, outs, ns):
            ok = F.lit(True)
            for col in VERIFY_OK_COLS:
                ok = ok & F.col(col)
            add("verify.failed", outs[0].filter(~ok).count())

        def counted(key, idx=0):
            return lambda a, outs, ns: add(key, ns[idx])

        def both(*fs):
            return lambda a, outs, ns: [f(a, outs, ns) for f in fs]

        specs = [
            (loop_mod, "prepare_urls_fused", "prepare", prepare_before,
             counted("prepare.rows_out")),
            (loop_mod, "check_update_agg", "drum", drum_before,
             counted("drum.unique", 1)),
            (loop_mod, "pld_indegree", "star", None, None),
            (loop_mod, "star_budgets_scalable", "star", None,
             counted("star.plds")),
            (loop_mod, "distinct_new_edges", "star", None,
             counted("star.new_edges")),
            (loop_mod, "beast_enforce", "beast", None, None),
            (loop_mod, "split_admitted", "beast", None,
             both(counted("beast.admitted"), counted("beast.deferred", 1))),
            (loop_mod.robots_ops, "robots_check", "robots", None,
             robots_after),
            (loop_mod.robots_ops, "robots_requested_new", "robots", None,
             counted("robots.hosts_requested")),
            (loop_mod, "politeness_schedule", "politeness", None,
             politeness_after),
            (loop_mod, "table_fetch", "fetch", None, None),
            (loop_mod, "extract_links", "links", None,
             counted("links.rows_out")),
            (fetch_mod, "verify_payload", "verify", None,
             both(counted("verify.images"), verify_after)),
        ]
        for owner, attr, layer, before, after in specs:
            self._patch(owner, attr, self._layer(
                layer, getattr(owner, attr), before, after
            ))

        store = loop.store
        root = store.root
        commit_start = []

        def parquet_rows(run_dir):
            # storage calls this right after each table's write in
            # commit_batch; the writes run concurrently, so a table's figure
            # is the time from the commit's start until its data is written
            if commit_start:
                table = os.path.basename(os.path.dirname(run_dir))
                add(f"storage.{table}.commit_s", time.time() - commit_start[0])
            return rows(run_dir)

        rows = storage_mod._parquet_rows
        self._patch(storage_mod, "_parquet_rows", parquet_rows)

        def commit_before(a):
            commit_start[:] = [time.time()]

        def commit_after(a, outs, ns):
            commit_start.clear()
            for table, run in outs[0].items():
                size, files = _dir_stats(os.path.join(root, table, run))
                add(f"storage.{table}.mb_written", size / 2**20)
                add(f"storage.{table}.files_written", files)

        self._patch(store, "read", self._layer(
            "storage.read", store.read, materialize=False
        ))
        self._patch(store, "commit_batch", self._layer(
            "storage.commit", store.commit_batch, commit_before, commit_after,
            materialize=False,
        ))
        for attr, name in (("run_batch", BATCH), ("ingest_seeds", INGEST)):
            self._patch(loop, attr, self._layer(
                name, getattr(loop, attr), materialize=False
            ))
