"""Crawl-loop benchmark: one seeded workload through the shipped CrawlLoop.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the repository root. Every number comes from
`CrawlLoop.ingest_seeds` + `CrawlLoop.run_batch`, driven the way
`run_crawl.py` drives them, on inputs generated from --seed
(perfbench/workloads.py). Each measured crawl is checked against
tests/oracle_sim.py outside the timed window (perfbench/gate.py); a
mismatch prints the differences, reports correct=false and exits 1.

--trace 0 repeats whole crawls until --seconds have passed and reports the
end-to-end metrics (medians over crawls). A crawl takes longer than the
5 s the benchmark passes on a 4-core host, so each run times exactly one
warm crawl; a varying crawl count would mix warmer and colder crawls
between runs. --trace 1 runs one untraced crawl and then one traced crawl
(perfbench/trace.py) and reports the per-layer metrics and the tracing
overhead; the Spark event-log figures (jobs, executor CPU, shuffle, spill,
GC) come from the untraced crawl, so the tracer's own jobs are not in them.

Set-up (session start, input generation three times with the median
kept, and a warm-up crawl of seed ingest plus WARM_BATCHES batches)
happens before any timing. The
engine is sized from the host through its existing environment hooks;
all working data (stores, shuffle, temp files, event log) lives in
.perfbench_work/run<pid>/ under the repository root and is removed at
exit. The last stdout line is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# per process, so two runs in one checkout never share working files
WORK = ROOT / ".perfbench_work" / f"run{os.getpid()}"
GEN_REPEATS = 3
WARM_BATCHES = 2  # the warm-up crawl: ingest_seeds and this many batches

END_TO_END = {
    "pages_per_s": "pages/s",
    "urls_per_s": "urls/s",
    "batch_s.p50": "s",
    "setup_s": "s",
    "peak_pss_mb": "MiB",
}
LAYER_SECONDS = ("prepare", "drum", "star", "beast", "robots", "politeness",
                 "fetch", "links", "verify")
TABLES = ("frontier", "url_seen", "fetch_log", "metrics", "robots",
          "robots_requested", "verify_log", "pld_graph")
PER_LAYER = {
    "loop.self_s": "s",
    "loop.spark_jobs": "count",
    "loop.executor_cpu_s": "s",
    **{f"{layer}.s": "s" for layer in LAYER_SECONDS},
    "prepare.rows_in": "count",
    "prepare.rows_out": "count",
    "prepare.kernel_s": "s",
    "prepare.boundary_share": "ratio",
    "drum.rows_in": "count",
    "drum.unique": "count",
    "drum.unique_ratio": "ratio",
    "drum.seen_rows": "count",
    "star.plds": "count",
    "star.new_edges": "count",
    "beast.admitted": "count",
    "beast.deferred": "count",
    "beast.admit_ratio": "ratio",
    "robots.pass": "count",
    "robots.fail": "count",
    "robots.unknown": "count",
    "robots.hosts_requested": "count",
    "politeness.hosts": "count",
    "politeness.max_seq_in_host": "count",
    "links.rows_out": "count",
    "verify.images": "count",
    "verify.failed": "count",
    "storage.commit_s": "s",
    "storage.read_s": "s",
    "storage.mb_written": "MiB",
    "storage.files_written": "count",
    **{f"storage.{t}.{k}": u for t in TABLES
       for k, u in (("commit_s", "s"), ("mb_written", "MiB"),
                    ("files_written", "count"))},
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.gc_s": "s",
    "session.start_s": "s",
    "trace.overhead_ratio": "ratio",
}


# ---- host sizing and stamp ----
def host_resources(trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: int(ln.split()[1]) * 1024 for ln in f}
    ram = mem["MemTotal"]
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            lim = f.read().strip()
        if lim.isdigit():
            ram = min(ram, int(lim))
    except OSError:
        pass
    # at most a quarter of the box. 1 GiB holds these workloads; the traced
    # run needs 2 GiB, as the event log serializes the cached plans
    heap_mb = min(2048 if trace else 1024, ram // 4 // 2**20)
    return {"cores": cores, "ram_mb": ram // 2**20, "heap_mb": heap_mb}


def configure_env(res: dict, trace: bool) -> None:
    """Size the engine through its existing env hooks and keep every file
    it writes inside WORK."""
    for d in ("tmp", "local", "events"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    conf = {
        # the driver heap is committed and touched at start, so peak PSS does
        # not depend on how far G1 had grown the heap when it was sampled
        # (that swung it by ~7% between runs); heap use shows in GC time
        "spark.driver.extraJavaOptions":
            f"{jvm_opts} -Xms{res['heap_mb']}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{WORK / 'events'}",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(res["cores"]),
        "SPARK_SHUFFLE_PARTITIONS": str(res["cores"]),
        "SPARK_DRIVER_MEM": f"{res['heap_mb']}m",
        "SPARK_GRAFT_SHM_SHUFFLE": "0",
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "SPARK_LAUNCHER_OPTS": jvm_opts,  # spark-submit's launcher JVM
        "TMPDIR": str(WORK / "tmp"),
        "JIRLBOT_SPARK_CONF": ";".join(f"{k}={v}" for k, v in conf.items()),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class MemSampler(threading.Thread):
    """Peak summed PSS of the JVM this process launched and its Python
    workers, sampled every 0.2 s.

    PSS, not RSS: forked Python workers share most of their pages, and RSS
    would count them once per worker. Only the JVM (our direct child) and
    Python processes count: when the JVM spawns a worker, the short-lived
    vfork child shares the JVM's address space and would count it twice."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def descendants() -> dict[int, int]:
        """{pid: parent pid} of every process below this one."""
        parent = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(stat[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, grew = {os.getpid(): 0}, True
        while grew:
            grew = False
            for pid, pp in parent.items():
                if pp in tree and pid not in tree:
                    tree[pid] = pp
                    grew = True
        del tree[os.getpid()]
        return tree

    @staticmethod
    def pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for ln in f:
                    if ln.startswith("Pss:"):
                        return int(ln.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        total = 0
        for pid, pp in self.descendants().items():
            try:
                exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                continue
            if exe.startswith("python") or (
                exe == "java" and pp == os.getpid()
            ):
                total += self.pss(pid)
        return total

    def run(self):
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def shutdown(spark) -> None:
    """Stop Spark, end its JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when this pipe breaks
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while MemSampler.descendants() and time.time() < deadline:
        time.sleep(0.1)


# ---- one crawl ----
@dataclass
class Crawl:
    store: object = None  # the crawl's TableStore
    wall: float = 0.0  # start of ingest_seeds to end of the last run_batch
    batch_walls: list[float] = field(default_factory=list)
    # (start, end) epoch seconds of ingest_seeds, then of each run_batch
    spans: list[tuple[float, float]] = field(default_factory=list)
    stats: list[dict] = field(default_factory=list)  # run_batch returns
    calls: int = 0
    raised: int = 0


def make_loop(spark, wl, paths, store_dir):
    from jirlbot_spark.plans.loop import CrawlConfig, CrawlLoop
    from jirlbot_spark.sources.storage import TableStore

    store = TableStore(spark, store_dir)
    pages = spark.read.parquet(paths["pages"]) if "pages" in paths else None
    links = spark.read.parquet(paths["links"])
    robots = spark.read.parquet(paths["robots"])
    cfg = CrawlConfig(
        salt_buckets=8, image_scale=max(wl.n_images, 1), **wl.cfg
    )
    return CrawlLoop(spark, store, pages, links, robots, cfg)


def run_crawl(spark, wl, paths, store_dir, tracer=None,
              n_batches=None) -> Crawl:
    loop = make_loop(spark, wl, paths, store_dir)
    if tracer is not None:
        tracer.attach(loop)
    seeds = spark.read.text(paths["seeds"]).withColumnRenamed("value", "url")
    c = Crawl(store=loop.store)
    t0 = time.perf_counter()
    try:
        c.calls += 1
        e = time.time()
        loop.ingest_seeds(seeds)
        c.spans.append((e, time.time()))
        for j in range(1, (n_batches or wl.n_batches) + 1):
            c.calls += 1
            t, e = time.perf_counter(), time.time()
            st = loop.run_batch(j)
            c.batch_walls.append(time.perf_counter() - t)
            c.spans.append((e, time.time()))
            c.stats.append(st)
            if st.get("done"):
                break
    except Exception:  # counted as failed and reported, never masked
        c.raised += 1
        traceback.print_exc()
    finally:
        c.wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.detach()
    return c


# ---- metrics ----
def layer_metrics(tracer, log, plain: Crawl, session_s: float,
                  overhead: float, cores: int) -> dict[str, float]:
    """Per-layer figures. Span times and counts come from the traced crawl;
    the event-log figures come from `plain`, the untraced crawl of the same
    process, so the tracer's own checkpoints and counts are not in them."""
    from perfbench import eventlog
    from perfbench.trace import BATCH, self_time

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    spans = tracer.spans
    c = tracer.counts
    runs = [s for s in spans if s.name == BATCH]
    windows = [eventlog.window(log, a, b) for a, b in plain.spans]
    per_run = windows[1:]  # ingest_seeds comes first
    total = {k: sum(w[k] for w in windows)
             for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                       "gc_s")}

    def secs(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    m = {
        "loop.self_s": med(self_time(spans, s) for s in runs),
        "loop.spark_jobs": med(w["jobs"] for w in per_run),
        "loop.executor_cpu_s": med(w["executor_cpu_s"] for w in per_run),
        **{f"{layer}.s": secs(layer) for layer in LAYER_SECONDS},
        "storage.commit_s": secs("storage.commit"),
        "storage.read_s": secs("storage.read"),
        **{f"spark.{k}": v for k, v in total.items()},
        "session.start_s": session_s,
        "trace.overhead_ratio": overhead,
    }
    for k in PER_LAYER:
        if k not in m:
            m[k] = c.get(k, 0.0)
    m["prepare.boundary_share"] = (
        1 - c["prepare.kernel_s"] / (m["prepare.s"] * cores)
        if m["prepare.s"] else 0.0
    )
    m["drum.unique_ratio"] = (
        c["drum.unique"] / c["drum.rows_in"] if c["drum.rows_in"] else 0.0
    )
    seen = c["beast.admitted"] + c["beast.deferred"]
    m["beast.admit_ratio"] = c["beast.admitted"] / seen if seen else 0.0
    m["storage.mb_written"] = sum(c[f"storage.{t}.mb_written"] for t in TABLES)
    m["storage.files_written"] = sum(
        c[f"storage.{t}.files_written"] for t in TABLES
    )
    return m


def layer_shares(tracer, values: dict, wall: float) -> dict[str, float]:
    """Each layer's seconds as a share of the traced crawl's wall time.
    Commit tables write concurrently, so their shares overlap one another;
    the layers and the commit do not overlap."""
    from perfbench.trace import BATCH, INGEST, TRACE, self_time

    calls = [s for s in tracer.spans if s.name in (BATCH, INGEST)]
    secs = {
        **{layer: values[f"{layer}.s"] for layer in LAYER_SECONDS},
        "storage.commit": values["storage.commit_s"],
        **{f"storage.commit.{t}": values[f"storage.{t}.commit_s"]
           for t in TABLES},
        "storage.read": values["storage.read_s"],
        "loop.self": sum(self_time(tracer.spans, s) for s in calls),
        "trace": sum(s.end - s.start for s in tracer.spans
                     if s.name == TRACE),
    }
    return {k: round(v / wall, 4) for k, v in secs.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "jirlbot_spark").is_dir() or not (
        ROOT / "tests" / "oracle_sim.py"
    ).is_file():
        print(f"{ROOT} holds no jirlbot_spark package and oracle; run from "
              "a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.GENERATORS:
        p.error(f"--workload must be one of {sorted(workloads.GENERATORS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    res = host_resources(bool(args.trace))
    configure_env(res, bool(args.trace))
    try:
        return bench(args, res, workloads)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:
            pass  # another run still uses it


@dataclass
class Outcome:
    """What one benchmark process measured and what the gate found."""

    phases: dict
    setup_s: float
    peak_pss_mb: float
    crawls: list[Crawl]  # measured crawls (the warm-up is not among them)
    pages: list[int]  # fetch_log rows committed per measured crawl
    url_rows: int  # rows entering canonicalization per crawl
    attempted: int
    failed: int
    problems: list[str]


def crawl_and_check(spark, args, workloads, mem, tracer) -> Outcome | None:
    from perfbench import gate

    phases = {"session": 0.0, "generate": []}
    gen_blobs = []
    for i in range(GEN_REPEATS):
        t = time.perf_counter()
        wl = workloads.build(args.workload, args.seed)
        paths = workloads.write_inputs(wl, str(WORK / f"inputs{i}"))
        phases["generate"].append(time.perf_counter() - t)
        gen_blobs.append({k: Path(v).read_bytes() for k, v in paths.items()})
    if any(b != gen_blobs[0] for b in gen_blobs):
        print("generator is not deterministic for this seed", file=sys.stderr)
        return None
    del gen_blobs

    t = time.perf_counter()
    warm = run_crawl(spark, wl, paths, str(WORK / "store_warm"),
                     n_batches=WARM_BATCHES)
    phases["warm_up"] = time.perf_counter() - t
    crawls = []
    t = time.perf_counter()
    if tracer is not None:
        for tr in (None, tracer):
            crawls.append(run_crawl(
                spark, wl, paths, str(WORK / f"store{len(crawls)}"), tr
            ))
    else:
        # whole crawls until --seconds have passed
        while not crawls or time.perf_counter() - t < args.seconds:
            crawls.append(run_crawl(
                spark, wl, paths, str(WORK / f"store{len(crawls)}")
            ))
    phases["measure"] = time.perf_counter() - t
    peak_pss_mb = mem.stop()

    # correctness gate, outside every timed window
    t = time.perf_counter()
    exp = gate.expect(wl)
    out = Outcome(
        phases=phases,
        setup_s=statistics.median(phases["generate"]) + phases["warm_up"],
        peak_pss_mb=peak_pss_mb,
        crawls=crawls,
        pages=[],
        url_rows=exp.url_rows,
        attempted=0,
        failed=0,
        problems=[],
    )
    # the warm-up stops early, so only its calls count; the oracle checks
    # every measured crawl
    out.attempted += warm.calls
    out.failed += warm.raised
    if warm.raised:
        out.problems.append("warm-up crawl: a loop call raised")
    for i, c in enumerate(crawls, 1):
        out.attempted += c.calls
        out.failed += c.raised
        if c.raised:
            out.problems.append(f"crawl {i}: a loop call raised")
            out.pages.append(0)
            continue
        try:
            obs = gate.observe(c.store, c.stats)
        except Exception as e:  # an unreadable store fails the gate
            out.problems.append(f"crawl {i}: store unreadable: {e}")
            out.pages.append(0)
            continue
        out.attempted += obs.verify_rows
        out.failed += obs.verify_bad
        out.pages.append(sum(obs.fetch.values()))
        out.problems += [
            f"crawl {i}: {msg}" for msg in gate.problems(wl, exp, obs)
        ]
    phases["gate"] = time.perf_counter() - t
    return out


def bench(args, res, workloads) -> int:
    import pyarrow as pa
    import pyspark

    from jirlbot_spark.session import get_spark

    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    print(json.dumps({"host": {
        **res,
        "master": f"local[{res['cores']}]",
        "store_and_shuffle": str(WORK.parent.relative_to(ROOT)),
        "pyspark": pyspark.__version__,
        "note": "spark.driver.memory is set from the box here; the engine's "
                "32g default stays open as ROADMAP item 4",
    }}), flush=True)

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    mem = MemSampler()
    mem.start()
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{res['cores']}]")
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        out = crawl_and_check(spark, args, workloads, mem, tracer)
    finally:
        mem.stop()
        t = time.perf_counter()
        shutdown(spark)
    if out is None:
        return 1
    out.phases.update(session=session_s, shutdown=time.perf_counter() - t)
    for msg in out.problems:
        print(f"ORACLE GATE FAILED: {msg}", file=sys.stderr)

    walls = [c.wall for c in out.crawls]
    if tracer is not None:
        from perfbench import eventlog

        values = layer_metrics(
            tracer, eventlog.load(str(WORK / "events")), out.crawls[0],
            session_s, walls[1] / walls[0], res["cores"],
        )
        units = PER_LAYER
        print(json.dumps({"traced_crawl_share": layer_shares(
            tracer, values, walls[1]
        )}), flush=True)
    else:
        values = {
            "pages_per_s": statistics.median(
                n / w for n, w in zip(out.pages, walls)
            ),
            "urls_per_s": statistics.median(out.url_rows / w for w in walls),
            "batch_s.p50": statistics.median(
                b for c in out.crawls for b in c.batch_walls
            ),
            "setup_s": session_s + out.setup_s,
            "peak_pss_mb": out.peak_pss_mb,
        }
        units = END_TO_END
        print(json.dumps({
            "phases_s": out.phases,
            "crawl_walls_s": walls,
            "batches_per_crawl": [len(c.batch_walls) for c in out.crawls],
            "failed_ratio": {
                "value": out.failed / out.attempted, "unit": "ratio"
            },
            **{k: {"value": values[k], "unit": u} for k, u in units.items()},
        }), flush=True)
    print(json.dumps({
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0 if not out.problems else 1


if __name__ == "__main__":
    sys.exit(main())
