"""Read Spark's JSON event log (written uncompressed) and sum it per window.

The traced run enables the log through JIRLBOT_SPARK_CONF. Each window is
one loop call of the run's untraced crawl (epoch seconds). A job counts in
the window its submission falls in, a task in the window its finish
falls in.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 2**20


@dataclass
class EventLog:
    job_starts: list[float] = field(default_factory=list)  # epoch s
    # (finish epoch s, executor cpu s, gc s, shuffle write B, shuffle read B,
    #  spill B)
    tasks: list[tuple[float, float, float, int, int, int]] = field(
        default_factory=list
    )


def _files(log_dir: str) -> list[str]:
    """Event files under log_dir. Spark 4 rolls event logs by default
    (spark.eventLog.rolling.enabled), so the log is a directory
    eventlog_v2_<app>/ of events_<n>_<app> files plus an appstatus
    marker; a single-file log (rolling turned off) reads the same way."""
    out = []
    for base, _, names in os.walk(log_dir):
        out += [os.path.join(base, n) for n in names
                if not n.startswith(("appstatus", "."))]
    return sorted(out)


def load(log_dir: str) -> EventLog:
    out = EventLog()
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    out.job_starts.append(ev["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out.tasks.append((
                        ev["Task Info"]["Finish Time"] / 1000,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1000,
                        sw.get("Shuffle Bytes Written", 0),
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    ))
    return out


def window(log: EventLog, start: float, end: float) -> dict[str, float]:
    tasks = [t for t in log.tasks if start <= t[0] <= end]
    return {
        "jobs": sum(start <= s <= end for s in log.job_starts),
        "executor_cpu_s": sum(t[1] for t in tasks),
        "gc_s": sum(t[2] for t in tasks),
        "shuffle_write_mb": sum(t[3] for t in tasks) / MB,
        "shuffle_read_mb": sum(t[4] for t in tasks) / MB,
        "spill_mb": sum(t[5] for t in tasks) / MB,
    }
