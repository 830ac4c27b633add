"""Per-layer figures from a Spark event log.

The traced Spark runs enable ``spark.eventLog`` through
``build_session(extra_conf=...)``. Every stage submitted inside one of the
timed windows (one window per batch job or streaming pass) is put in one
layer:

- python stage: the stage that runs MapInPandas (it carries the Python
  runner's SQL metrics), with the parquet write fused into it;
- scan/bucket stage: batch stages before it (input listing, the scan that
  quarantines null keys, adds the bucket and writes the salted shuffle);
- manifest: batch stages after it (output listing, manifest aggregate and
  write, the row count);
- other: streaming stages that do not run Python.

Figures are totals over the windows, except ``python_boot_s``, which covers
the whole log: Python workers spawn in a session's first job, before any
timed window.

``spark.driver_gap_s`` is the window time during which no stage ran
(planning, commit protocol, streaming offset/commit logs), so the stage
walls plus the gap account for the whole traced wall.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PY_METRICS = {
    "time to run Python workers": ("pipeline.extract.python_total_s", 1e-3),
    "time to start Python workers": ("pipeline.extract.python_boot_s", 1e-3),
    "time to initialize Python workers": ("pipeline.extract.python_init_s", 1e-3),
    "data sent to Python workers": ("pipeline.extract.python_sent_bytes", 1),
    "data returned from Python workers": ("pipeline.extract.python_received_bytes", 1),
}


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layers(events: list[dict], windows: list[tuple[float, float]],
           batch: bool) -> dict[str, float]:
    """Per-layer totals over the timed windows (epoch seconds)."""
    stages, tasks = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif e["Event"] == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    def window_of(t):
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    picked = []   # (window, start, end, stage info)
    for info in stages.values():
        start = info["Submission Time"] / 1000
        w = window_of(start)
        if w is not None:
            picked.append((w, start, info["Completion Time"] / 1000, info))

    def accum(info):
        return {a["Name"]: float(a["Value"])
                for a in info.get("Accumulables", []) if "Name" in a}

    # workers spawn in a session's first job, before any timed window
    boot = sum(accum(info).get("time to start Python workers", 0.0) * 1e-3
               for info in stages.values())

    python_end = {}   # window -> completion of its python stage
    for w, start, end, info in picked:
        if "time to run Python workers" in accum(info):
            python_end[w] = max(python_end.get(w, 0.0), end)

    cats = {k: [] for k in ("python", "scan", "manifest", "other")}
    out = {name: 0.0 for name, _ in PY_METRICS.values()}
    skews, task_n, failures = [], 0, 0
    gc = cpu = shuffle_w = shuffle_r = read = written = python_written = 0.0
    for w, start, end, info in picked:
        acc = accum(info)
        if "time to run Python workers" in acc:
            cat = "python"
            for key, (name, scale) in PY_METRICS.items():
                out[name] += acc.get(key, 0.0) * scale
        elif batch:
            cat = "scan" if start < python_end.get(w, float("inf")) else "manifest"
        else:
            cat = "other"
        cats[cat].append((start, end))
        durations = []
        for t in tasks.get(info["Stage ID"], []):
            task_n += 1
            if t["Task End Reason"]["Reason"] != "Success":
                failures += 1
            ti, m = t["Task Info"], t.get("Task Metrics") or {}
            durations.append(ti["Finish Time"] - ti["Launch Time"])
            gc += m.get("JVM GC Time", 0) / 1e3
            cpu += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            shuffle_w += sw.get("Shuffle Bytes Written", 0)
            shuffle_r += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            read += m.get("Input Metrics", {}).get("Bytes Read", 0)
            wrote = m.get("Output Metrics", {}).get("Bytes Written", 0)
            written += wrote
            if cat == "python":
                python_written += wrote
        if cat == "python" and durations:
            skews.append(max(durations) / max(statistics.median(durations), 1))

    wall = sum(b - a for a, b in windows)
    busy = _union([iv for ivs in cats.values() for iv in ivs])
    out.update({
        "pipeline.extract.python_boot_s": boot,
        "pipeline.extract.python_stage_s": _union(cats["python"]),
        "pipeline.extract.scan_bucket_stage_s": _union(cats["scan"]),
        "pipeline.extract.manifest_s": _union(cats["manifest"]),
        "spark.other_stage_s": _union(cats["other"]),
        "spark.driver_gap_s": wall - busy,
        "pipeline.extract.shuffle_write_bytes": shuffle_w,
        "pipeline.extract.shuffle_read_bytes": shuffle_r,
        "pipeline.extract.write_bytes": python_written,
        "pipeline.extract.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.gc_s": gc,
        "spark.executor_cpu_s": cpu,
        "spark.tasks": task_n,
        "spark.task_failures": failures,
        "input_bytes": read,
        "output_bytes": written,
    })
    return out
