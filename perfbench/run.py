"""Extraction benchmark: one workload per call, closed loop, one JSON result.

    python3 perfbench/run.py --workload stage_1core --seed 1 --seconds 12 --trace 0

Run it from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.
The line before it is the run's context (commit, nproc, seed, machine
canary). Inputs, outputs and event logs go to
``.perfbench-runs/<workload>-seed<N>/``. The exit code is 0 only when every
checked output was right. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import functools
import hashlib
import json
import math
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

try:
    import corpus
except ModuleNotFoundError as e:   # no ocr_spark: not a full checkout
    sys.exit(f"perfbench: {e}; run it from the root of a full checkout")
import eventlog  # noqa: E402
import sparkrun  # noqa: E402
import stage  # noqa: E402

ROOT = corpus.ROOT
KINDS = corpus.KINDS
SETUP_SAMPLES = 3         # Spark session starts per run
IMPORT_SAMPLES = 7        # stage_1core kernel imports per run (~0.05 s each)
MIN_STEPS = 3             # Spark jobs or passes per timed loop, at least

# workload sizes, in conversations of the default mix (~15.9 turns each)
STAGE_CONVS = 3770        # ~60k turns
BATCH_CONVS = 750         # ~12k turns per job, half of them in 8 hot convs
STREAM_INC_CONVS = 1000   # ~16k turns per increment
WARM_CONVS = 100          # ~1.6k turns: the batch warm-up job
STREAM_PASS_GUESS_S = 3   # sizes how many increment references start early

CANARY = """
import time, numpy as np
a = np.random.default_rng(7).random((600, 600))
a @ a
ts = []
for _ in range(5):
    t = time.perf_counter(); a @ a; ts.append(time.perf_counter() - t)
print(sorted(ts)[2])
"""

STREAM_DURATIONS = {"trigger": "triggerExecution", "add_batch": "addBatch",
                    "latest_offset": "latestOffset",
                    "query_planning": "queryPlanning", "wal_commit": "walCommit",
                    "commit_offsets": "commitOffsets"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def unit_of(name: str) -> str:
    if name.endswith("turns_per_s"):
        return "1/s"
    if "_us." in name:
        return "us"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("share", "skew")):
        return "ratio"
    return "count"


def empty_layers() -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    names = [
        "kernels.parsers.detect_s",
        *(f"kernels.parsers.parse.{p}_s" for p in
          ("doc_parser_json", "generic_markdown", "text_block")),
        "kernels.readability.extract_s", "kernels.pdftext.extract_s",
        "kernels.parsers.extract_turn_self_s",
        *(f"kernels.turn_p50_us.{k}" for k in KINDS),
        *(f"kernels.turn_p99_us.{k}" for k in KINDS),
        "pipeline.extract.row_assembly_s", "pipeline.extract.arrow_in_s",
        "pipeline.extract.arrow_out_s",
        "pipeline.extract.scan_bucket_stage_s",
        "pipeline.extract.shuffle_write_bytes",
        "pipeline.extract.shuffle_read_bytes",
        "pipeline.extract.python_stage_s", "pipeline.extract.task_skew",
        "pipeline.extract.write_bytes", "pipeline.extract.manifest_s",
        "pipeline.extract.python_total_s", "pipeline.extract.python_boot_s",
        "pipeline.extract.python_init_s", "pipeline.extract.python_sent_bytes",
        "pipeline.extract.python_received_bytes",
        "spark.driver_gap_s", "spark.other_stage_s", "spark.gc_s",
        "spark.executor_cpu_s", "spark.tasks", "spark.task_failures",
        *(f"streaming.{s}_ms" for s in STREAM_DURATIONS),
        *(f"turns.{k}" for k in KINDS),
        "input_bytes", "output_bytes",
        "trace.wall_s", "trace.accounted_share", "trace.overhead_turns_per_s",
    ]
    return dict.fromkeys(names, 0.0)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    values = sorted(values)
    return values[max(0, math.ceil(q * len(values)) - 1)]


def python_s(code: str, env: dict | None = None) -> float:
    """Run `code` in a fresh interpreter at the root; it prints seconds."""
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         check=True, capture_output=True, text=True, timeout=120)
    return float(out.stdout.strip())


def canary() -> float:
    """Single-thread numpy matmul seconds: context, never a divisor."""
    return python_s(CANARY, dict(os.environ, OPENBLAS_NUM_THREADS="1",
                                 OMP_NUM_THREADS="1", MKL_NUM_THREADS="1"))


def context(args) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.blake2b(digest_size=12)
    for d, dirs, files in os.walk(os.path.join(ROOT, "ocr_spark")):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return {"git_commit": commit, "source_digest": h.hexdigest(),
            "nproc": nproc(), "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace}


def kind_counts(table, times: int = 1) -> dict[str, float]:
    counts = pc.value_counts(pc.fill_null(table.column("source_kind"), "none"))
    return {f"turns.{c['values']}": float(c["counts"] * times)
            for c in counts.to_pylist()}


def golden_digests():
    """Per-kind digests of the pinned default-seed slice, extracted
    in-process (in a pool process for the Spark workloads)."""
    return corpus.kind_digests(corpus.stage_output_table(stage.run_all(
        corpus.stage_batches(corpus.transcripts(corpus.DEFAULT_SEED,
                                                *corpus.GOLDEN_CONVS)))))


# -- stage_1core ---------------------------------------------------------------

KERNEL_IMPORT = ("import time; t = time.perf_counter(); "
                 "import ocr_spark.kernels.parsers, ocr_spark.kernels.readability, "
                 "ocr_spark.kernels.pdftext; print(time.perf_counter() - t)")


def run_stage_1core(args) -> dict:
    setup = statistics.median(python_s(KERNEL_IMPORT) for _ in range(IMPORT_SAMPLES))
    batches = corpus.stage_batches(corpus.transcripts(args.seed, 0, STAGE_CONVS))
    keys = [corpus.batch_keys(b) for b in batches]
    n = nproc()
    # each CPU runs its own single-core stage over every n-th batch: the
    # VM's vCPUs slow down one at a time, so a single pinned or unpinned
    # loop measures whichever one it ran on
    owned = [list(range(i, len(batches), n)) for i in range(n)]

    # the pinned default-seed slice, checked against its digests
    golden = golden_digests()
    failed = corpus.golden_failures(golden)
    attempted = sum(v["turns"] for v in golden.values())
    first: dict[int, bytes] = {}

    def loop(traced: bool):
        """Returns (turns/s per core, median batch seconds, per-replica
        results) and checks every output: it holds exactly its input's
        turns, and a batch that ran again gave the same bytes."""
        nonlocal attempted, failed
        out = stage.on_every_cpu([[batches[k] for k in ks] for ks in owned],
                                 args.seconds, traced)
        turns = busy = 0.0
        for (_, _, done, _, _), ks in zip(out, owned):
            for j, size, secs, result in done:
                k = ks[j]
                attempted += size
                turns, busy = turns + size, busy + secs
                if (not corpus.same_keys(keys[k], result)
                        or first.setdefault(k, result) != result):
                    failed += size
        fresh = statistics.median(s for _, _, done, _, _ in out for _, _, s, _ in done)
        return turns / busy, fresh, out

    with sparkrun.TreeRss(os.getpid()) as rss:
        rate, fresh, _ = loop(False)
    if not args.trace:
        return {"attempted": attempted, "failed": failed, "metrics": {
            "turns_per_s": metric(rate, "1/s"),
            "freshness_p50_s": metric(fresh, "s"),
            "setup_s": metric(setup, "s"),
            "peak_rss_mb": metric(rss.peak_mb, "MB")}}

    t_rate, _, out = loop(True)
    st: dict[str, float] = {}
    turn_us: dict[str, list[float]] = {}
    for _, _, _, self_time, us in out:
        for name, v in self_time.items():
            st[name] = st.get(name, 0.0) + v
        for kind, values in us.items():
            turn_us.setdefault(kind, []).extend(values)
    wall = sum(w for _, w, _, _, _ in out)
    layers = empty_layers()
    layers.update({
        "kernels.parsers.detect_s": st.get("detect", 0.0),
        "kernels.readability.extract_s": st.get("readability", 0.0),
        "kernels.pdftext.extract_s": st.get("pdftext", 0.0),
        "kernels.parsers.extract_turn_self_s": st.get("extract_turn", 0.0),
        "pipeline.extract.row_assembly_s": st.get("row_assembly", 0.0),
        "pipeline.extract.arrow_in_s": st.get("arrow_in", 0.0),
        "pipeline.extract.arrow_out_s": st.get("arrow_out", 0.0),
        "input_bytes": float(sum(len(batches[ks[j]]) for (_, _, done, _, _), ks
                                 in zip(out, owned) for j, _, _, _ in done)),
        "output_bytes": float(sum(len(o) for _, _, done, _, _ in out
                                  for _, _, _, o in done)),
        "trace.wall_s": wall,
        "trace.accounted_share": sum(st.values()) / wall,
        "trace.overhead_turns_per_s": t_rate - rate,
    })
    for p in stage.PARSE_SPANS:
        layers[f"kernels.parsers.parse.{p}_s"] = st.get("parse." + p, 0.0)
    for kind, us in turn_us.items():
        layers[f"turns.{kind}"] = float(len(us))
        layers[f"kernels.turn_p50_us.{kind}"] = percentile(us, 0.50)
        layers[f"kernels.turn_p99_us.{kind}"] = percentile(us, 0.99)
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: metric(v, unit_of(k)) for k, v in layers.items()}}


# -- Spark workloads -------------------------------------------------------------

def prepare(seed, lo, hi, directory, n_files, reference):
    """Pool task: write conversations [lo, hi) as `n_files` parquet files of
    equal row counts and, if `reference`, run the in-process stage over the
    same turns. Returns (turns, files, stage output streams)."""
    table = corpus.transcripts(seed, lo, hi)
    files = sparkrun.write_files(table, directory, n_files, f"c{lo:06d}")
    outputs = stage.run_all(corpus.stage_batches(table)) if reference else []
    return table.num_rows, files, outputs


def reference_outputs(seed, lo, hi):
    """Pool task: the in-process stage over conversations [lo, hi)."""
    return stage.run_all(corpus.stage_batches(corpus.transcripts(seed, lo, hi)))


class SparkRun:
    """What both Spark workloads share: a process pool that writes the
    inputs and runs the in-process stage for the reference outputs while the
    JVM cold-starts, the set-up samples, the warm-up, the timed closed loop
    and the traced phase."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.n = nproc()
        self.sessions = sparkrun.Sessions(self.n)
        self.workers = max(1, self.n - 1)
        self.pool = multiprocessing.get_context("spawn").Pool(self.workers)
        self.golden = self.pool.apply_async(golden_digests)
        self.event_dir = os.path.join(work, "eventlog")

    def prepare(self, lo, hi, directory, n_files, reference=True):
        return self.pool.apply_async(prepare, (self.args.seed, lo, hi, directory,
                                               n_files, reference))

    def setup(self, w) -> tuple[float, dict]:
        """Cold-start the JVM while the pool works and wait for the pool;
        time SETUP_SAMPLES session starts, keep the last session and warm it
        up. Returns (median session start, golden digests)."""
        self.sessions.start()
        golden = self.golden.get()
        for p in w.pending:
            p.wait()
        log("JVM started; inputs and references ready")
        samples = []
        for _ in range(SETUP_SAMPLES):
            self.sessions.stop()
            samples.append(self.sessions.start())
        log(f"set-up samples {samples}")
        w.warm()
        log("warmed up")
        return statistics.median(samples), golden

    def timed(self, step, seconds: float):
        """Closed loop: call step() back to back until MIN_STEPS ran and the
        steps' timed windows add up to `seconds`. A step returns (turns,
        (start, end) in epoch seconds, details). Returns the steps and the
        peak memory of the JVM with its Python workers."""
        steps = []
        with sparkrun.TreeRss(self.sessions.jvm_pid()) as rss:
            while (len(steps) < MIN_STEPS
                   or sum(b - a for _, (a, b), _ in steps) < seconds):
                steps.append(step())
        log(f"timed steps {[round(b - a, 3) for _, (a, b), _ in steps]}")
        return steps, rss.peak_mb

    def traced_session(self):
        """Swap the session for one that writes an event log."""
        os.makedirs(self.event_dir, exist_ok=True)
        self.sessions.stop()
        self.sessions.start(self.event_dir)

    def span_layers(self, windows, batch: bool) -> dict:
        self.sessions.stop()   # completes the event log
        layers = eventlog.layers(eventlog.read_events(self.event_dir), windows, batch)
        wall = sum(b - a for a, b in windows)
        stages = sum(layers[k] for k in (
            "pipeline.extract.python_stage_s", "pipeline.extract.scan_bucket_stage_s",
            "pipeline.extract.manifest_s", "spark.other_stage_s"))
        layers["trace.wall_s"] = wall
        layers["trace.accounted_share"] = (stages + layers["spark.driver_gap_s"]) / wall
        return layers

    def close(self):
        self.pool.close()
        self.pool.join()
        self.sessions.shutdown()


class BatchJob:
    """run_extract_job over one staged parquet input, again and again."""
    batch = True

    def __init__(self, run: SparkRun):
        self.run = run
        self.input = os.path.join(run.work, "input")
        self.warm_input = os.path.join(run.work, "warm")
        self.warm_files = run.prepare(BATCH_CONVS, BATCH_CONVS + WARM_CONVS,
                                      self.warm_input, 2 * run.n, reference=False)
        per = -(-BATCH_CONVS // run.workers)
        self.pending = [run.prepare(lo, min(lo + per, BATCH_CONVS), self.input,
                                    -(-2 * run.n // run.workers))
                        for lo in range(0, BATCH_CONVS, per)]
        self.outputs: list[str] = []

    @functools.cached_property
    def rows_in(self) -> int:
        """Counted from the input files, never taken from the manifest."""
        return sum(pq.ParquetFile(os.path.join(self.input, f)).metadata.num_rows
                   for f in os.listdir(self.input))

    def warm(self):
        """A small job first: a session's first job is its slowest."""
        self.warm_files.get()
        sparkrun.batch_job(self.run.sessions.spark, self.warm_input,
                           os.path.join(self.run.work, "jobs", "warm"), "warm")

    def step(self):
        rows = self.rows_in
        out = os.path.join(self.run.work, "jobs", f"job-{len(self.outputs)}")
        self.outputs.append(out)
        window = sparkrun.batch_job(self.run.sessions.spark, self.input, out,
                                    os.path.basename(out))
        return rows, window, None

    def check(self):
        reference = corpus.stage_output_table(
            [o for p in self.pending for o in p.get()[2]])
        failed = 0
        for out in self.outputs:
            data, manifest_rows = sparkrun.batch_output(out)
            failed += (corpus.mismatches(reference, data)
                       + abs(manifest_rows - data.num_rows))
        self.reference = reference
        return self.rows_in * len(self.outputs), failed

    def trace_layers(self, steps) -> dict:
        return kind_counts(self.reference, len(steps))


class StreamIncrements:
    """Increments land one after another, each followed by one AvailableNow
    pass of run_stream_extract."""
    batch = False

    def __init__(self, run: SparkRun):
        self.run = run
        self.stream = sparkrun.Stream(os.path.join(run.work, "stream"))
        self.next_conv = 0
        self.landed = []   # (lo, hi, prepared) per landed increment
        # the increments one timed loop is expected to land are written and
        # get references while the JVM starts; any others are written before
        # they land and get references after the loop
        expected = max(MIN_STEPS, math.ceil(run.args.seconds / STREAM_PASS_GUESS_S))
        self.warm_staged = [self._prepare(STREAM_INC_CONVS, True)]
        self.staged = [self._prepare(STREAM_INC_CONVS, True) for _ in range(expected)]
        self.pending = [p for _, _, p in self.warm_staged + self.staged]

    def _prepare(self, convs: int, reference: bool):
        lo, hi = self.next_conv, self.next_conv + convs
        self.next_conv = hi
        return lo, hi, self.run.prepare(
            lo, hi, os.path.join(self.run.work, "staged", f"c{lo:06d}"),
            self.run.n, reference)

    def warm(self):
        """A full increment first: a session's first passes are its slowest."""
        self._land(self.warm_staged, STREAM_INC_CONVS)

    def step(self):
        return self._land(self.staged, STREAM_INC_CONVS)

    def _land(self, staged: list, convs: int):
        lo, hi, prepared = staged.pop(0) if staged else self._prepare(convs, False)
        rows, files, _ = prepared.get()
        window, progress = self.stream.pass_after_landing(self.run.sessions.spark,
                                                          files)
        self.landed.append((lo, hi, prepared))
        return rows, window, progress

    def check(self):
        late = [None if p.get()[2] else self.run.pool.apply_async(
                    reference_outputs, (self.run.args.seed, lo, hi))
                for lo, hi, p in self.landed]
        self.references = [corpus.stage_output_table(l.get() if l else p.get()[2])
                           for (_, _, p), l in zip(self.landed, late)]
        reference = corpus.canonical(pa.concat_tables(self.references))
        output = corpus.parquet_table(self.stream.output)
        return sum(r.num_rows for r in self.references), corpus.mismatches(reference, output)

    def trace_layers(self, steps) -> dict:
        layers: dict[str, float] = {}
        for ref in self.references[-len(steps):]:
            for k, v in kind_counts(ref).items():
                layers[k] = layers.get(k, 0.0) + v
        for name, key in STREAM_DURATIONS.items():
            layers[f"streaming.{name}_ms"] = statistics.median(
                float(p["durationMs"].get(key, 0)) for _, _, p in steps)
        return layers


def run_spark(args, work: str, workload) -> dict:
    run = SparkRun(args, work)
    try:
        w = workload(run)
        setup, golden = run.setup(w)
        steps, peak = run.timed(w.step, args.seconds)
        walls = [b - a for _, (a, b), _ in steps]
        rate = statistics.median(n / (b - a) for n, (a, b), _ in steps)
        metrics = {"turns_per_s": metric(rate, "1/s"),
                   "freshness_p50_s": metric(statistics.median(walls), "s"),
                   "setup_s": metric(setup, "s"),
                   "peak_rss_mb": metric(peak, "MB")}
        if args.trace:
            run.traced_session()
            w.warm()
            t_steps, _ = run.timed(w.step, args.seconds)
            layers = empty_layers()
            layers.update(run.span_layers([win for _, win, _ in t_steps], w.batch))
            layers["trace.overhead_turns_per_s"] = statistics.median(
                n / (b - a) for n, (a, b), _ in t_steps) - rate
        attempted, failed = w.check()
        log("outputs checked")
        if args.trace:
            layers.update(w.trace_layers(t_steps))
            metrics = {k: metric(v, unit_of(k)) for k, v in layers.items()}
    finally:
        run.close()
    attempted += sum(v["turns"] for v in golden.values())
    failed += corpus.golden_failures(golden)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


# -- entry point ---------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    process whose parent exits (a Python worker of a stopped JVM, say) is
    re-parented here and reap() still finds it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap(grace: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    multiprocessing's resource tracker, which would otherwise outlive this
    process, then anything still below it. A process left after `grace`
    seconds gets SIGTERM, after twice that SIGKILL."""
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    me, t0 = os.getpid(), time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in sparkrun.tree(me) if p != me]
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace:
            log(f"stopping leftover processes {left}")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL if waited > 2 * grace
                            else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    adopt_orphans()
    try:
        return measure()
    finally:
        reap()


def measure() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stage_1core", "batch_job", "stream_increments"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench-runs", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    # temporary files, Spark's block manager and shuffle files included,
    # stay inside the run's directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp

    ctx = context(args)
    ctx["canary_pre_s"] = canary()
    if args.workload == "stage_1core":
        res = run_stage_1core(args)
    else:
        res = run_spark(args, work, BatchJob if args.workload == "batch_job"
                        else StreamIncrements)
    ctx["canary_post_s"] = canary()
    for name in os.listdir(work):   # keep the event log, drop inputs and outputs
        if name != "eventlog":
            shutil.rmtree(os.path.join(work, name))
    with open(os.path.join(work, "context.json"), "w") as f:
        json.dump({**ctx, **res}, f, indent=1)
    correct = res["failed"] == 0 and res["attempted"] > 0
    if not args.trace:
        res["metrics"]["correct_share"] = metric(
            1 - res["failed"] / res["attempted"], "ratio")
    want = set(empty_layers()) if args.trace else {
        "turns_per_s", "freshness_p50_s", "setup_s", "peak_rss_mb", "correct_share"}
    if set(res["metrics"]) != want:
        raise RuntimeError(f"metric names {sorted(set(res['metrics']) ^ want)}")
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
