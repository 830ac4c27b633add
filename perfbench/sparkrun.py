"""The two Spark workloads: the salted batch job and streaming increments.

Both drive the engine through its public entry points (``build_session``,
``run_extract_job``, ``run_stream_extract``) on ``local[nproc]``, from one
driver thread that submits the next job only when the previous one returned
(closed loop, one client).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

import pyarrow.parquet as pq

import corpus

ROOT = corpus.ROOT
DRIVER_MEMORY = "2g"


def _import_probe(batches):
    """First task of a session: spawns the Python worker and imports the
    kernels the extraction stage uses; reports where ocr_spark came from."""
    import pandas as pd

    import ocr_spark
    import ocr_spark.kernels.parsers  # noqa: F401
    import ocr_spark.kernels.pdftext  # noqa: F401
    import ocr_spark.kernels.readability  # noqa: F401
    import ocr_spark.pipeline.extract  # noqa: F401
    for b in batches:
        yield pd.DataFrame({"path": [ocr_spark.__file__] * len(b),
                            "pid": [os.getpid()] * len(b)})


class Sessions:
    """Spark sessions on one JVM, started the way the benchmark measures
    set-up: ``build_session`` plus a first job that makes each of the
    ``nproc`` Python workers spawn and import the kernels."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.spark = None
        # workers import the working tree: the checkout root on PYTHONPATH,
        # and no --py-files archive anywhere in the session
        paths = [ROOT, os.environ.get("PYTHONPATH", "")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
        # ship _import_probe by value: workers never import benchmark code
        from pyspark import cloudpickle
        cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def start(self, event_log_dir: str | None = None) -> float:
        from ocr_spark.pipeline.session import build_session
        conf = {"spark.ui.showConsoleProgress": "false",
                # a bounded heap, since the machine is shared, committed and
                # touched at JVM start: the footprint then does not depend on
                # when G1 decides to grow the heap
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tempfile.gettempdir()}"}
        if event_log_dir:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", cores=self.nproc,
                                   extra_conf=conf)
        rows = (self.spark.range(self.nproc, numPartitions=self.nproc)
                .mapInPandas(_import_probe, "path string, pid long").collect())
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        want = os.path.join(ROOT, "ocr_spark", "__init__.py")
        bad = {r.path for r in rows if r.path != want}
        if bad:
            raise RuntimeError(f"Python workers import {bad}, not {want}")
        return took

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class TreeRss:
    """Samples the memory of a process and all its descendants (the JVM and
    its Python daemon and workers) on a background thread. Each process
    counts its proportional set size, so pages a forked worker shares with
    the daemon count once."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(map(pss, tree(self.pid))))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def pss(pid: int) -> int:
    """Proportional set size in bytes, 0 for a process that has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def write_files(table, directory: str, n_files: int, prefix: str) -> list[str]:
    """Write `table` as `n_files` parquet files of equal row counts."""
    os.makedirs(directory, exist_ok=True)
    per = -(-table.num_rows // n_files)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"{prefix}-{i:03d}.parquet")
        pq.write_table(table.slice(i * per, per), path)
        paths.append(path)
    return paths


# -- batch_job --------------------------------------------------------------

def batch_job(spark, input_dir: str, out_dir: str, run_id: str):
    """One run_extract_job over the staged input; returns its (start, end)
    in epoch seconds."""
    from ocr_spark.pipeline.extract import run_extract_job
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.time()
    run_extract_job(spark, spark.read.parquet(input_dir), out_dir, run_id)
    return t0, time.time()


def batch_output(out_dir: str):
    """(extracted turns, manifest rows_out total) of one job."""
    data = corpus.parquet_table(os.path.join(out_dir, "extracted_turns"))
    manifest = pq.read_table(os.path.join(out_dir, "_checkpoints"),
                             columns=["rows_out"])
    return data, sum(manifest.column("rows_out").to_pylist())


# -- stream_increments ------------------------------------------------------

class Stream:
    """Increments land in `in/` as whole files (rename), each followed by
    one AvailableNow pass of run_stream_extract in the current session."""

    def __init__(self, root: str):
        self.input = os.path.join(root, "in")
        self.output = os.path.join(root, "out")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.input, exist_ok=True)

    def pass_after_landing(self, spark, staged: list[str]):
        """Land one increment's files and run the pass. Returns ((landed,
        returned) in epoch seconds, the pass's last progress)."""
        from ocr_spark.streaming.stream import run_stream_extract
        for path in staged:
            os.rename(path, os.path.join(self.input, os.path.basename(path)))
        t0 = time.time()
        res = run_stream_extract(spark, self.input, self.output,
                                 self.checkpoint, timeout_sec=120)
        return (t0, time.time()), res["last_progress"]
