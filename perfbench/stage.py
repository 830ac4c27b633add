"""The extraction stage in-process, exactly as a mapInPandas worker runs it.

Each input batch goes through the worker's own serializer: Arrow stream ->
pandas (``load_stream``), the ``make_extract_fn`` body, pandas -> Arrow
stream (``dump_stream``). Spark does no work here: what is timed is the
Python stage alone.

``Tracer`` records spans around the calls into each layer, from outside:
the serializer's two directions, the stage body, and the public kernel
functions, which are wrapped in place for the traced run only.
"""

from __future__ import annotations

import io
import os
import time
from contextlib import contextmanager, nullcontext

import pyarrow as pa

from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
from pyspark.sql.pandas.types import to_arrow_type

from ocr_spark.kernels import parsers, pdftext, readability
from ocr_spark.pipeline.extract import EXTRACT_SCHEMA, make_extract_fn

OUT_TYPE = to_arrow_type(EXTRACT_SCHEMA)
PARSE_SPANS = ("doc_parser_json", "generic_markdown", "text_block")


def serializer() -> ArrowStreamPandasUDFSerializer:
    # the arguments worker.py passes for SQL_MAP_PANDAS_ITER_UDF with the
    # session's defaults (timezone UTC, no safe cast, struct -> DataFrame)
    return ArrowStreamPandasUDFSerializer(
        "UTC", False, True, df_for_struct=True, struct_in_pandas="dict",
        ndarray_as_list=False, arrow_cast=True, input_types=None)


class Tracer:
    """Nested spans on one thread: self time per span name, plus per-turn
    extract_turn times by source kind."""

    def __init__(self):
        self.self_time: dict[str, float] = {}
        self.turn_us: dict[str, list[float]] = {}
        self._stack: list[list[float]] = []   # [start, child time]

    @contextmanager
    def span(self, name: str):
        frame = [time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            dur = time.perf_counter() - frame[0]
            self.self_time[name] = self.self_time.get(name, 0.0) + dur - frame[1]
            if self._stack:
                self._stack[-1][1] += dur

    def iterate(self, it, name: str):
        it = iter(it)
        while True:
            with self.span(name):
                try:
                    item = next(it)
                except StopIteration:
                    return
            yield item

    @contextmanager
    def kernels(self):
        """Wrap the public kernel entry points for the duration."""
        orig = (parsers.extract_turn, parsers.detect_parser,
                parsers.parse_payload, readability.extract_main_content,
                pdftext.extract_pdf_layout)
        extract_turn, detect, parse, rb_extract, pdf_extract = orig

        def traced_extract_turn(ext, name, text):
            t0 = time.perf_counter()
            with self.span("extract_turn"):
                res = extract_turn(ext, name, text)
            self.turn_us.setdefault(res["source_kind"] or "none", []).append(
                (time.perf_counter() - t0) * 1e6)
            return res

        def traced_detect(ext, text):
            with self.span("detect"):
                return detect(ext, text)

        def traced_parse(parser_id, *args, **kw):
            if parser_id not in PARSE_SPANS:
                return parse(parser_id, *args, **kw)
            with self.span("parse." + parser_id):
                return parse(parser_id, *args, **kw)

        def traced_rb(html):
            with self.span("readability"):
                return rb_extract(html)

        def traced_pdf(payload):
            with self.span("pdftext"):
                return pdf_extract(payload)

        (parsers.extract_turn, parsers.detect_parser, parsers.parse_payload,
         readability.extract_main_content, pdftext.extract_pdf_layout) = (
            traced_extract_turn, traced_detect, traced_parse, traced_rb,
            traced_pdf)
        try:
            yield
        finally:
            (parsers.extract_turn, parsers.detect_parser,
             parsers.parse_payload, readability.extract_main_content,
             pdftext.extract_pdf_layout) = orig


def run_batch(ser, fn, ipc: bytes, tracer: Tracer | None = None) -> bytes:
    """One Arrow batch through the stage; returns the worker's output stream."""
    frames = (cols[0] for cols in ser.load_stream(io.BytesIO(ipc)))
    sink = io.BytesIO()
    if tracer is None:
        ser.dump_stream(((df, OUT_TYPE) for df in fn(frames)), sink)
        return sink.getvalue()
    with tracer.span("arrow_out"):
        out = fn(tracer.iterate(frames, "arrow_in"))
        ser.dump_stream(((df, OUT_TYPE) for df in
                         tracer.iterate(out, "row_assembly")), sink)
    return sink.getvalue()


def run_all(batches: list[bytes]) -> list[bytes]:
    """Untimed pass over a fixed list of batches (reference outputs)."""
    ser, fn = serializer(), make_extract_fn()
    return [run_batch(ser, fn, b) for b in batches]


def closed_loop(batches: list[bytes], seconds: float,
                tracer: Tracer | None = None):
    """Feed batches back to back, cycling over the list, until `seconds` have
    passed. Returns (wall, [(batch, turns, seconds, output stream)])."""
    sizes = [pa.ipc.open_stream(b).read_all().num_rows for b in batches]
    ser, fn = serializer(), make_extract_fn()
    done = []
    t0 = time.perf_counter()
    with (tracer.kernels() if tracer else nullcontext()):
        while not done or time.perf_counter() - t0 < seconds:
            k = len(done) % len(batches)
            t = time.perf_counter()
            out = run_batch(ser, fn, batches[k], tracer)
            done.append((k, sizes[k], time.perf_counter() - t, out))
    return time.perf_counter() - t0, done


def replica(cpu, batches, barrier, seconds, traced, results):
    """Process target: one single-threaded stage pinned to `cpu`. Warms up
    on one batch, waits at `barrier` for the other replicas, runs the
    closed loop, and puts (wall, done, self times, per-turn times) on
    `results`."""
    try:
        os.sched_setaffinity(0, {cpu})
        run_all(batches[:1])
        barrier.wait(timeout=60)
        tracer = Tracer() if traced else None
        wall, done = closed_loop(batches, seconds, tracer)
        results.put((cpu, wall, done, tracer and tracer.self_time,
                     tracer and tracer.turn_us))
    except BaseException as e:
        results.put((cpu, repr(e), None, None, None))
        raise


def on_every_cpu(batch_sets: list[list[bytes]], seconds: float, traced: bool):
    """One replica per CPU of the process's set, each over its own batches,
    all timed over the same window. Returns their results by CPU."""
    import multiprocessing
    ctx = multiprocessing.get_context("spawn")
    cpus = sorted(os.sched_getaffinity(0))[:len(batch_sets)]
    barrier, results = ctx.Barrier(len(cpus)), ctx.Queue()
    procs = [ctx.Process(target=replica, args=(cpu, batches, barrier, seconds,
                                               traced, results))
             for cpu, batches in zip(cpus, batch_sets)]
    for p in procs:
        p.start()
    try:
        out = sorted(results.get(timeout=seconds + 120) for _ in procs)
    finally:
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.kill()
                p.join()
    bad = [wall for _, wall, done, _, _ in out if done is None]
    if bad:
        raise RuntimeError(f"stage replica failed: {bad}")
    return out
