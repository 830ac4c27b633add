"""Byte-for-byte extraction parity on a fixed synthetic slice.

Runs the benchmark's golden slice (default seed, conversations 0-259:
4,456 turns covering all six source kinds) through the mapInPandas stage
body in-process, with the worker's own Arrow serializer, and compares the
per-kind digests with the pinned ones in perfbench/digests.json. Any
change to a kernel's output, the row assembly or the Arrow schema moves a
digest. Reads perfbench/ only; writes nothing.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", PERFBENCH / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    # no __pycache__ under perfbench/: the benchmark's tree stays as checked in
    saved, sys.dont_write_bytecode = sys.dont_write_bytecode, True
    try:
        spec.loader.exec_module(module)
    finally:
        sys.dont_write_bytecode = saved
    return module


def test_golden_slice_matches_pinned_digests():
    corpus, stage = _load("corpus"), _load("stage")
    table = corpus.transcripts(corpus.DEFAULT_SEED, *corpus.GOLDEN_CONVS)
    outputs = stage.run_all(corpus.stage_batches(table))
    digests = corpus.kind_digests(corpus.stage_output_table(outputs))
    assert sorted(digests) == sorted(corpus.KINDS)
    assert sum(d["turns"] for d in digests.values()) == table.num_rows
    assert corpus.golden_failures(digests) == 0
