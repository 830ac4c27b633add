"""Seeded benchmark inputs and the output hashing every workload checks with.

Inputs come from ``sources.synthetic.payload_for`` over the same
(conv_id, turn_idx) skeleton ``synthesize_transcripts`` builds: conversation
``i`` is ``conv-%06d`` with ``n_turns_for(i)`` turns, so 1% of conversations
are hot at 100x turns. Generating them in-process keeps input generation off
the JVM and identical for every workload.

Outputs are compared as Arrow data: the in-process stage output is decoded
from the Arrow stream the Python worker would send back, the Spark outputs
are read back from parquet, and both are sorted by turn and compared
column by column.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ocr_spark.pipeline.extract import stable_bucket_py  # noqa: E402
from ocr_spark.sources.synthetic import (BASE_EPOCH, n_turns_for,  # noqa: E402
                                        payload_for)

N_BUCKETS = 64          # the bucket count run_extract_job and extract_stream use
BATCH_ROWS = 2048       # build_session's spark.sql.execution.arrow.maxRecordsPerBatch
DEFAULT_SEED = 42       # sources.synthetic's default seed
# the pinned digest covers this fixed default-seed slice, whatever --seed is
GOLDEN_CONVS = (0, 260)

INPUT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
# what the mapInPandas stage receives: the transcript columns plus the bucket
STAGE_INPUT_TYPE = pa.struct(list(INPUT_SCHEMA) + [pa.field("bucket", pa.int32())])

# every output column that is computed (conv_id/turn_idx are the key; role
# and ts pass through untouched)
ROW_FIELDS = ("bucket", "source_kind", "confidence", "clean_text", "spans",
              "records", "n_items", "calc_total", "warnings", "is_document",
              "rejected")
DIGEST_FIELDS = ("source_kind", "clean_text", "spans", "records", "warnings",
                 "rejected")
KINDS = ("doc_parser_json", "generic_markdown", "text_block",
         "readability_html", "pdf_layout", "none")
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "digests.json")


def transcripts(seed: int, conv_lo: int, conv_hi: int) -> pa.Table:
    """Transcript turns of conversations [conv_lo, conv_hi) for one seed."""
    cols = {f: [] for f in INPUT_SCHEMA.names}
    for c in range(conv_lo, conv_hi):
        conv_id = "conv-%06d" % c
        for t in range(n_turns_for(c)):
            role, text, tool = payload_for(conv_id, t, seed)
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append((BASE_EPOCH + t) * 1_000_000)
    return pa.table(cols, schema=INPUT_SCHEMA)


def stage_batches(table: pa.Table) -> list[bytes]:
    """Split transcripts into the Arrow IPC streams the JVM feeds a
    mapInPandas worker: one struct column per batch of BATCH_ROWS rows."""
    buckets = pa.array([stable_bucket_py(c, N_BUCKETS)
                        for c in table.column("conv_id").to_pylist()], pa.int32())
    table = table.append_column("bucket", buckets)
    out = []
    for rb in table.to_batches(max_chunksize=BATCH_ROWS):
        col = pa.StructArray.from_arrays(rb.columns, fields=list(STAGE_INPUT_TYPE))
        sink = io.BytesIO()
        batch = pa.record_batch([col], names=["_0"])
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        out.append(sink.getvalue())
    return out


def batch_keys(ipc: bytes) -> tuple[pa.Array, pa.Array]:
    """(conv_id, turn_idx) of one stage input stream."""
    col = pa.ipc.open_stream(ipc).read_all().column(0).combine_chunks()
    return col.field("conv_id"), col.field("turn_idx")


def _stage_output(ipc: bytes) -> pa.StructArray:
    marker = struct.unpack("!i", ipc[:4])[0]
    if marker != -6:
        raise ValueError(f"unexpected stream marker {marker}")
    return pa.ipc.open_stream(ipc[4:]).read_all().column(0).combine_chunks()


def same_keys(keys: tuple[pa.Array, pa.Array], out: bytes) -> bool:
    """Whether a stage output stream holds exactly the input's turns, in order."""
    col = _stage_output(out)
    return (col.field("conv_id").equals(keys[0])
            and col.field("turn_idx").equals(keys[1]))


def stage_output_table(outputs: list[bytes]) -> pa.Table:
    """Extracted rows from worker output streams (each a START_ARROW_STREAM
    marker, then an Arrow stream whose single struct column is the row)."""
    tables = []
    for ipc in outputs:
        col = _stage_output(ipc)
        tables.append(pa.Table.from_arrays(col.flatten(),
                                           names=[f.name for f in col.type]))
    return canonical(pa.concat_tables(tables))


def parquet_table(path: str) -> pa.Table:
    """Extracted rows of a parquet output directory; files starting with _
    or . are skipped, which drops the streaming sink's _spark_metadata log."""
    return canonical(pq.read_table(path, columns=["conv_id", "turn_idx",
                                                  *ROW_FIELDS]))


def canonical(table: pa.Table) -> pa.Table:
    """Key and computed columns only, sorted by (conv_id, turn_idx)."""
    table = table.select(["conv_id", "turn_idx", *ROW_FIELDS])
    return table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])


def _leaves(arr: pa.Array) -> list[pa.Array]:
    """Flat primitive arrays that together hold every value, null and list
    length of `arr`; field names and list/map flavours drop out, so a
    parquet round trip compares equal to the Arrow stream it came from."""
    t = arr.type
    if pa.types.is_struct(t):
        out = [arr.is_valid()]
        for child in arr.flatten():
            out += _leaves(child)
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t):
        # .offsets follow a slice, .values does not
        offsets = arr.offsets.cast(pa.int64())
        lo, hi = offsets[0].as_py(), offsets[-1].as_py()
        lengths = pc.subtract(offsets[1:], offsets[:-1])
        return [pc.if_else(arr.is_valid(), lengths, None),
                *_leaves(arr.values.slice(lo, hi - lo))]
    if pa.types.is_dictionary(t):
        arr = arr.dictionary_decode()
        t = arr.type
    if pa.types.is_integer(t):
        return [arr.cast(pa.int64())]
    if pa.types.is_large_string(t):
        return [arr.cast(pa.string())]
    return [arr]


def _columns_leaves(table: pa.Table, fields) -> list[pa.Array]:
    return [leaf for f in fields
            for leaf in _leaves(table.column(f).combine_chunks())]


def digest(table: pa.Table, fields) -> str:
    h = hashlib.blake2b(digest_size=16)
    for leaf in _columns_leaves(table, ("conv_id", "turn_idx", *fields)):
        h.update(repr(leaf.to_pylist()).encode())
    return h.hexdigest()


def kind_digests(table: pa.Table) -> dict[str, dict]:
    """Per source_kind: turn count and a digest of DIGEST_FIELDS."""
    kinds = pc.fill_null(table.column("source_kind"), "none")
    out = {}
    for kind in KINDS:
        part = table.filter(pc.equal(kinds, kind))
        if part.num_rows:
            out[kind] = {"turns": part.num_rows,
                         "digest": digest(part, DIGEST_FIELDS)}
    return out


def golden_failures(digests: dict[str, dict]) -> int:
    """Golden-slice turns whose kind digest differs from the pinned one."""
    with open(DIGESTS_PATH) as f:
        pinned = json.load(f)["kinds"]
    failed = 0
    for kind in KINDS:
        want, got = pinned.get(kind), digests.get(kind)
        if want != got:
            failed += max((want or {}).get("turns", 0),
                          (got or {}).get("turns", 0))
    return failed


def _row_hashes(table: pa.Table) -> dict[tuple, list[str]]:
    out: dict[tuple, list[str]] = {}
    for r in table.to_pylist():
        h = hashlib.blake2b(repr([r[f] for f in ROW_FIELDS]).encode(),
                            digest_size=12).hexdigest()
        out.setdefault((r["conv_id"], r["turn_idx"]), []).append(h)
    return out


def mismatches(reference: pa.Table, got: pa.Table) -> int:
    """Turns of `reference` missing from `got`, plus turns of `got` that are
    duplicated, unexpected or differ in any computed column. Both tables are
    canonical; equal tables are recognised without leaving Arrow."""
    fields = ("conv_id", "turn_idx", *ROW_FIELDS)
    want, have = _columns_leaves(reference, fields), _columns_leaves(got, fields)
    if len(want) == len(have) and all(a.equals(b) for a, b in zip(want, have)):
        return 0
    # slow path, only when something is wrong: per-turn comparison
    want, have = _row_hashes(reference), _row_hashes(got)
    failed = sum(1 for k in want if k not in have)
    for k, hashes in have.items():
        if hashes != want.get(k):
            failed += 1
    return failed


if __name__ == "__main__":
    # re-pin after an intended output change:
    #   python3 perfbench/corpus.py > perfbench/digests.json
    import stage
    golden = stage_output_table(stage.run_all(stage_batches(
        transcripts(DEFAULT_SEED, *GOLDEN_CONVS))))
    print(json.dumps({"seed": DEFAULT_SEED, "convs": list(GOLDEN_CONVS),
                      "fields": list(DIGEST_FIELDS),
                      "kinds": kind_digests(golden)}, indent=1))
