"""Persisted BPE tokenizer artifact: train merges once, tokenize forever.

The registry query (operators/corpus.bpe_train_merges) IS the training
loop; this module is the artifact around it — the shape every
pretraining pipeline runs: train the tokenizer on a corpus (sample),
commit the ordered merge table, then tokenize the full corpus with a
map-only Arrow stage that applies the merges greedily per word. The
apply pass is the 100 TB side: zero shuffles, one pass, per-batch word
memoization (corpus word frequency follows Zipf — most words in a batch
repeat, so each distinct word is segmented once per batch).

Application rule = training rule: merges apply in LEARNED RANK order,
each rewriting left-to-right — byte-identical to the trainer's
per-iteration vocab rewrite (shared provenance pinned by
tests/test_tokenizer.py's reference segmentation). Commits follow
pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.frames import pack_placement_from, spread_partitions
from . import artifact

TOKENIZER_VERSION = 1

_MANIFEST = "_tokenizer_manifest.json"
_DATA = "merges"


def train_bpe_merge_list(docs: DataFrame,
                         n_merges: int) -> list[tuple[int, str, str, int]]:
    """The bpe_train_merges training loop over an arbitrary documents
    frame, returning the ordered merge list — shared by the registry
    query and the persisted tokenizer artifact (pipeline/tokenizer.py);
    two copies of the argmax/tie/rewrite rules would drift."""
    vocab = (docs.select(F.explode(F.split(F.lower(
                 F.coalesce(F.col("text"), F.lit(""))), r"[ \t\n\x0b\f\r]+")).alias("w"))
             .where(F.col("w") != "")
             .groupBy("w").agg(F.count("*").cast("long").alias("freq"))
             .select(F.split("w", "").alias("syms"), "freq")
             .localCheckpoint(eager=True))

    merges = []
    for rank in range(1, n_merges + 1):
        lhs = F.slice(F.col("syms"), 1, F.size("syms") - 1)
        rhs = F.slice(F.col("syms"), 2, F.size("syms") - 1)
        best = (vocab.where(F.size("syms") >= 2)
                .select("freq",
                        F.explode(F.zip_with(
                            lhs, rhs,
                            lambda a, b: F.struct(a.alias("l"),
                                                  b.alias("r")))).alias("p"))
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), "l", "r")
                .limit(1).collect())
        if not best:
            break
        bl, br, bn = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((rank, bl, br, bn))

        def _merge_batch(batches, bl=bl, br=br):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    i, acc = 0, []
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == bl and s[i + 1] == br:
                            acc.append(bl + br)
                            i += 2
                        else:
                            acc.append(s[i])
                            i += 1
                    out.append(acc)
                pdf = pdf.copy()
                pdf["syms"] = out
                yield pdf

        vocab = (vocab.mapInPandas(_merge_batch, schema=vocab.schema)
                 .localCheckpoint(eager=True))

    return merges



def train_tokenizer(spark: SparkSession, docs: DataFrame, output_dir: str,
                    n_merges: int) -> dict:
    """Train n_merges BPE rules on the documents frame and commit the
    ordered merge table + manifest."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)
    merges = train_bpe_merge_list(docs, n_merges)
    (spark.createDataFrame(
        merges, "merge_rank INT, left STRING, right STRING, pair_count BIGINT")
     .coalesce(1).write.mode("overwrite").parquet(data_dir))
    manifest = {
        "version": TOKENIZER_VERSION,
        "n_merges": len(merges),
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def read_manifest(tok_dir: str) -> dict:
    return artifact.require(tok_dir, _MANIFEST, "tokenizer",
                            version=TOKENIZER_VERSION)


def load_merges(spark: SparkSession, tok_dir: str) -> list[tuple[str, str]]:
    """The ordered (left, right) merge list of a committed tokenizer."""
    read_manifest(tok_dir)
    rows = (spark.read.parquet(os.path.join(tok_dir, _DATA))
            .orderBy("merge_rank").collect())
    return [(r.left, r.right) for r in rows]


def segment_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Greedy BPE application: chars, then each merge in rank order
    rewriting left-to-right — the trainer's exact rewrite rule."""
    s = list(word)
    for left, right in merges:
        i, acc = 0, []
        while i < len(s):
            if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                acc.append(left + right)
                i += 2
            else:
                acc.append(s[i])
                i += 1
        s = acc
        if len(s) == 1:
            break
    return s


def apply_tokenizer(spark: SparkSession, tok_dir: str,
                    docs: DataFrame,
                    passthrough: tuple[str, ...] = (),
                    sort: bool = True) -> DataFrame:
    """Tokenize every document with the committed merges: one map-only
    Arrow stage (merges ride to executors in the closure — a few KB),
    emitting per-doc whitespace-word and BPE-token counts. The counts
    feed token budgeting / packing at the REAL tokenizer's granularity
    instead of the whitespace proxy.

    passthrough: extra STRING columns (e.g. the (lang, source) shard
    keys) carried through the Arrow stage, so a downstream consumer
    never pays a doc_id self-join back to the corpus. sort=False skips
    the display-contract orderBy for consumers that immediately
    reshuffle (the pack path — its prefix-sum windows destroy any input
    order, so the global sort would be a pure wasted exchange)."""
    merges = load_merges(spark, tok_dir)
    pt = tuple(passthrough)

    def _apply(batches):
        import re

        import pandas as pd

        # the trainer's vocab words come from Spark split on Java \s+
        # (ASCII-only); Python str.split is unicode — spell the class out
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            # per-BATCH memo (Zipf makes most words repeat within a
            # batch); a partition-lifetime dict would grow unbounded on
            # high-entropy text and OOM the Python worker
            cache: dict[str, int] = {}
            ids, n_words, n_tokens = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in ws.split((text or "").lower()) if w]
                total = 0
                for w in words:
                    n = cache.get(w)
                    if n is None:
                        n = len(segment_word(w, merges))
                        cache[w] = n
                    total += n
                ids.append(int(doc_id))
                n_words.append(len(words))
                n_tokens.append(total)
            if not ids:
                continue
            out = {"doc_id": ids}
            for c in pt:
                out[c] = list(pdf[c])
            out["n_words"] = n_words
            out["n_bpe_tokens"] = n_tokens
            yield pd.DataFrame(out)

    schema = ("doc_id long, "
              + "".join(f"{c} string, " for c in pt)
              + "n_words long, n_bpe_tokens long")
    out = (spread_partitions(docs.select("doc_id", "text", *pt))
           .mapInPandas(_apply, schema))
    return out.orderBy("doc_id") if sort else out


def pack_with_tokenizer(spark: SparkSession, tok_dir: str,
                        docs: DataFrame) -> DataFrame:
    """Sequence-packing placement at the COMMITTED tokenizer's
    granularity — the two persisted artifacts composed the way a
    pretraining pipeline actually runs them: one map-only Arrow stage
    counts each document's BPE tokens (shard keys ride through, no
    corpus self-join), then the distributed two-level prefix-sum scan
    places every document in its (lang, source) shard's fixed-length
    sequence stream. Same output contract as smp_pack_sequences, with
    n_tokens_b now meaning BPE tokens."""
    counted = apply_tokenizer(spark, tok_dir, docs,
                              passthrough=("lang", "source"), sort=False)
    return pack_placement_from(counted, token_col="n_bpe_tokens")
