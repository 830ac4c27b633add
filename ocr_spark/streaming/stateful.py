"""Custom stateful streaming operators (applyInPandasWithState).

Operators the batch engine has that need explicit state when the
input is an unbounded stream:

- streaming_dedup_first_wins: the reference's first-wins dedup (U2,
  TextBlockParsing.php:432-445) across micro-batches — per-key state
  remembers seen composite keys, so a duplicate arriving in a LATER
  micro-batch is still dropped (batch dropDuplicates can't see across
  batches). State per conversation is explicitly capped at
  MAX_DEDUP_KEYS entries (oldest evicted first).

- streaming_running_totals: per-conversation running calc_total / item
  counters (A1/A2 as accumulating state) emitting one updated row per
  micro-batch — the run-manifest metrics stream (A10) without a full
  re-aggregation of history.

- streaming_minhash_neardup: the corpus layer's MinHash-LSH near-dup as
  documents ARRIVE — per-(band, band_hash) bucket state links later
  arrivals to the bucket's canonical member across micro-batches.

Scale notes: state is keyed by conv_id — same partitioning axis as the
batch job's salt — and each key's state is O(min(distinct keys,
MAX_DEDUP_KEYS)) / O(1) respectively. State-idle TIMEOUTS are the
canonical bounding tool, but this sandbox's PySpark 4.1.2 hard-crashes
the Python worker when setTimeoutDuration is used with
ProcessingTimeTimeout (verified with a minimal repro; the string
variant raises NOT_INT, the int variant segfaults the worker), so
bounding is done inside the function instead and the timeout mode is
NoTimeout. On a build where the timeout path works, add
state.setTimeoutDuration(...) back for idle eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_SCHEMA = ("conv_id string, turn_idx int, dedup_key string, "
                       "first_seen int")
DEDUP_STATE_SCHEMA = "seen array<string>"

TOTALS_OUTPUT_SCHEMA = ("conv_id string, n_turns long, n_items long, "
                        "calc_total_cents long")
TOTALS_STATE_SCHEMA = ("n_turns long, n_items long, calc_total_cents long")


MAX_DEDUP_KEYS = 4096


def _dedup_fn(key, pdfs, state: GroupState):
    import pandas as pd
    (conv_id,) = key
    # state holds insertion-ordered seen keys (list), capped
    seen_list = list(state.get[0]) if state.exists else []
    seen = set(seen_list)
    out = []
    for pdf in pdfs:
        for turn_idx, dk in zip(pdf["turn_idx"], pdf["dedup_key"]):
            first = dk not in seen
            if first:
                seen.add(dk)
                seen_list.append(dk)
            out.append((conv_id, int(turn_idx), dk, int(first)))
    if len(seen_list) > MAX_DEDUP_KEYS:
        seen_list = seen_list[-MAX_DEDUP_KEYS:]
    state.update((seen_list,))
    yield pd.DataFrame(out, columns=["conv_id", "turn_idx", "dedup_key",
                                     "first_seen"])


def streaming_dedup_first_wins(turns: DataFrame) -> DataFrame:
    """First-wins dedup across micro-batches, keyed by conv_id.

    Input needs columns (conv_id, turn_idx, dedup_key). Emits every row
    tagged first_seen 1/0 — filter first_seen==1 downstream for the
    dedup view (tagging instead of dropping keeps the 1:1 lineage
    invariant inspectable)."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _dedup_fn, DEDUP_OUTPUT_SCHEMA, DEDUP_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


def _totals_fn(key, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd
    (conv_id,) = key
    n_turns, n_items, cents = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n_turns += len(pdf)
        n_items += int(pdf["n_items"].sum())
        # integer-cents money rule: floor(x*100 + 0.5) half-up, mirroring
        # the batch path — pandas .round() is half-even and drifts a cent
        # on half-cent values (CLAUDE.md money invariant)
        cents += int(np.floor(pdf["calc_total"] * 100 + 0.5).sum())
    state.update((n_turns, n_items, cents))
    yield pd.DataFrame([(conv_id, n_turns, n_items, cents)],
                       columns=["conv_id", "n_turns", "n_items",
                                "calc_total_cents"])


def streaming_running_totals(extracted: DataFrame) -> DataFrame:
    """Accumulating per-conversation metrics over the extracted stream.
    Input needs (conv_id, n_items, calc_total); emits the updated running
    totals for each conversation touched by the micro-batch."""
    return (
        extracted.groupBy("conv_id")
        .applyInPandasWithState(
            _totals_fn, TOTALS_OUTPUT_SCHEMA, TOTALS_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming conversation screening stats (the conv_stats batch operator
# as turns arrive)
# ---------------------------------------------------------------------------

CONV_STATS_OUTPUT_SCHEMA = ("conv_id string, n_turns long, n_user long, "
                            "n_assistant long, n_tool_turns long, "
                            "n_distinct_tools long, total_chars long, "
                            "max_turn_chars long, span_seconds long")
CONV_STATS_STATE_SCHEMA = ("n_turns long, n_user long, n_assistant long, "
                           "n_tool long, chars long, max_chars long, "
                           "min_us long, max_us long, tools array<string>")

# distinct-tool tracking is the only unbounded piece of this state; real
# tool vocabularies are tiny, so cap it (the count saturates at the cap)
MAX_TRACKED_TOOLS = 64


def _conv_stats_fn(key, pdfs, state: GroupState):
    import pandas as pd
    (conv_id,) = key
    if state.exists:
        (n_turns, n_user, n_assistant, n_tool, chars, max_chars,
         min_us, max_us, tools) = state.get
        tools = list(tools)
    else:
        n_turns = n_user = n_assistant = n_tool = chars = max_chars = 0
        min_us = max_us = None
        tools = []
    tool_set = set(tools)
    for pdf in pdfs:
        n_turns += len(pdf)
        n_user += int((pdf["role"] == "user").sum())
        n_assistant += int((pdf["role"] == "assistant").sum())
        n_tool += int((pdf["role"] == "tool").sum())
        lens = pdf["text"].fillna("").str.len().astype("int64")
        if len(lens):
            chars += int(lens.sum())
            max_chars = max(max_chars, int(lens.max()))
        # NaT guard: a NULL ts silently casts to int64 min and would
        # poison min_us in the persisted state forever — match the batch
        # twin's F.min/F.max NULL-skipping instead
        ts = pd.to_datetime(pdf["ts"]).dropna()
        if len(ts):
            ts_us = ts.astype("int64") // 1000
            lo, hi = int(ts_us.min()), int(ts_us.max())
            min_us = lo if min_us is None else min(min_us, lo)
            max_us = hi if max_us is None else max(max_us, hi)
        for t in pdf["tool"].dropna():
            if t not in tool_set and len(tool_set) < MAX_TRACKED_TOOLS:
                tool_set.add(t)
                tools.append(t)
    state.update((n_turns, n_user, n_assistant, n_tool, chars, max_chars,
                  min_us, max_us, tools))
    span = 0 if min_us is None else (max_us - min_us) // 1_000_000
    yield pd.DataFrame(
        [(conv_id, n_turns, n_user, n_assistant, n_tool, len(tools),
          chars, max_chars, span)],
        columns=["conv_id", "n_turns", "n_user", "n_assistant",
                 "n_tool_turns", "n_distinct_tools", "total_chars",
                 "max_turn_chars", "span_seconds"])


def streaming_conv_stats(turns: DataFrame) -> DataFrame:
    """Per-conversation screening stats accumulated AS TURNS ARRIVE — the
    batch conv_stats aggregation (operators/extraction.py) with explicit
    state, so a conversation spread across micro-batches still reports
    its full role balance / tool usage / char totals / wall-clock span.
    Input needs (conv_id, role, text, tool, ts) — the input_hint shape;
    emits the updated row for each conversation the micro-batch touched.
    State is O(1) per conversation plus a capped tool list; span uses
    microsecond timestamps (the w3 lesson: no whole-second truncation
    class — integer floor only at the final seconds division).

    Timezone caveat: the pandas frame carries ts as NAIVE datetimes
    localized to spark.sql.session.timeZone, so span arithmetic is only
    wall-clock-correct when the session runs UTC (this repo pins UTC in
    pipeline/session.py and every jobs/ entrypoint); a DST-shifting
    session tz would skew spans that straddle a transition by the DST
    offset."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _conv_stats_fn, CONV_STATS_OUTPUT_SCHEMA,
            CONV_STATS_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming conversation quality verdict (the conv-grain curation gate
# as turns arrive)
# ---------------------------------------------------------------------------

CONV_QUALITY_OUTPUT_SCHEMA = ("conv_id string, n_turns long, n_user long, "
                              "total_chars long, quality_ok int")
CONV_QUALITY_STATE_SCHEMA = "n_turns long, n_user long, chars long"


def _make_conv_quality_fn(min_chars: int):
    def _fn(key, pdfs, state: GroupState):
        import pandas as pd
        (conv_id,) = key
        n_turns, n_user, chars = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            n_user += int((pdf["role"] == "user").sum())
            chars += int(pdf["text"].fillna("").str.len().sum())
        state.update((n_turns, n_user, chars))
        ok = 1 if (n_user >= 1 and chars >= min_chars) else 0
        yield pd.DataFrame(
            [(conv_id, n_turns, n_user, chars, ok)],
            columns=["conv_id", "n_turns", "n_user", "total_chars",
                     "quality_ok"])
    return _fn


def streaming_conv_quality(turns: DataFrame) -> DataFrame:
    """The conversation-grain curation QUALITY gate (user-turn floor +
    assembled-char floor, pipeline/curate_convs.conv_curation_flags) as
    turns ARRIVE: per-conversation state accumulates n_user and the
    per-turn char sum, and every micro-batch emits the conversation's
    CURRENT verdict. Both gate inputs are monotone non-decreasing, so a
    conversation's verdict can only flip fail→pass as more turns land —
    the latest emitted row per conv equals the batch gate over the full
    transcript (pinned across micro-batch splits in
    tests/test_stateful_streaming.py). State is three longs per
    conversation — O(1), no text retained."""
    from ..operators.curation import MIN_CONV_CHARS
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _make_conv_quality_fn(MIN_CONV_CHARS),
            CONV_QUALITY_OUTPUT_SCHEMA, CONV_QUALITY_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming refusal scan (the SFT refusal gate as turns arrive)
# ---------------------------------------------------------------------------

REFUSAL_OUTPUT_SCHEMA = ("conv_id string, n_assistant long, "
                         "n_refusals long, refusal_bp long, "
                         "has_refusal int")
REFUSAL_STATE_SCHEMA = "n_assistant long, n_refusals long"


def _refusal_fn(key, pdfs, state: GroupState):
    import pandas as pd

    from ..functions.text import REFUSAL_MARKS

    (conv_id,) = key
    n_a, n_r = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        a = pdf[pdf["role"] == "assistant"]
        if not len(a):
            continue
        nn = a["text"].notna()
        txt = a["text"].fillna("")
        ln = txt.str.len()
        # the batch op's deterministic template injection (NULL text
        # never injects there — length(NULL) is NULL — hence the nn mask)
        templ = ("Sorry, I can't help with that. (template "
                 + (ln % 3).astype(str) + ")")
        low = txt.where((ln % 5 != 0) | ~nn, templ).str.lower()
        r = pd.Series(False, index=low.index)
        for m in REFUSAL_MARKS:
            r |= low.str.contains(m, regex=False)
        n_a += int(len(a))
        n_r += int((r & nn).sum())
    state.update((n_a, n_r))
    if n_a > 0:  # batch op's grain: only convs with an assistant turn
        yield pd.DataFrame(
            [(conv_id, n_a, n_r, n_r * 10000 // max(n_a, 1),
              1 if n_r > 0 else 0)],
            columns=["conv_id", "n_assistant", "n_refusals",
                     "refusal_bp", "has_refusal"])


def streaming_conv_refusal(turns: DataFrame) -> DataFrame:
    """conv_refusal_scan (operators/extraction.py) with explicit state —
    the per-conversation canned-refusal share updated AS TURNS ARRIVE,
    including the same deterministic template injection so the two
    compute the identical function over identical turns (batch
    equivalence across micro-batch splits pinned in
    tests/test_stateful_streaming.py). Both counters are monotone, so
    has_refusal only flips 0→1; state is two longs per conversation —
    O(1), no text retained. Emits only conversations that have seen an
    assistant turn (the batch op's grain)."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _refusal_fn, REFUSAL_OUTPUT_SCHEMA, REFUSAL_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming language-mix scan (route conversations by language on arrival)
# ---------------------------------------------------------------------------

LANGMIX_OUTPUT_SCHEMA = ("conv_id string, n_turns long, n_langs long, "
                         "dom_lang string, dom_share_bp long")
# one counter per langid label (en/de/fr/es/unk) — fixed, O(1) state
LANGMIX_STATE_SCHEMA = ("n_en long, n_de long, n_fr long, n_es long, "
                        "n_unk long")


def _langmix_fn(key, pdfs, state: GroupState):
    import re

    import pandas as pd

    from ..functions.text import LANG_MARKERS

    (conv_id,) = key
    langs = list(LANG_MARKERS)                       # ordered: tie winner
    counts = dict(zip(langs + ["unk"],
                      state.get if state.exists else [0] * 5))
    ws = re.compile(r"[ \t\n\x0b\f\r]+")             # Java \s, not unicode
    marker_sets = {lang: set(w) for lang, w in LANG_MARKERS.items()}
    for pdf in pdfs:
        for text in pdf["text"]:
            toks = ws.split(("" if text is None else str(text)).lower())
            hits = {lang: sum(t in s for t in toks)
                    for lang, s in marker_sets.items()}
            best = max(hits.values())
            if best > 0:
                # earlier marker language wins ties (lang_argmax_column)
                pred = next(la for la in langs if hits[la] == best)
            else:
                pred = "unk"
            counts[pred] += 1
    state.update(tuple(counts[la] for la in langs + ["unk"]))
    n_turns = sum(counts.values())
    if n_turns > 0:
        # dominant = max count, tie -> lexicographically smaller label
        # (the batch op's row_number order: n DESC, pred_lang ASC)
        dom = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        n_langs = sum(1 for la, n in counts.items()
                      if la != "unk" and n > 0)
        yield pd.DataFrame(
            [(conv_id, n_turns, n_langs, dom[0],
              dom[1] * 10000 // n_turns)],
            columns=["conv_id", "n_turns", "n_langs", "dom_lang",
                     "dom_share_bp"])


def streaming_conv_lang_mix(turns: DataFrame) -> DataFrame:
    """conv_lang_mix (operators/extraction.py) with explicit state — the
    per-conversation language-consistency verdict updated AS TURNS
    ARRIVE, so a router can direct a live conversation to
    language-specific curation without waiting for the batch pass. State
    is five fixed counters per conversation — O(1), no text retained;
    the marker sets come from the SAME LANG_MARKERS dict as the batch
    scoring and its oracle. Batch equivalence across micro-batch splits
    pinned in tests/test_stateful_streaming.py."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _langmix_fn, LANGMIX_OUTPUT_SCHEMA, LANGMIX_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming degenerate-decoding scan (looping assistant turns, as they arrive)
# ---------------------------------------------------------------------------

DEGEN_OUTPUT_SCHEMA = ("conv_id string, n_checked long, "
                       "n_degenerate long, max_dup_bp long")
DEGEN_STATE_SCHEMA = "n_checked long, n_degenerate long, max_dup_bp long"


def _degen_fn(key, pdfs, state: GroupState):
    import re
    from collections import Counter

    import pandas as pd

    from ..operators.extraction import DEGEN_DUP_BP, DEGEN_MIN_TOKENS

    (conv_id,) = key
    n_c, n_d, mx = state.get if state.exists else (0, 0, 0)
    # Java \s (what Spark's split compiles to) is ASCII-only; Python's \s
    # is unicode — spell the class out so batch and stream tokenize alike.
    # Spark's split uses limit -1 semantics: leading AND trailing empty
    # fields are KEPT (verified: split('a b ','\s+') = ['a','b','']), and
    # re.split matches that exactly — no trimming.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for pdf in pdfs:
        a = pdf[(pdf["role"] == "assistant") & pdf["text"].notna()]
        for text in a["text"]:
            toks = ws.split(str(text).lower())
            if len(toks) < DEGEN_MIN_TOKENS:
                continue
            n_bg = len(toks) - 1
            counts = Counter(zip(toks, toks[1:]))
            dup = sum(v for v in counts.values() if v >= 2)
            bp = dup * 10000 // n_bg
            n_c += 1
            n_d += 1 if bp >= DEGEN_DUP_BP else 0
            mx = max(mx, bp)
    state.update((n_c, n_d, mx))
    if n_c > 0:  # batch op's grain: only convs with a checked turn
        yield pd.DataFrame(
            [(conv_id, n_c, n_d, mx)],
            columns=["conv_id", "n_checked", "n_degenerate", "max_dup_bp"])


def streaming_conv_degenerate(turns: DataFrame) -> DataFrame:
    """conv_degenerate_scan (operators/extraction.py) with explicit
    state — the looping-assistant screen updated AS TURNS ARRIVE, so a
    generation stuck in a loop is flagged while the conversation is
    still open, not at the next batch curation run. The per-turn
    dup-bigram share is turn-local (computed inside the batch, nothing
    buffered); state is three monotone longs per conversation — O(1),
    no text retained. Batch equivalence across micro-batch splits is
    pinned in tests/test_stateful_streaming.py."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _degen_fn, DEGEN_OUTPUT_SCHEMA, DEGEN_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Cross-micro-batch near-duplicate detection (streaming MinHash-LSH)
# ---------------------------------------------------------------------------

NEARDUP_OUTPUT_SCHEMA = ("doc_id long, band int, band_hash long, "
                         "canonical_id long, is_first int")
# NOTE: state-schema change (was `members array<long>`) — a stream
# resuming from a checkpoint written under the old schema cannot decode
# its state store; deploys crossing this change need a fresh checkpoint
# location (state schema is part of the checkpoint contract).
NEARDUP_STATE_SCHEMA = "canonical long"


def _neardup_fn(key, pdfs, state: GroupState):
    import pandas as pd
    band, band_hash = key
    # only the bucket's first-seen (canonical) member is ever referenced
    # by the emitted edges, so that single long IS the whole state —
    # O(1) per bucket across millions of buckets, set once, first-wins
    canonical = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        # deterministic intra-batch order: lowest doc_id claims the bucket
        for doc_id in sorted(int(d) for d in pdf["doc_id"]):
            if canonical is not None:
                out.append((doc_id, band, band_hash, canonical, 0))
            else:
                canonical = doc_id
                out.append((doc_id, band, band_hash, doc_id, 1))
    state.update((canonical,))
    yield pd.DataFrame(out, columns=["doc_id", "band", "band_hash",
                                     "canonical_id", "is_first"])


def streaming_minhash_neardup(docs: DataFrame) -> DataFrame:
    """Streaming analog of dd_minhash_lsh: near-dup candidates detected
    AS DOCUMENTS ARRIVE, across micro-batches.

    docs(doc_id, text) stream → minhash signatures (the batch kernel's
    numpy Arrow stage, unchanged) → band explode (shared minhash_bands
    plan) → applyInPandasWithState keyed by (band, band_hash): each
    bucket's state is the canonical (first-seen) member id, set once;
    a document landing in a non-empty bucket emits a candidate edge to
    that canonical — including when the canonical arrived in an EARLIER
    micro-batch, which no per-batch self-join can see. Emits one row per
    (doc, band): filter is_first == 0 for the candidate view, dedup
    (doc_id, canonical_id) downstream exactly like the batch pair
    aggregation. State per bucket is ONE long across millions of
    buckets; the shuffle is the same keyed (band, band_hash) exchange
    as the batch plan."""
    from ..functions.minhash import minhash_bands, minhash_sig_stage
    sigs = docs.mapInPandas(minhash_sig_stage(),
                            "doc_id long, sig array<long>")
    bands = minhash_bands(sigs)
    return (
        bands.groupBy("band", "band_hash")
        .applyInPandasWithState(
            _neardup_fn, NEARDUP_OUTPUT_SCHEMA, NEARDUP_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# Streaming tool-chain tracking (the conv_tool_chains analytics as
# turns arrive)
# ---------------------------------------------------------------------------

TOOL_CHAINS_OUTPUT_SCHEMA = ("conv_id string, n_tool_turns long, "
                             "n_tool_runs long, max_tool_run long, "
                             "top_tool string, top_tool_calls long")
TOOL_CHAINS_STATE_SCHEMA = ("prev_turn_idx long, prev_role string, "
                            "cur_run long, n_runs long, max_run long, "
                            "n_tool_turns long, tools array<string>, "
                            "calls array<long>")


def _tool_chains_fn(key, pdfs, state: GroupState):
    import pandas as pd
    (conv_id,) = key
    if state.exists:
        (prev_ti, prev_role, cur_run, n_runs, max_run, n_tool,
         tools, calls) = state.get
        tools, calls = list(tools), list(calls)
    else:
        prev_ti, prev_role = None, None
        cur_run = n_runs = max_run = n_tool = 0
        tools, calls = [], []
    idx = {t: i for i, t in enumerate(tools)}
    rows = pd.concat(list(pdfs), ignore_index=True)
    # arrival order within a micro-batch is arbitrary — restore turn
    # order (the cross-batch contract is nondecreasing turn_idx, i.e.
    # the upstream source replays a conversation in order)
    rows = rows.sort_values("turn_idx", kind="stable")
    for turn_idx, role, tool in zip(rows["turn_idx"], rows["role"],
                                    rows["tool"]):
        # row-grain tool usage counts (ties included, like the batch op)
        if tool is not None and not (isinstance(tool, float) and
                                     pd.isna(tool)):
            if tool in idx:
                calls[idx[tool]] += 1
            elif len(tools) < MAX_TRACKED_TOOLS:
                idx[tool] = len(tools)
                tools.append(tool)
                calls.append(1)
        # distinct-turn grain for run structure (tie rows share a role)
        ti = int(turn_idx)
        if prev_ti is not None and ti == prev_ti:
            continue
        if role == "tool":
            if prev_role == "tool":
                cur_run += 1
            else:
                n_runs += 1
                cur_run = 1
            max_run = max(max_run, cur_run)
            n_tool += 1
        prev_ti, prev_role = ti, role
    state.update((prev_ti, prev_role, cur_run, n_runs, max_run, n_tool,
                  tools, calls))
    if tools:
        best = min(range(len(tools)), key=lambda i: (-calls[i], tools[i]))
        top_tool, top_calls = tools[best], calls[best]
    else:
        top_tool, top_calls = None, 0
    yield pd.DataFrame(
        [(conv_id, n_tool, n_runs, max_run, top_tool, top_calls)],
        columns=["conv_id", "n_tool_turns", "n_tool_runs", "max_tool_run",
                 "top_tool", "top_tool_calls"])


def streaming_conv_tool_chains(turns: DataFrame) -> DataFrame:
    """Tool-episode analytics accumulated AS TURNS ARRIVE — the batch
    conv_tool_chains (operators/extraction.py) with explicit state, so
    a tool run split across micro-batches still counts as ONE episode
    (no per-batch window can see the join). Input needs (conv_id,
    turn_idx, role, tool) in the input_hint shape; rows are re-ordered
    by turn_idx within each micro-batch, and the cross-batch contract
    is nondecreasing turn_idx per conversation (a replaying source).
    State is O(1) per conversation plus the capped tool tally
    (MAX_TRACKED_TOOLS, shared with streaming_conv_stats); duplicate
    turn_idx rows are skipped for run structure but counted at row
    grain for tool usage — the exact batch-op tie discipline."""
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            _tool_chains_fn, TOOL_CHAINS_OUTPUT_SCHEMA,
            TOOL_CHAINS_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )
