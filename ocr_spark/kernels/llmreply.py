"""T26 — LLM-reply JSON extraction cascade (LlmAssistedParser.php:306-346).

An LLM reply may be bare JSON, a ```json fenced block, or prose wrapping a
JSON object. parseResponse tries, in order:

1. direct json_decode of the whole reply — note a reply that decodes to a
   SCALAR (``"42"``) stops the cascade here and only fails the final
   is_array check, exactly like the reference;
2. the first ```(json)? fenced block, trimmed (:314-318);
3. the GREEDY ``/\\{[\\s\\S]*\\}/`` match — first '{' to LAST '}', not the
   first balanced object (:321-325);

and returns None unless the winner is an object/array (:327-329).

The reply-to-record builder (parseResponse :331-345, calculateTotal,
normalizeItems) is excluded by design: no reference parser calls it —
the registry's LLM parser always scores 0.0 (ParserRegistry.php:122-129),
so no turn reaches it.
"""

from __future__ import annotations

import re
from typing import Any

from .php import json_decode, php_trim

_FENCE_RE = re.compile(r"```(?:json)?\s*\n?([\s\S]*?)\n?```")
_BRACE_RE = re.compile(r"\{[\s\S]*\}")

_MISSING = object()


def _decode(text: str) -> Any:
    """json_decode semantics: parse failure AND a literal ``null`` both
    come back as _MISSING (PHP cannot tell them apart either — both
    continue the cascade)."""
    v = json_decode(text)
    return _MISSING if v is None else v


def extract_json_from_reply(reply: str) -> Any:
    """The three-stage cascade. Returns whatever json value won a stage
    (dict, list, or scalar — the scalar case stops the cascade like the
    reference), or None if every stage failed."""
    v = _decode(reply)
    if v is _MISSING:
        m = _FENCE_RE.search(reply)
        if m:
            v = _decode(php_trim(m.group(1)))
    if v is _MISSING:
        m = _BRACE_RE.search(reply)
        if m:
            v = _decode(m.group(0))
    return None if v is _MISSING else v

