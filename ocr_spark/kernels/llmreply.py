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

The record builder mirrors parseResponse's output structure (:331-345)
with calculateTotal (:349-355, sum of raw item totals rounded 2) and
normalizeItems (:360-392: skip items with neither name nor code, qty
floor to 1, fill the missing one of unit_price/total).
"""

from __future__ import annotations

import re
from typing import Any

from .php import json_decode, php_floatval, php_round, php_str, php_trim

_floatval = php_floatval  # (float) cast for every numeric reply field


def _php_empty(v) -> bool:
    """PHP ``empty()``: null, false, 0, 0.0, '', '0', and empty arrays
    are empty — notably the STRING '0', which Python truthiness keeps."""
    if v is None or v is False:
        return True
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v == 0
    if isinstance(v, str):
        return v in ("", "0")
    if isinstance(v, (list, dict)):
        return not v
    return False


_strval = php_str  # (string) cast used for every item text field

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


def llm_calc_total(items: list) -> float:
    """calculateTotal (:349-355): sum of raw item totals, rounded 2."""
    total = 0.0
    for it in items:
        if isinstance(it, dict):
            total += _floatval(it.get("total") or 0)
    return php_round(total, 2)


def llm_normalize_items(items: list) -> list[dict]:
    """normalizeItems (:360-392)."""
    out = []
    for it in items:
        if not isinstance(it, dict):
            continue
        # empty($name) && empty($code) — PHP empty, so '0' skips too
        if _php_empty(it.get("name")) and _php_empty(it.get("code")):
            continue
        # ?? is NULL-coalescing only; the (float) cast handles falsiness
        qty = _floatval(it.get("qty") if it.get("qty") is not None else 1)
        if qty <= 0:
            qty = 1.0
        unit_price = _floatval(it.get("unit_price") or 0)
        total = _floatval(it.get("total") or 0)
        if total <= 0 and unit_price > 0:
            total = qty * unit_price
        if unit_price <= 0 and total > 0:
            unit_price = total / qty
        out.append({
            "code": _strval(it.get("code")),
            "name": _strval(it.get("name")),
            "description": _strval(it.get("description")),
            "qty": php_round(qty, 4),
            "unit": _strval(it.get("unit")),
            "unit_price": php_round(unit_price, 4),
            "total": php_round(total, 2),
            "metadata": {},
        })
    return out


def llm_parse_reply(reply: str, source_file: str) -> dict | None:
    """parseResponse (:306-345): cascade, reject non-object winners,
    then build the standard invoice structure (parser=llm_assisted).
    Callers feed this through normalize_invoice exactly as
    LlmAssistedParser::parse does (:105)."""
    j = extract_json_from_reply(reply)
    if not isinstance(j, (dict, list)):
        return None
    get = j.get if isinstance(j, dict) else (lambda k, d=None: d)
    items = get("items") or []
    if isinstance(items, dict):
        # a JSON object decodes to a PHP associative array, which the
        # reference's array-hinted normalizeItems iterates; values in
        # insertion order match PHP's assoc iteration
        items = list(items.values())
    if not isinstance(items, list):
        items = []
    declared = get("declared_total")
    sup, cus = get("supplier_name"), get("customer_name")
    return {
        "source_file": source_file,
        # ?? '' is null-coalescing only: '0'/0/false survive to the
        # normalizeInvoice string cast instead of flattening to ''
        "supplier_name": "" if sup is None else sup,
        "customer_name": "" if cus is None else cus,
        "invoice_date": get("invoice_date"),
        "invoice_number": get("invoice_number"),
        "declared_total": None if declared is None else _floatval(declared),
        "calc_total": llm_calc_total(items),
        "currency": get("currency"),
        "items": llm_normalize_items(items),
        "metadata": {"parser": "llm_assisted"},
    }
