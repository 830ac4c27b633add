"""Header→field mapping.

Replicates SmartFieldMapping.php:
- field patterns in priority order (:18-62)
- smartMapColumn exact pass (:81-102), fuzzyMatchColumn (:107-129)
- mapHeaderRow two-pass mapping with positional numeric fallback (:137-183)

inferColumnType (:192-241, SURVEY T6) is excluded by design: no reference
parser calls it.

Pattern-iteration order is load-bearing: e.g. the header 'Amount' matches the
*qty* pattern list before 'total' is ever tried, so an 'Amount' column only
becomes `total` via the positional fallback when `qty` is already taken —
the golden fixtures depend on this.
"""

from __future__ import annotations

import re
from functools import lru_cache

from .php import compile_php, php_strlen, php_trim

# field → list of compiled patterns, in priority order (SmartFieldMapping.php:18-62)
FIELD_PATTERNS: dict[str, list[re.Pattern]] = {
    "seq": [
        compile_php(r"^(#|no\.?|序号|序號|項次|项次|行号|行號|s\.?n\.?)$", "iu"),
        compile_php(r"^(line|row|idx|index)$", "iu"),
    ],
    "code": [
        compile_php(r"^(code|款号|款號|編號|编号|货号|貨號|sku|item\s*#?|product\s*code|art\.?\s*no\.?)$", "iu"),
        compile_php(r"^(型号|型號|article|ref|reference|barcode|條碼|条码|品号|品號)$", "iu"),
        compile_php(r"^(part\s*no\.?|p\/n|material\s*no\.?)$", "iu"),
    ],
    "name": [
        compile_php(r"^(name|description|item|產品|产品|名称|名稱|品名|說明|说明|货品|貨品|商品)$", "iu"),
        compile_php(r"^(物品|项目|項目|goods|product|material|desc\.?|描述|規格|规格)$", "iu"),
        compile_php(r"^(detail|details|particulars|內容|内容)$", "iu"),
    ],
    "color": [
        compile_php(r"^(color|colour|颜色|顏色|色|col\.?)$", "iu"),
    ],
    "size": [
        compile_php(r"^(size|尺码|尺碼|尺寸|規格|规格|sz\.?)$", "iu"),
    ],
    "unit": [
        compile_php(r"^(unit|單位|单位|uom|u\/m)$", "iu"),
    ],
    "qty": [
        compile_php(r"^(qty|quantity|數量|数量|pcs|件数|件數|數|数)$", "iu"),
        compile_php(r"^(order\s*qty|訂購量|订购量|amount|count|no\.?\s*of\s*units?)$", "iu"),
        compile_php(r"^(件|個|个|pack|pkt|sets?|boxes?)$", "iu"),
    ],
    "unit_price": [
        compile_php(r"^(unit\s*price|price|單價|单价|售價|售价|cost|單|单)$", "iu"),
        compile_php(r"^(@|each|per\s*unit|rate|u\.?\s*price|p\.?\s*u\.?)$", "iu"),
        compile_php(r"^(price\/unit|價格|价格)$", "iu"),
    ],
    "total": [
        compile_php(r"^(total|amount|金額|金额|小計|小计|subtotal|line\s*total|amt\.?)$", "iu"),
        compile_php(r"^(ext\.?\s*price|extended|sum|總額|总额|合計|合计|value)$", "iu"),
    ],
    "remark": [
        compile_php(r"^(remark|remarks|備註|备注|note|notes|memo|comment|附註|附注)$", "iu"),
    ],
    "discount": [
        compile_php(r"^(discount|折扣|disc\.?|off|減價|减价)$", "iu"),
    ],
}

# SmartFieldMapping.php:107-129 — fuzzy contains-keyword map, in order
FUZZY_MAP: dict[str, list[str]] = {
    "code": ["款", "编", "編", "code", "sku", "art", "ref"],
    "name": ["名", "品", "name", "desc", "item", "product"],
    "qty": ["数", "數", "qty", "quantity", "pcs", "amount"],
    "unit_price": ["价", "價", "price", "unit", "rate", "cost"],
    "total": ["总", "總", "计", "計", "total", "amount", "sum"],
    "color": ["色", "color", "colour"],
    "size": ["尺", "size", "规", "規"],
}

_BRACKET_RE = re.compile(r"^[\(\[\{]|[\)\]\}]$")


def fuzzy_match_column(header: str) -> str | None:
    """SmartFieldMapping::fuzzyMatchColumn (:107-129).

    PHP strtolower is byte/ASCII-only; CJK keywords are unaffected either way.
    """
    header = header.lower()
    for field, keywords in FUZZY_MAP.items():
        for kw in keywords:
            if kw in header:
                return field
    return None


@lru_cache(maxsize=4096)
def smart_map_column(header: str) -> str | None:
    """SmartFieldMapping::smartMapColumn (:81-102).

    Pure function of the header string, memoized: real corpora repeat a
    handful of table layouts across millions of turns, and the
    FIELD_PATTERNS regex cascade dominates per-cell cost without the
    cache. Bounded per worker process."""
    header = php_trim(header)
    header = _BRACKET_RE.sub("", header)
    header = php_trim(header)
    if header == "" or php_strlen(header) > 50:
        return None
    for field, patterns in FIELD_PATTERNS.items():
        for pat in patterns:
            if pat.search(header):
                return field
    return fuzzy_match_column(header)


def map_header_row(headers: list) -> dict[str, int]:
    """SmartFieldMapping::mapHeaderRow (:137-183).

    Pass 1: smart-map each column left-to-right; first column wins per field
    (a later duplicate stays *unused* and becomes fallback-eligible).
    Pass 2: if neither name nor code mapped, first unused non-numeric text
    column becomes name. Remaining unused columns are assigned to the still-
    missing numeric fields in qty→unit_price→total order.
    """
    mapping: dict[str, int] = {}
    used: set[int] = set()

    for idx, header in enumerate(headers):
        field = smart_map_column(str(header))
        if field is not None and field not in mapping:
            mapping[field] = idx
            used.add(idx)

    if "name" not in mapping and "code" not in mapping:
        for idx, header in enumerate(headers):
            if idx in used:
                continue
            h = php_trim(str(header))
            if h != "" and not _php_is_numeric_loose(h):
                mapping["name"] = idx
                used.add(idx)
                break

    numeric_cols = [idx for idx in range(len(headers)) if idx not in used]
    for field in ("qty", "unit_price", "total"):
        if field not in mapping and numeric_cols:
            mapping[field] = numeric_cols.pop(0)
    return mapping


def _php_is_numeric_loose(s: str) -> bool:
    from .php import php_is_numeric
    return php_is_numeric(s)

