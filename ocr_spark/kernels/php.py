"""PHP-semantics primitives.

The reference engine is PHP 8; a handful of PHP runtime behaviors leak into
its extracted output (rounding mode, trim charset, byte-length checks,
float→string casts, ``strip_tags``). Exact-match parity requires replicating
them deliberately rather than using the nearest Python builtin.

Reference citations (paths under /root/reference):
- round():        half-away-from-zero w/ repr pre-rounding (AbstractParser.php:98,127-130)
- trim():         default charlist " \\t\\n\\r\\0\\x0B"
- strlen():       byte length of the UTF-8 encoding (TextBlockParsing.php:57)
- mb_strlen():    character length (TextBlockParsing.php:274,326)
- is_numeric():   PHP 8 numeric-string rules (AbstractParser.php:187)
- (float)$s:      leading-numeric-prefix cast (TableExtraction.php:433)
- strip_tags():   tag removal without inserting spaces (DocParserJsonParser.php:241)
- json_decode():  null on any parse failure; bare Infinity/NaN rejected
- preg \\s,\\d:   ASCII-only without /u, Unicode with /u
"""

from __future__ import annotations

import json
import math
import re
from decimal import ROUND_HALF_UP, Decimal

PHP_TRIM_CHARS = " \t\n\r\0\x0b"

# PHP preg without /u: \s == [ \t\n\r\f\v] over bytes. We apply it char-level;
# equivalent for all ASCII-compatible inputs.
_WS_ASCII = re.compile(r"[ \t\n\r\f\v]+")
# PHP preg with /u: \s matches Unicode whitespace.
_WS_UNICODE = re.compile(r"\s+", re.UNICODE)


def php_trim(s: str) -> str:
    return s.strip(PHP_TRIM_CHARS)


def collapse_ws(s: str, unicode: bool = False) -> str:
    """preg_replace('/\\s+/[u]', ' ', s) — ASCII \\s unless the PHP pattern had /u."""
    rx = _WS_UNICODE if unicode else _WS_ASCII
    return rx.sub(" ", s)


def clean_string(s: str | None) -> str:
    """AbstractParser::cleanString (AbstractParser.php:138-142)."""
    if s is None:
        return ""
    return php_trim(collapse_ws(s, unicode=False))


def php_strlen(s: str) -> int:
    """PHP strlen = byte length of UTF-8 encoding."""
    return len(s.encode("utf-8", errors="surrogatepass"))


_NUMERIC_RE = re.compile(
    r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"
)


def php_is_numeric(s) -> bool:
    """PHP 8 is_numeric: ints/floats True; strings per numeric-string grammar
    (leading whitespace allowed, trailing whitespace allowed since PHP 8)."""
    if isinstance(s, (int, float)):
        return True
    if not isinstance(s, str):
        return False
    return bool(_NUMERIC_RE.match(s.strip(" \t\n\r\v\f")))


_FLOAT_PREFIX_RE = re.compile(r"^[ \t\n\r\v\f]*[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")


def php_float(s) -> float:
    """(float)$s — parses the longest leading numeric prefix, else 0.0.

    e.g. '1.2.3' → 1.2, '12abc' → 12.0, '.' → 0.0, '' → 0.0.
    """
    if isinstance(s, (int, float)):
        return float(s)
    if not isinstance(s, str):
        return 0.0
    m = _FLOAT_PREFIX_RE.match(s)
    if not m:
        return 0.0
    txt = m.group(0).strip()
    # a bare '+'/'-' cannot occur (regex requires digits); '1.' parses fine
    try:
        return float(txt)
    except ValueError:  # pragma: no cover — regex guarantees parsability
        return 0.0


def php_round(x: float, precision: int = 0) -> float:
    """PHP round(): half away from zero with decimal pre-rounding.

    PHP rounds the shortest decimal representation (so round(2.675, 2) == 2.68
    even though 2.675 is stored as 2.67499…). Decimal(repr(x)) gives exactly
    that shortest representation.

    Fast path: binary and shortest-decimal rounding can only disagree
    when the scaled value sits within float-repr error of a .5 boundary
    (|x·10^p| < 1e12 keeps the scaled ulp ≤ ~1.2e-4, so the 1e-3 guard
    band is conservative by ~10x even at the cap). Outside the band,
    floor(|scaled|+0.5) IS half-away-from-zero of the decimal value; the
    Decimal slow path handles the band and big magnitudes. Hot: runs
    per item row per turn (differential-tested against the Decimal
    semantics in the kernel suite)."""
    if x != x or x in (float("inf"), float("-inf")):  # NaN/Inf pass through
        return x
    if 0 <= precision <= 6:
        scaled = abs(x) * _POW10[precision]
        if scaled < 1e12:
            frac = scaled - math.floor(scaled)
            if not (0.499 < frac < 0.501):
                r = math.floor(scaled + 0.5) / _POW10[precision]
                return -r if x < 0 else r
    q = Decimal(1).scaleb(-precision)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


_POW10 = (1.0, 10.0, 100.0, 1000.0, 10000.0, 100000.0, 1000000.0)


def php_floatval(v) -> float:
    """PHP ``(float)`` cast over ANY json value, total: never raises.
    Strings parse their longest numeric prefix ('12.50 USD' → 12.5,
    'n/a' → 0.0); true → 1.0, false → 0.0; arrays → 1.0 non-empty else
    0.0; null → 0.0. Kernel float fields use this so one messy value
    degrades instead of killing the Arrow task."""
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        return php_float(v)
    if isinstance(v, (list, dict)):
        return 1.0 if v else 0.0
    return 0.0


def php_str(v) -> str:
    """PHP ``(string)`` cast: null/false → '', true → '1', integral
    floats drop the '.0' (php_number_str), strings pass through.
    Python's str() would render False as 'False' and 0.0 as '0.0' —
    both wrong for parity with (string)-hinted reference params like
    cleanString(?string $str)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "1" if v else ""
    if isinstance(v, float):
        return php_number_str(v)
    return str(v)


def php_number_str(x: float) -> str:
    """PHP float→string cast (precision=14): integral floats print
    without '.0' ('2' not '2.0'), non-finite values render PHP's
    'INF'/'-INF'/'NAN' (total — int(inf) would raise and kill the Arrow
    batch), negative zero keeps its sign, and exponent form follows
    PHP's shape ('1.5E-7', '1.0E+20' — uppercase E, no zero-padded
    exponent, mantissa keeps one decimal). Used for order-insensitive
    dedup keys (TextBlockParsing.php:437) and the php_str text-field
    cast."""
    if math.isnan(x):
        return "NAN"
    if math.isinf(x):
        return "INF" if x > 0 else "-INF"
    if x == int(x) and abs(x) < 1e15:
        if x == 0 and math.copysign(1.0, x) < 0:
            return "-0"
        return str(int(x))
    s = f"{x:.14G}"
    if "E" in s:
        mant, exp = s.split("E")
        if "." not in mant:
            mant += ".0"
        sign = "-" if exp[0] == "-" else "+"
        digits = exp.lstrip("+-").lstrip("0") or "0"
        return f"{mant}E{sign}{digits}"
    return s


_TAG_RE = re.compile(r"<[^>]*>", re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)


def php_strip_tags(s: str) -> str:
    """strip_tags(): removes HTML tags/comments without inserting whitespace.

    PHP's implementation is a byte state machine; for the well-formed-ish OCR
    payloads here a tag regex matches its behavior. An unterminated '<' at the
    end of input swallows the rest of the string, as PHP does.
    """
    s = _COMMENT_RE.sub("", s)
    s = _TAG_RE.sub("", s)
    # PHP drops everything after an unclosed '<'
    lt = s.find("<")
    if lt != -1 and ">" not in s[lt:]:
        s = s[:lt]
    return s


def compile_php(pattern: str, flags: str = "") -> re.Pattern:
    """Compile a PCRE-style pattern with PHP flag semantics.

    flags: subset of 'iusm'. Without 'u', \\d/\\s/\\w are ASCII-only
    (PCRE byte mode); with 'u' they are Unicode.
    """
    f = 0
    if "i" in flags:
        f |= re.IGNORECASE
    if "s" in flags:
        f |= re.DOTALL
    if "m" in flags:
        f |= re.MULTILINE
    f |= re.UNICODE if "u" in flags else re.ASCII
    return re.compile(pattern, f)


def _reject_constant(name: str):
    # PHP json_decode rejects bare Infinity/NaN/-Infinity outright;
    # Python's json accepts them by default, which would admit values
    # PHP never produces
    raise ValueError(f"non-JSON constant {name}")


def json_decode(text: str):
    """PHP json_decode: the decoded value, or None when the parse fails
    (PHP's null — a literal ``null`` reads the same). Bare Infinity/NaN
    fail the parse like PHP; so does nesting past the recursion limit."""
    try:
        return json.loads(text, parse_constant=_reject_constant)
    except (ValueError, RecursionError):
        return None
