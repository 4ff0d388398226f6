"""Vectorized multi-format timestamp parsing.

Reference semantics (TimestampParser.java:90-167):

* a LIST of formats is tried in order; first successful parse wins;
* ruby dialect: full strptime directives, ``%N`` = 1..9 fraction digits
  right-padded to nanos, ``%z`` also matches zone names ("UTC");
* java dialect: Joda, millisecond resolution — fraction digits beyond
  milliseconds are truncated UNLESS the format contains the grafted
  ``nnnnnnnnn`` nano extension, in which case nanos are re-extracted from
  the raw text by the first ``\\.(\\d+)`` digit-run (TimestampParser.java:157-167)
  and REPLACE the sub-second part entirely (``:147-150``);
* ``from_timezone`` applies only when the text itself carries no offset.

Engines (both produce epoch-nanos int64; verified identical in tests):

* ``catalyst`` — anchored regex per format, fields via ``regexp_extract``,
  instant assembled with pure integer column arithmetic (days-from-civil),
  formats cascaded with ``coalesce``. Whole-stage-codegen, no Python.
* ``arrow``    — the same token IR compiled to ``pandas.str.extract`` +
  numpy int64 math, for use inside pandas UDFs (Arrow batches).

Parse failure of all formats yields NULL (the engine's error policy layer
decides warn-vs-abort, mirroring stop_on_invalid_record).

Instants are bounded to int64-nanos representability (±~292 years);
out-of-range wall times / epochs are INVALID records in both engines. Known engine-divergence domain (cross-engine fuzz):
DST-rule ``from_timezone`` zones resolve through the JVM tz database on
the Catalyst side but Python zoneinfo on the Arrow side — offsets can
differ for pre-standardization history (LMT seconds, pre-1883) and
post-2037 DST extrapolation. Identical on 1970–2037 data and on every
fixed-offset or DST-free zone.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import formats as FT
from .formats import ParsedFormat, Tok

# ---------------------------------------------------------------------------
# zone-abbreviation offsets (seconds). Public, fixed abbreviations only —
# the subset ruby's date parser resolves; DST-ambiguous names use the
# conventional strptime values.
# ---------------------------------------------------------------------------
TZ_NAME_OFFSETS: dict[str, int] = {
    "UTC": 0, "GMT": 0, "UT": 0, "Z": 0, "WET": 0,
    "EST": -5 * 3600, "EDT": -4 * 3600, "CST": -6 * 3600, "CDT": -5 * 3600,
    "MST": -7 * 3600, "MDT": -6 * 3600, "PST": -8 * 3600, "PDT": -7 * 3600,
    "AKST": -9 * 3600, "AKDT": -8 * 3600, "HST": -10 * 3600,
    "AST": -4 * 3600, "NST": int(-3.5 * 3600),
    "BST": 3600, "CET": 3600, "CEST": 2 * 3600, "EET": 2 * 3600,
    "EEST": 3 * 3600, "MSK": 3 * 3600,
    "IST": int(5.5 * 3600), "JST": 9 * 3600, "KST": 9 * 3600,
    "AEST": 10 * 3600, "AEDT": 11 * 3600, "NZST": 12 * 3600, "NZDT": 13 * 3600,
}

_MONTH_ABBR = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"]
_MONTH_FULL = [
    "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
]

_OFFSET_RE = r"[+-]\d{2}(?::?\d{2})?(?::?\d{2})?"
_NAME_RE = r"[A-Za-z]{1,5}"

# engine instant range: the internal representation is int64 epoch-NANOS
# (±~292 years). Instants that don't fit are INVALID records in both
# engines — without the guard, the ×1e9 lift overflows (ANSI
# ArithmeticException killing the whole batch on the Catalyst side,
# silent int64 wrap-around on the numpy side). The bound is the EXACT
# int64 representability of sec·1e9+frac: Catalyst via try_multiply/
# try_add NULLs (single-reference — a between() guard would duplicate
# the civil assembly under CaseWhen and blow the 64 KB codegen limit),
# numpy via _nanos_overflow.


# ---------------------------------------------------------------------------
# token IR → regex
# ---------------------------------------------------------------------------


@dataclass
class FieldRef:
    tok: Tok
    group: int  # 1-based regex capture-group index


def _group_regex(tok: Tok, next_is_digit: bool) -> str:
    k = tok.kind
    if k == FT.Y4:
        return r"(\d{4})"
    if k in (FT.Y2, FT.CENTURY):
        return r"(\d{2})"
    if k == FT.GYEAR:
        return r"(\d{2})" if tok.digits == 2 else r"(\d{4})"
    if k in (FT.MONTH_NUM, FT.H24, FT.H12, FT.H24C, FT.H11, FT.MINUTE, FT.SECOND, FT.DAY_NUM, FT.WEEK):
        if tok.pad == "_":
            return r"(\s?\d{1,2})"
        return r"(\d{2})" if next_is_digit else r"(\d{1,2})"
    if k == FT.DOY:
        return r"(\d{3})" if next_is_digit else r"(\d{1,3})"
    if k == FT.WDAY:
        return r"(\d)"
    if k == FT.FRAC:
        return r"(\d{1,9})" if tok.variable else r"(\d{1,%d})" % tok.digits
    if k == FT.MONTH_ABBR:
        return r"([A-Za-z]{3})"
    if k == FT.MONTH_FULL:
        return r"([A-Za-z]{3,9})"
    if k == FT.DAY_ABBR:
        return r"([A-Za-z]{3})"
    if k == FT.DAY_FULL:
        return r"([A-Za-z]{3,9})"
    if k == FT.AMPM:
        return r"([AaPp]\.?[Mm]\.?)"
    if k == FT.TZOFF:
        # ruby %z also matches alphabetic zone names (date parser zone list)
        return r"(%s|%s)" % (_OFFSET_RE, _NAME_RE)
    if k == FT.TZNAME:
        return r"(%s|%s)" % (_NAME_RE, _OFFSET_RE)
    if k == FT.EPOCH:
        return r"(-?\d{1,19})"
    if k == FT.ERA:
        return r"(AD|BC|CE|BCE)"
    raise AssertionError(f"unhandled token {tok}")


def build_regex(pf: ParsedFormat) -> tuple[str, list[FieldRef]]:
    """Anchored regex + capture-group map for one parsed format."""
    parts: list[str] = ["^"]
    fields: list[FieldRef] = []
    gi = 0
    toks = pf.tokens
    for i, tok in enumerate(toks):
        if tok.kind == FT.LIT:
            text = tok.text
            # whitespace literals match a whitespace run (ruby strptime rule)
            chunks = re.split(r"(\s+)", text)
            for ch in chunks:
                if not ch:
                    continue
                parts.append(r"\s+" if ch.isspace() else re.escape(ch))
            continue
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        next_is_digit = nxt is not None and nxt.kind in FT._NUMERIC_KINDS
        parts.append(_group_regex(tok, next_is_digit))
        gi += 1
        fields.append(FieldRef(tok, gi))
    parts.append("$")
    return "".join(parts), fields


# ---------------------------------------------------------------------------
# fixed-width fast path (regex-free)
# ---------------------------------------------------------------------------
#
# A format made of fixed-width numeric fields + literal separators
# (optionally ending in a fraction and/or a zone) — e.g. the ubiquitous
# "%Y-%m-%d %H:%M:%S.%N" or the CDC binlog's
# "%Y-%m-%d %H:%M:%S.%N %z" — can be parsed without the full-line
# regex AND without the branch-free civil-arithmetic assembly tree:
# the fixed prefix goes through ONE native try_to_timestamp call with a
# strict java.time pattern derived from the token IR
# (_fast_native_civil_sec), whose strict parse validates every digit
# run and literal separator; the residual checks are a length bound and
# (for frac/zone tails) a digit-run test plus one tiny anchored rlike
# on the ≤9-char zone window. Profiling (BENCH/NOTES.md round 4) showed
# the engine's cost is dominated by the field-extraction + civil
# assembly EXPRESSION TREE, not the regex execution itself — so the
# win comes from replacing the whole tree with the native kernel, not
# from avoiding java.util.regex. Hot paths route rows through this
# first and fall back to the regex engine via coalesce(fast, slow):
#
# * the fast expr yields non-NULL ONLY for exactly-aligned rows, where
#   it is instant-identical to the regex engine (both kernels are
#   proleptic Gregorian; frac/zone/from_tz handling is SHARED);
# * flexible-width rows the regex engine accepts ("2017-1-1", double
#   spaces via the \s+ literal rule), rows java.time rejects but Ruby
#   strptime allows (leap-second 60), and years outside [1678, 2261]
#   all yield NULL → slow path.

_FIXED_WIDTHS = {
    FT.Y4: 4,
    FT.MONTH_NUM: 2,
    FT.DAY_NUM: 2,
    FT.H24: 2,
    FT.MINUTE: 2,
    FT.SECOND: 2,
}

# java.time letters for the strict prefix pattern (same Spark datetime
# pattern dialect the formatter uses)
_FIXED_PATTERNS = {
    FT.Y4: "yyyy",
    FT.MONTH_NUM: "MM",
    FT.DAY_NUM: "dd",
    FT.H24: "HH",
    FT.MINUTE: "mm",
    FT.SECOND: "ss",
}


@dataclass
class FastLayout:
    fields: "dict[str, tuple[int, int]]"  # kind -> (1-based pos, width)
    lits: "list[tuple[int, str]]"  # (1-based pos, literal run)
    residue: str  # expected translate(col, digits, '') result
    prefix_len: int  # chars before the fraction/zone tail
    frac_pos: int  # 0 = no fraction
    frac_max: int
    # optional trailing zone (%z / %Z as the FINAL token): with a
    # fraction the zone is cut at the (non-empty) literal between them;
    # without, it sits at a fixed position
    zone: bool = False
    zone_lit: str = ""  # literal between fraction and zone
    # strict java.time pattern for the fixed-width prefix (fields +
    # quoted literals, in layout order) — the native civil kernel parses
    # substring(col, 1, prefix_len) against it in ONE call
    pattern: str = ""


def fast_layout(pf: ParsedFormat) -> "FastLayout | None":
    """Token-IR analysis: the layout for the regex-free path, or None
    when the format doesn't qualify (names, epoch, flexible pads,
    non-final fractions/zones, duplicate fields, digit literals)."""
    if pf.java_nano_hack:
        return None  # raw-text nano override needs its own regex pass
    pos = 1
    fields: dict[str, tuple[int, int]] = {}
    lits: list[tuple[int, str]] = []
    residue: list[str] = []
    pat: list[str] = []
    frac_pos = frac_max = 0
    zone = False
    zone_lit = ""
    toks = [t for t in pf.tokens if not (t.kind == FT.LIT and not t.text)]
    for i, tok in enumerate(toks):
        if frac_pos and tok.kind not in (FT.LIT, FT.TZOFF, FT.TZNAME):
            return None  # after the fraction only <lit><zone> may follow
        if tok.kind == FT.LIT:
            if any(ch.isdigit() for ch in tok.text):
                return None  # digit literal breaks the digit-window checks
            if frac_pos:
                if zone_lit or i + 1 >= len(toks):
                    return None  # exactly one literal, then the zone
                zone_lit = tok.text
                continue
            lits.append((pos, tok.text))
            residue.append(tok.text)
            pat.append("'" + tok.text.replace("'", "''") + "'")
            pos += len(tok.text)
            continue
        if tok.kind == FT.FRAC:
            if frac_pos:
                return None
            frac_pos = pos
            frac_max = 9 if tok.variable else tok.digits
            continue
        if tok.kind in (FT.TZOFF, FT.TZNAME):
            if i != len(toks) - 1 or zone:
                return None  # zone must end the format
            if frac_pos and not zone_lit:
                return None  # digit-run/zone boundary needs a delimiter
            zone = True
            continue
        w = _FIXED_WIDTHS.get(tok.kind)
        if w is None or tok.pad == "_" or tok.kind in fields:
            return None
        fields[tok.kind] = (pos, w)
        pat.append(_FIXED_PATTERNS[tok.kind])
        pos += w
    if not fields:
        return None
    if frac_pos and zone_lit and not zone:
        return None  # trailing literal after the fraction, no zone
    return FastLayout(
        fields=fields,
        lits=lits,
        residue="".join(residue),
        prefix_len=pos - 1,
        frac_pos=frac_pos,
        frac_max=frac_max,
        zone=zone,
        zone_lit=zone_lit,
        pattern="".join(pat),
    )


_ZONE_SHAPE = r"^(?:%s|%s)$" % (_OFFSET_RE, _NAME_RE)


def _fast_parts(
    col: Column, L: FastLayout
) -> "tuple[Column, Column | None, Column | None]":
    """(match_cond, frac_expr, zone_expr) for the regex-free path.

    The strict prefix parse (:func:`_fast_native_civil_sec`) validates
    every field digit run and literal separator — a misaligned or
    sign-bearing prefix simply fails to parse (NULL → slow path). The
    residual checks here cover only the TAIL that the substring cut
    hides from the prefix pattern: total length (without them, trailing
    junk after an aligned prefix would be silently dropped), the
    fraction digit-run bounds, and the zone window's shape (one tiny
    anchored rlike over ≤9 chars — orders cheaper than the full-line
    regex)."""
    frac_expr = zone_expr = None
    if L.frac_pos and L.zone:
        rest = F.substring(col, L.frac_pos, 1_000_000)
        arr = F.split(rest, re.escape(L.zone_lit), 2)
        frac_expr = F.try_element_at(arr, F.lit(1))
        zone_expr = F.try_element_at(arr, F.lit(2))
    elif L.frac_pos:
        frac_expr = F.substring(col, L.frac_pos, 9)
    elif L.zone:
        # the literal before a frac-less zone is a regular fixed-position
        # literal already counted in prefix_len
        zone_expr = F.substring(col, L.prefix_len + 1, 1_000_000)

    n = F.length(col)
    if not L.zone:
        if L.frac_pos:
            cond = n.between(L.prefix_len + 1, L.prefix_len + L.frac_max)
        else:
            cond = n == L.prefix_len
    else:
        cond = n > L.prefix_len
    if L.frac_pos:
        cond = (
            cond
            & F.length(frac_expr).between(1, L.frac_max)
            & (F.translate(frac_expr, "0123456789", "") == "")
        )
    if L.zone:
        cond = cond & zone_expr.rlike(_ZONE_SHAPE)
    return cond, frac_expr, zone_expr


def _fast_native_civil_sec(col: Column, L: FastLayout) -> Column:
    """Civil wall-clock seconds for exactly-aligned rows via Spark's own
    datetime kernel: ``substring(col, 1, prefix_len)`` parsed with
    ``try_to_timestamp`` against the layout's strict java.time pattern
    (``L.pattern``, fields + quoted literals in layout order) — ONE
    substring and one native parse per row, measured ~1.6× faster than
    the branch-free civil-arithmetic tree (BENCH/NOTES.md round 4). The
    strict parse also validates every digit run and literal separator
    (no translate-residue or per-window checks needed), and returns NULL
    exactly where java.time rejects the civil value (misalignment,
    invalid dates, leap-second 60 — which the regex engine rolls over
    per Ruby strptime), so callers that ``coalesce(fast, slow)`` keep
    exact engine semantics: a NULL fast value falls through to the regex
    engine; a non-NULL fast value is instant-identical because both
    kernels are proleptic Gregorian.

    ``try_to_timestamp`` THROWS (kills the batch) on year 0 instead of
    returning NULL, so the year window is pre-checked with a
    lexicographic string compare (4-digit digit-only windows compare
    numerically; non-digit windows fail the compare and fall through).
    Years outside [1678, 2261] overflow int64 nanos in every case the
    engine accepts, so routing them to the slow path changes nothing.

    Session-zone dependence: ``try_to_timestamp`` interprets the civil
    string in the SESSION zone — callers gate this kernel on a UTC
    session (`staged_stages` falls back to pure regex staging
    otherwise), the same requirement the DST ``from_tz`` path and the
    formatter already carry."""

    prefix = F.substring(_year_guard(col, L), 1, L.prefix_len)
    return F.unix_seconds(F.try_to_timestamp(prefix, F.lit(L.pattern)))


def _fast_native_full_sec(col: Column, L: FastLayout) -> Column:
    """Civil wall-clock seconds for ZONE-LESS fast layouts via ONE
    native parse of the ENTIRE string — no substring, no length bounds,
    no fraction digit-run checks: the java.time pattern is the layout's
    strict prefix pattern plus ``S × frac_max``, and Spark's fraction
    parser has exactly the fast-path acceptance semantics (1..frac_max
    digits accepted variably; empty fraction, overlong runs, non-digits,
    embedded/trailing whitespace, and any trailing junk all fail the
    parse → NULL → slow path). The parsed micros are DISCARDED below the
    second boundary — the caller re-reads the fraction digits from the
    source text (rpad-9 + try_cast), keeping the engine's nanosecond
    precision; ``unix_seconds`` floors to the civil second, which is the
    correct pairing for the always-positive wall-clock fraction on both
    sides of the epoch. Year-0 throw / int64-nanos overflow are
    pre-checked the same way as :func:`_fast_native_civil_sec`; the
    same UTC-session gate applies."""

    return F.unix_seconds(_fast_native_full_ts(col, L))


def _year_guard(col: Column, L: FastLayout) -> Column:
    """NULL out rows whose year window falls outside [1678, 2261] —
    the try_to_timestamp year-0-throw / int64-nanos-overflow pre-check.
    When the year LEADS the layout the whole-string prefix compare
    suffices (col ≥ '1678' admits every 1678+ year; col < '2262'
    rejects 2262+ since any longer '2262…' string sorts above the bare
    literal) and skips the substring allocation; mid-layout years take
    the 4-char window compare. Either form is conservative: a non-digit
    window fails the compare and the row falls to the regex engine."""
    if FT.Y4 not in L.fields:
        return col
    ypos, _w = L.fields[FT.Y4]
    if ypos == 1:
        return F.when((col >= "1678") & (col < "2262"), col)
    return F.when(F.substring(col, ypos, 4).between("1678", "2261"), col)


def _fast_native_full_ts(col: Column, L: FastLayout) -> Column:
    """The guarded full-string native parse both zone-less kernels share
    (seconds for the DST-``from_tz`` fallback, micros for the hot
    fixed-offset path)."""
    pat = L.pattern + ("S" * L.frac_max if L.frac_pos else "")
    return F.try_to_timestamp(_year_guard(col, L), F.lit(pat))


def _utc_session_active() -> bool:
    """True when the active session's timezone is UTC — the native civil
    kernel parses in the session zone, so the staged fast path is only
    eligible under UTC (the engine's formatter/DST-zone paths already
    require it; non-UTC sessions degrade to pure regex staging)."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return False
        tz = s.conf.get("spark.sql.session.timeZone", "")
        return tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00")
    except Exception:
        return False


def _wscg_enabled() -> bool:
    """Whole-stage-codegen state of the active session at PLAN BUILD
    time. The gated fast staging spans 4 consecutive projections; WSCG
    fuses them into ONE generated class whose apply method lands beyond
    HotSpot's JIT size threshold — measured 1.8 s vs 0.78 s per 2M rows
    flipping only this conf (BENCH/NOTES.md round 4). Per-operator
    codegen (wholeStage=false, the engine's documented hot-loop config —
    the CDC batch body sets it around every micro-batch) compiles each
    projection separately and the fast staging wins; under WSCG the
    r03 single/two-select regex shapes are the best known, so
    ``staged_stages`` picks per config."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return True
        return s.conf.get("spark.sql.codegen.wholeStage", "true").lower() == "true"
    except Exception:
        return True


# ---------------------------------------------------------------------------
# Catalyst assembly
# ---------------------------------------------------------------------------


def _col_days_from_civil(y: Column, m: Column, d: Column) -> Column:
    """Days since 1970-01-01 from a proleptic-Gregorian civil date.

    Howard Hinnant's public-domain days_from_civil algorithm, as pure
    integer Column arithmetic (whole-stage codegen friendly).
    """
    y = y.cast("long") - F.when(m <= 2, F.lit(1)).otherwise(F.lit(0))
    era = F.when(y >= 0, y).otherwise(y - 399)
    era = F.call_function("div", era, F.lit(400))
    yoe = y - era * 400  # [0, 399]
    mp = F.when(m > 2, m - 3).otherwise(m + 9)  # [0, 11]
    doy = F.call_function("div", F.lit(153) * mp + 2, F.lit(5)) + d - 1
    doe = yoe * 365 + F.call_function("div", yoe, F.lit(4)) - F.call_function(
        "div", yoe, F.lit(100)
    ) + doy
    return era * 146097 + doe - 719468


def _col_month_from_name(g: Column, full: bool) -> Column:
    names = _MONTH_FULL if full else _MONTH_ABBR
    low = F.lower(g)
    expr = F.lit(None).cast("int")
    result = None
    for idx, name in enumerate(names, start=1):
        cond = low == name if full else F.substring(low, 1, 3) == name
        result = F.when(cond, F.lit(idx)) if result is None else result.when(cond, F.lit(idx))
    return result.otherwise(expr)


def _col_offset_seconds(g: Column) -> Column:
    """Offset seconds from a matched %z / Z group ("+09:00", "+0900",
    "+09", "UTC", "JST", ...); NULL for unknown names (→ format rejected,
    cascade moves on)."""
    is_num = g.rlike(r"^[+-]")
    digits = F.regexp_replace(g, ":", "")
    sign = F.when(F.substring(digits, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(1))
    hh = F.substring(digits, 2, 2).try_cast("int")
    mm = F.when(F.length(digits) >= 5, F.substring(digits, 4, 2).try_cast("int")).otherwise(F.lit(0))
    ss = F.when(F.length(digits) >= 7, F.substring(digits, 6, 2).try_cast("int")).otherwise(F.lit(0))
    num_off = sign * (hh * 3600 + mm * 60 + ss)

    # literal-map lookup (NULL for unknown names) — O(1) expression size
    # vs a 30-branch when-chain (keeps the generated code small)
    zone_map = F.create_map(
        *[c for name, off in TZ_NAME_OFFSETS.items() for c in (F.lit(name), F.lit(off))]
    )
    name_off = F.try_element_at(zone_map, F.upper(g))
    return F.when(is_num, num_off).otherwise(name_off).cast("long")


_MARK = "\x01"  # match sentinel (cannot occur in timestamp text)
_SEP = "\x02"  # field separator


def format_parse_expr(
    col: Column,
    pf: ParsedFormat,
    from_tz: str,
    fast: "FastLayout | None" = None,
    staged: "tuple[Column, Column] | None" = None,
) -> Column:
    """One format → epoch-nanos Column (NULL on mismatch/invalid).

    Default mode — all capture groups are extracted in a SINGLE regex
    pass: ``regexp_replace(col, pattern, "\\x01$1\\x02$2...")`` rewrites
    a matching value into a sentinel-prefixed, separator-delimited field
    string (a non-match passes through unchanged → no sentinel); fields
    are then O(1) array lookups. One regex execution per (row, format)
    instead of one per (row, field) — ~10× less regex work and ~10×
    smaller generated code than per-field regexp_extract.

    ``fast=FastLayout`` — regex-free variant: fields are substring
    windows, the match test is ``_fast_match``. NULL for any row the
    layout doesn't exactly fit (callers coalesce with the regex engine).

    ``staged=(marked, parts)`` — assembly over pre-staged extraction
    attributes (the hot-path projection staging builds ``marked``
    conditionally so aligned rows skip the regex entirely).

    The civil/time/zone assembly below is SHARED by all three modes —
    the fast path is value-identical to the regex engine by
    construction wherever it matches.
    """
    pattern, fields = build_regex(pf)
    by_kind: dict[str, list[FieldRef]] = {}
    for fr in fields:
        by_kind.setdefault(fr.tok.kind, []).append(fr)

    if fast is not None:

        matched, _frac_expr, _zone_expr = _fast_parts(col, fast)

        def g(fr: FieldRef) -> Column:
            if fr.tok.kind == FT.FRAC:
                # all remaining digits (1..frac_max, bounded by the checks)
                return _frac_expr
            if fr.tok.kind in (FT.TZOFF, FT.TZNAME):
                return _zone_expr
            pos, w = fast.fields[fr.tok.kind]
            return F.substring(col, pos, w)

        def gi(fr: FieldRef) -> Column:
            # windows are ≤ 4 digit chars whenever `matched` holds — no
            # unmatched-text leak, so no clamp needed
            return F.trim(g(fr)).try_cast("int")

    else:
        repl = _MARK + _SEP.join(f"${i + 1}" for i in range(len(fields)))
        if staged is not None:
            marked, parts = staged
        else:
            marked = F.regexp_replace(col, pattern, repl)
            # NOTE: parts must stay a PLAIN shared expression — wrapping
            # it in when(matched, …) makes every field reference inline
            # the whole regexp_replace subtree (CSE is defeated in
            # conditional contexts), which re-runs the regex per field
            # and blows codegen past 64 KB. Leak protection for
            # unmatched rows (whose original text passes through into
            # group 1) is done by clamping numeric fields in gi().
            parts = F.split(F.substring(marked, 2, 1_000_000), _SEP, -1)
        matched = marked.startswith(_MARK)

        def g(fr: FieldRef) -> Column:
            return F.try_element_at(parts, F.lit(fr.group))

        def gi(fr: FieldRef) -> Column:
            v = F.trim(g(fr)).try_cast("int")
            if fr.group != 1:
                return v
            # clamp GROUP 1 only: on a NON-match the original text passes
            # through regexp_replace unchanged and (having no \x02) lands
            # whole in parts[1] — a long digit run try_casts to a huge int
            # whose downstream arithmetic (e.g. 153*mp in days_from_civil)
            # overflows under ANSI even though `matched` is false (CSE
            # evaluates eagerly). Groups ≥ 2 are NULL on non-match; true
            # matches are regex-bounded to ≤ 4 digits, so the clamp never
            # alters them. Narrow scope keeps the added CaseWhen out of
            # the other field subtrees (codegen size).
            return F.when(v.between(-99999, 99999), v)

    def first(kind: str) -> "FieldRef | None":
        lst = by_kind.get(kind)
        return lst[0] if lst else None

    # --- epoch shortcut (%s) ---
    ep = first(FT.EPOCH)
    frac_f = first(FT.FRAC)

    # fraction → nanos (digits right-padded to 9: TimestampParser.java:157-167)
    if frac_f is not None:
        fg = g(frac_f)
        frac_nanos = fg.try_cast("long") * F.pow(F.lit(10), (F.lit(9) - F.length(fg))).cast("long")
        if pf.dialect == "java" and not pf.java_nano_hack:
            # Joda keeps milliseconds only (truncation)
            frac_nanos = frac_nanos - F.pmod(frac_nanos, F.lit(1_000_000))
    else:
        frac_nanos = F.lit(0).cast("long")
    if pf.dialect == "java" and pf.java_nano_hack:
        # nano override from the raw text's first dotted digit-run
        raw = F.regexp_extract(col, r"\.(\d+)", 1)
        frac_nanos = F.when(
            raw != "",
            raw.try_cast("long") * F.pow(F.lit(10), (F.lit(9) - F.length(raw))).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    if ep is not None:
        # long, not int: %s epochs past 2^31 (year 2038+) are valid.
        # try_multiply/try_add bound the instant to int64 nanos WITHOUT a
        # second reference to es (a between() guard would duplicate the
        # subtree under CaseWhen — CSE is defeated in conditional
        # contexts); NULL nanos = invalid row.
        es = F.trim(g(ep)).try_cast("long")
        nanos = F.try_add(F.try_multiply(es, F.lit(1_000_000_000)), frac_nanos)
        return F.when(matched, nanos).otherwise(F.lit(None).cast("long"))

    if fast is not None:
        # --- fast mode: native civil kernel -------------------------
        # fixed windows canonicalize into ONE try_to_timestamp call; its
        # NULL covers date/time validity (plus the leap-60 rollover the
        # regex engine allows — those rows fall through to it).
        if not fast.zone:
            # zone-less: the native call consumes the ENTIRE string
            # (pattern + S×frac_max), so the residual cond/frac checks
            # vanish — validity is exactly ts-non-NULL, and every
            # expression below is NULL-propagating (try_* arithmetic),
            # so no `matched` CaseWhen is needed at all.
            off = _fixed_offset_seconds(from_tz)
            if off is not None:
                # fixed-offset from_tz (the hot CDC config): assemble
                # from unix_MICROS — the native parse already validated
                # and converted the first 6 fraction digits, so only the
                # sub-micro tail (digits 7..9, ≤ 3 chars) is re-read
                # from the text, instead of the full 9-char
                # rpad+try_cast the seconds kernel pays. micros·1000 +
                # tail ≡ sec·10⁹ + rpad-9(frac): sec·10⁹ is a multiple
                # of 10⁶, micros carry rpad-6 of the fraction (nano→
                # micro truncation = dropping digits 7-9; the fraction
                # is non-negative on both sides of the epoch), and the
                # year guard keeps ·1000 inside int64 (try_* NULL any
                # residue). Measured 539k → 788k rows/s at local[1] on
                # the flagship parse+format shape (BENCH/BASELINE.md
                # round 5).
                base = F.try_multiply(
                    F.unix_micros(_fast_native_full_ts(col, fast)), F.lit(1000)
                )
                if off:
                    base = F.try_add(base, F.lit(-off * 1_000_000_000))
                if pf.dialect == "java":
                    # Joda keeps milliseconds only: drop sub-ms nanos
                    # (utc·10⁹ ≡ 0 mod 10⁶, so pmod isolates the
                    # fraction's sub-ms part — same truncation as the
                    # shared frac_nanos rule; digits 7-9 stay dropped)
                    base = base - F.pmod(base, F.lit(1_000_000))
                elif fast.frac_pos and fast.frac_max > 6:
                    sub = F.when(
                        F.length(col) >= fast.frac_pos + 6,
                        F.rpad(F.substring(col, fast.frac_pos + 6, 3), 3, "0")
                        .try_cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    base = F.try_add(base, sub)
                return base
            # DST from_tz: wall-clock seconds through the tz database
            # (to_utc_timestamp needs whole seconds), fraction re-read
            # rpad-9 from the text
            utc_sec = _apply_from_tz_col(_fast_native_full_sec(col, fast), from_tz)
            if fast.frac_pos:
                f9 = F.rpad(F.substring(col, fast.frac_pos, 9), 9, "0").try_cast(
                    "long"
                )
                if pf.dialect == "java":
                    # Joda keeps milliseconds only (same rule as the
                    # shared frac_nanos above)
                    f9 = f9 - F.pmod(f9, F.lit(1_000_000))
            else:
                f9 = F.lit(0).cast("long")
            return F.try_add(F.try_multiply(utc_sec, F.lit(1_000_000_000)), f9)
        # trailing-zone layouts: strict prefix parse + split-out
        # frac/zone windows (the shared tail below, over the same
        # helpers).
        naive_sec = _fast_native_civil_sec(col, fast)
        zone_fr = first(FT.TZOFF) or first(FT.TZNAME)
        if zone_fr is not None:
            utc_sec = naive_sec - _col_offset_seconds(g(zone_fr))
        else:
            utc_sec = _apply_from_tz_col(naive_sec, from_tz)
        nanos = F.try_add(F.try_multiply(utc_sec, F.lit(1_000_000_000)), frac_nanos)
        return F.when(matched, nanos).otherwise(F.lit(None).cast("long"))

    # --- civil date ---
    y4, y2, cen = first(FT.Y4), first(FT.Y2), first(FT.CENTURY)
    gy = first(FT.GYEAR)
    if gy is not None:
        gv = gi(gy)
        if gy.tok.digits == 2:
            gyear = F.when(gv < 69, gv + 2000).otherwise(gv + 1900)
        else:
            gyear = gv
    if y4 is not None:
        year = gi(y4)
    elif y2 is not None:
        two = gi(y2)
        if cen is not None:
            year = gi(cen) * 100 + two
        else:
            # ruby strptime pivot: 00-68 → 20xx, 69-99 → 19xx
            year = F.when(two < 69, two + 2000).otherwise(two + 1900)
    elif gy is not None:
        # %G alone approximates the calendar year (exact only with %V+%u,
        # handled below); documented deviation for week 1 / week 52-53 edges
        year = gyear
    else:
        year = F.lit(1970)

    mn, mab, mfl = first(FT.MONTH_NUM), first(FT.MONTH_ABBR), first(FT.MONTH_FULL)
    if mn is not None:
        month = gi(mn)
    elif mab is not None:
        month = _col_month_from_name(g(mab), full=False)
    elif mfl is not None:
        month = _col_month_from_name(g(mfl), full=True)
    else:
        month = F.lit(1)

    dn = first(FT.DAY_NUM)
    day = gi(dn) if dn is not None else F.lit(1)

    doy = first(FT.DOY)
    wk, wd = first(FT.WEEK), first(FT.WDAY)
    if (
        gy is not None and wk is not None and wd is not None
        and y4 is None and y2 is None and mn is None and mab is None and mfl is None
    ):
        # full ISO week date %G-%V-%u: week 1 contains Jan 4; %u is 1=Mon
        jan4 = _col_days_from_civil(gyear, F.lit(1), F.lit(4))
        dow_jan4 = F.pmod(jan4 + 3, F.lit(7)) + 1  # 1970-01-01 was a Thursday
        week1_mon = jan4 - (dow_jan4 - 1)
        days = week1_mon + (gi(wk) - 1) * 7 + (gi(wd) - 1)
        valid_date = gi(wk).between(1, 53) & gi(wd).between(1, 7)
    elif doy is not None and mn is None and mab is None and mfl is None:
        days = _col_days_from_civil(year, F.lit(1), F.lit(1)) + gi(doy) - 1
        valid_date = gi(doy).between(1, 366)
    else:
        days = _col_days_from_civil(year, month, day)
        # day validated against the ACTUAL month length (ruby strptime
        # rejects 2015-02-30 / 2015-04-31; days_from_civil would silently
        # roll them into the next month). BRANCH-FREE on purpose: a
        # when-chain here re-references the month/year field subtrees in
        # conditional contexts, which defeats subexpression elimination —
        # the whole regex extraction re-executes per reference (measured
        # 5× parse slowdown). Array-literal lookup + arithmetic leap
        # adjustment keeps every field reference CSE-eligible; month
        # outside 1..12 → try_element_at yields NULL → invalid.
        month_days = F.array(*[F.lit(d) for d in (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)])
        leap = (
            (F.pmod(year, F.lit(4)) == 0)
            & ((F.pmod(year, F.lit(100)) != 0) | (F.pmod(year, F.lit(400)) == 0))
        ).cast("int")
        # clamp the lookup index arithmetically (element_at throws on 0
        # even in its try_ variant); out-of-range months fail between()
        safe_m = F.greatest(F.least(month, F.lit(12)), F.lit(1))
        dim = F.element_at(month_days, safe_m) + leap * (month == 2).cast("int")
        valid_date = month.between(1, 12) & day.between(1, dim)

    # --- time of day ---
    h24, h12, ampm = first(FT.H24), first(FT.H12), first(FT.AMPM)
    h24c, h11 = first(FT.H24C), first(FT.H11)
    if ampm is not None:
        is_pm = F.lower(F.substring(F.trim(g(ampm)), 1, 1)) == "p"
        pm_shift = F.when(is_pm, F.lit(12)).otherwise(F.lit(0))
    if h24 is not None:
        hour = gi(h24)
        valid_hour = hour.between(0, 23)
    elif h24c is not None:
        # Joda clockhour-of-day: 24 means midnight
        v = gi(h24c)
        hour = F.pmod(v, F.lit(24))
        valid_hour = v.between(1, 24)
    elif h12 is not None:
        h = gi(h12)
        hour = F.pmod(h, F.lit(12)) + (pm_shift if ampm is not None else F.lit(0))
        valid_hour = h.between(1, 12)
    elif h11 is not None:
        # Joda hour-of-halfday: already 0-11, no clock-hour wrap
        v = gi(h11)
        hour = v + (pm_shift if ampm is not None else F.lit(0))
        valid_hour = v.between(0, 11)
    else:
        hour = F.lit(0)
        valid_hour = F.lit(True)

    mi, se = first(FT.MINUTE), first(FT.SECOND)
    minute = gi(mi) if mi is not None else F.lit(0)
    second = gi(se) if se is not None else F.lit(0)
    valid_time = valid_hour & minute.between(0, 59) & second.between(0, 60)

    naive_sec = (
        days.cast("long") * 86400
        + hour.cast("long") * 3600
        + minute.cast("long") * 60
        + second.cast("long")
    )

    # --- timezone ---
    tzoff, tzname = first(FT.TZOFF), first(FT.TZNAME)
    zone_f = tzoff or tzname
    if zone_f is not None:
        zg = g(zone_f)
        off = _col_offset_seconds(zg)
        utc_sec = naive_sec - off  # NULL offset (unknown name) → NULL result
    else:
        utc_sec = _apply_from_tz_col(naive_sec, from_tz)

    # exact int64-nanos bound WITHOUT re-referencing utc_sec: a second
    # reference (e.g. a between() guard) duplicates the WHOLE civil
    # assembly under CaseWhen — CSE is defeated in conditional contexts —
    # and the 5-format cascade then exceeds the 64 KB codegen limit.
    # try_multiply/try_add yield NULL exactly when the instant leaves
    # int64 nanos; a NULL nanos is an invalid row.
    nanos = F.try_add(F.try_multiply(utc_sec, F.lit(1_000_000_000)), frac_nanos)
    ok = valid_date & valid_time & matched
    return F.when(ok, nanos).otherwise(F.lit(None).cast("long"))


def _fixed_offset_seconds(tz: str) -> "int | None":
    """Constant UTC offset for fixed-offset zone specs, else None."""
    if tz in TZ_NAME_OFFSETS:
        return TZ_NAME_OFFSETS[tz]
    m = re.fullmatch(r"([+-])(\d{2}):?(\d{2})", tz)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60)
    try:
        from zoneinfo import ZoneInfo
        from datetime import datetime, timezone

        z = ZoneInfo(tz)
        # fixed iff the offset is invariant across a DENSE probe grid
        # (quarterly, 1890–2045). A sparse probe set misclassifies zones
        # that are fixed TODAY but carried DST historically — e.g.
        # America/Sao_Paulo (DST until 2019) or Asia/Taipei (until 1979)
        # — and the numpy engine then renders/parses their history with
        # the modern constant while Catalyst's JVM conversion applies the
        # historical rules (found by cross-engine formatter fuzz: 1997
        # Sao Paulo wall clocks came out an hour apart). ~620 utcoffset
        # probes, once per plan build.
        offs = {
            datetime(y, m, 15, tzinfo=timezone.utc).astimezone(z).utcoffset()
            for y in range(1890, 2046)
            for m in (1, 4, 7, 10)
        }
        if len(offs) == 1:
            return int(offs.pop().total_seconds())
    except Exception:
        pass
    return None


def _apply_from_tz_col(naive_sec: Column, from_tz: str) -> Column:
    off = _fixed_offset_seconds(from_tz)
    if off is not None:
        return naive_sec - F.lit(off)
    # DST zone: resolve wall-clock → instant through the JVM tz database.
    # timestamp_seconds→to_utc_timestamp round-trips through the session
    # zone, so this path (like rendering) requires a UTC session.
    from .format import _require_utc_session

    _require_utc_session()
    return F.unix_seconds(F.to_utc_timestamp(F.timestamp_seconds(naive_sec), from_tz))


# ---------------------------------------------------------------------------
# numpy / Arrow assembly (same token IR; for pandas-UDF engine)
# ---------------------------------------------------------------------------


def _np_days_from_civil(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    y = y.astype(np.int64) - (m <= 2)
    era = np.where(y >= 0, y, y - 399) // 400
    yoe = y - era * 400
    mp = np.where(m > 2, m - 3, m + 9)
    doy = (153 * mp + 2) // 5 + d.astype(np.int64) - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _np_offset_seconds(vals: pd.Series) -> np.ndarray:
    """Offset seconds from matched zone strings; NaN for unknown names."""
    out = np.full(len(vals), np.nan)
    s = vals.fillna("")
    is_num = s.str.match(r"^[+-]")
    digits = s.str.replace(":", "", regex=False)
    if is_num.any():
        sign = np.where(digits.str.startswith("-"), -1, 1)
        hh = pd.to_numeric(digits.str[1:3], errors="coerce")
        mm = pd.to_numeric(digits.str[3:5], errors="coerce").fillna(0)
        ss = pd.to_numeric(digits.str[5:7], errors="coerce").fillna(0)
        num_off = sign * (hh * 3600 + mm * 60 + ss)
        out = np.where(is_num, num_off, out)
    upper = s.str.upper()
    named = upper.map(TZ_NAME_OFFSETS)
    out = np.where(~is_num & named.notna(), named.fillna(0), out)
    return out


def np_parse_format(s: pd.Series, pf: ParsedFormat, from_tz: str) -> tuple[np.ndarray, np.ndarray]:
    """One format → (epoch-nanos int64, invalid bool mask)."""
    pattern, fields = build_regex(pf)
    sstr = s.astype("string")
    if fields:
        ext = sstr.str.extract(pattern)
        ncols = {fr.group - 1: fr for fr in fields}
        # all capture groups are required → group 1 non-null iff matched
        matched = ext[0].notna()
    else:
        ext = pd.DataFrame(index=s.index)
        ncols = {}
        matched = sstr.str.match(pattern).fillna(False)

    def col(kind: str) -> "pd.Series | None":
        for i, fr in ncols.items():
            if fr.tok.kind == kind:
                return ext[i]
        return None

    def colnum(kind: str) -> "pd.Series | None":
        c = col(kind)
        if c is None:
            return None
        return pd.to_numeric(c.str.strip(), errors="coerce")

    n = len(s)
    invalid = ~matched.to_numpy(dtype=bool)

    frac_c = col(FT.FRAC)
    if frac_c is not None:
        flen = frac_c.str.len().fillna(0).to_numpy(dtype=np.int64)
        fval = pd.to_numeric(frac_c, errors="coerce").fillna(0).to_numpy(dtype=np.int64)
        frac_nanos = fval * np.power(10, np.clip(9 - flen, 0, 9)).astype(np.int64)
        if pf.dialect == "java" and not pf.java_nano_hack:
            frac_nanos -= frac_nanos % 1_000_000
    else:
        frac_nanos = np.zeros(n, dtype=np.int64)
    if pf.dialect == "java" and pf.java_nano_hack:
        raw = sstr.str.extract(r"\.(\d+)")[0]
        rlen = raw.str.len().fillna(0).to_numpy(dtype=np.int64)
        rval = pd.to_numeric(raw, errors="coerce").fillna(0).to_numpy(dtype=np.int64)
        frac_nanos = rval * np.power(10, np.clip(9 - rlen, 0, 9)).astype(np.int64)

    ep = colnum(FT.EPOCH)
    if ep is not None:
        # float64 staging: pd.to_numeric of a >int64 epoch yields float,
        # and a float→int64 cast of huge values is UB; range-check first
        # (in-range epochs are < 2^53 → float-exact). The bound is the
        # EXACT int64-nanos representability — the twin of the Catalyst
        # try_multiply/try_add nulls.
        bad = ep.isna().to_numpy()
        epf = ep.fillna(0).to_numpy(dtype=np.float64)
        over = _nanos_overflow(epf, frac_nanos)
        sec = np.where(over, 0, epf).astype(np.int64)
        nanos = sec * 1_000_000_000 + frac_nanos
        return nanos, invalid | bad | over

    y4, y2, cen = colnum(FT.Y4), colnum(FT.Y2), colnum(FT.CENTURY)
    gyn = colnum(FT.GYEAR)
    gyear = None
    if gyn is not None:
        gtok = next(fr.tok for fr in ncols.values() if fr.tok.kind == FT.GYEAR)
        gv = gyn.fillna(1970).to_numpy(dtype=np.int64)
        gyear = np.where(gv < 69, gv + 2000, np.where(gv < 100, gv + 1900, gv)) if gtok.digits == 2 else gv
    if y4 is not None:
        year = y4.fillna(1970).to_numpy(dtype=np.int64)
    elif y2 is not None:
        two = y2.fillna(0).to_numpy(dtype=np.int64)
        if cen is not None:
            year = cen.fillna(19).to_numpy(dtype=np.int64) * 100 + two
        else:
            year = np.where(two < 69, two + 2000, two + 1900)
    elif gyear is not None:
        year = gyear  # %G alone ≈ calendar year (exact with %V+%u below)
    else:
        year = np.full(n, 1970, dtype=np.int64)

    month = colnum(FT.MONTH_NUM)
    if month is not None:
        month = month.fillna(1).to_numpy(dtype=np.int64)
    else:
        mab, mfl = col(FT.MONTH_ABBR), col(FT.MONTH_FULL)
        if mab is not None:
            month = mab.str.lower().str[:3].map(
                {name: i + 1 for i, name in enumerate(_MONTH_ABBR)}
            )
            invalid |= matched.to_numpy(dtype=bool) & month.isna().to_numpy()
            month = month.fillna(1).to_numpy(dtype=np.int64)
        elif mfl is not None:
            month = mfl.str.lower().map(
                {name: i + 1 for i, name in enumerate(_MONTH_FULL)}
            )
            invalid |= matched.to_numpy(dtype=bool) & month.isna().to_numpy()
            month = month.fillna(1).to_numpy(dtype=np.int64)
        else:
            month = np.ones(n, dtype=np.int64)

    dayn = colnum(FT.DAY_NUM)
    day = dayn.fillna(1).to_numpy(dtype=np.int64) if dayn is not None else np.ones(n, dtype=np.int64)

    doyn = colnum(FT.DOY)
    wkn, wdn = colnum(FT.WEEK), colnum(FT.WDAY)
    no_month = col(FT.MONTH_NUM) is None and col(FT.MONTH_ABBR) is None and col(FT.MONTH_FULL) is None
    if gyear is not None and wkn is not None and wdn is not None and y4 is None and y2 is None and no_month:
        # full ISO week date %G-%V-%u (week 1 contains Jan 4; %u: 1=Mon)
        jan4 = _np_days_from_civil(gyear, np.ones(n, dtype=np.int64), np.full(n, 4, dtype=np.int64))
        dow_jan4 = (jan4 + 3) % 7 + 1
        week1_mon = jan4 - (dow_jan4 - 1)
        wkv = wkn.fillna(0).to_numpy(dtype=np.int64)
        wdv = wdn.fillna(0).to_numpy(dtype=np.int64)
        days = week1_mon + (wkv - 1) * 7 + (wdv - 1)
        invalid |= (wkv < 1) | (wkv > 53) | (wdv < 1) | (wdv > 7)
    elif doyn is not None and no_month:
        doyv = doyn.fillna(1).to_numpy(dtype=np.int64)
        days = _np_days_from_civil(year, np.ones(n, dtype=np.int64), np.ones(n, dtype=np.int64)) + doyv - 1
        invalid |= (doyv < 1) | (doyv > 366)
    else:
        days = _np_days_from_civil(year, month, day)
        leap = ((year % 4 == 0) & (year % 100 != 0)) | (year % 400 == 0)
        dim = np.where(
            np.isin(month, (1, 3, 5, 7, 8, 10, 12)),
            31,
            np.where(np.isin(month, (4, 6, 9, 11)), 30, np.where(leap, 29, 28)),
        )
        invalid |= (month < 1) | (month > 12) | (day < 1) | (day > dim)

    h24, h12 = colnum(FT.H24), colnum(FT.H12)
    h24c, h11 = colnum(FT.H24C), colnum(FT.H11)
    ampm = col(FT.AMPM)
    pm = (
        ampm.str.strip().str.lower().str.startswith("p").fillna(False).to_numpy(dtype=bool)
        if ampm is not None
        else np.zeros(n, dtype=bool)
    )
    if h24 is not None:
        hour = h24.fillna(0).to_numpy(dtype=np.int64)
        invalid |= (hour < 0) | (hour > 23)
    elif h24c is not None:
        v = h24c.fillna(0).to_numpy(dtype=np.int64)  # clockhour 1-24, 24=midnight
        invalid |= (v < 1) | (v > 24)
        hour = v % 24
    elif h12 is not None:
        h = h12.fillna(0).to_numpy(dtype=np.int64)
        invalid |= (h < 1) | (h > 12)
        hour = h % 12 + np.where(pm, 12, 0)
    elif h11 is not None:
        v = h11.fillna(0).to_numpy(dtype=np.int64)  # hour-of-halfday 0-11
        invalid |= (v < 0) | (v > 11)
        hour = v + np.where(pm, 12, 0)
    else:
        hour = np.zeros(n, dtype=np.int64)

    mi, se = colnum(FT.MINUTE), colnum(FT.SECOND)
    minute = mi.fillna(0).to_numpy(dtype=np.int64) if mi is not None else np.zeros(n, dtype=np.int64)
    second = se.fillna(0).to_numpy(dtype=np.int64) if se is not None else np.zeros(n, dtype=np.int64)
    invalid |= (minute < 0) | (minute > 59) | (second < 0) | (second > 60)

    naive_sec = days * 86400 + hour * 3600 + minute * 60 + second

    zg = col(FT.TZOFF)
    if zg is None:
        zg = col(FT.TZNAME)
    if zg is not None:
        off = _np_offset_seconds(zg)
        invalid |= np.isnan(off)
        utc_sec = naive_sec - np.nan_to_num(off).astype(np.int64)
    else:
        utc_sec = _np_apply_from_tz(naive_sec, from_tz)

    # exact int64-nanos bound (the numpy twin of the Catalyst
    # try_multiply/try_add nulls — silent int64 wrap otherwise); every
    # accepted sec satisfies |sec·1e9| ≤ int64max − frac, so the direct
    # product cannot wrap
    over = _nanos_overflow(utc_sec, frac_nanos)
    safe = np.where(over, 0, utc_sec)
    nanos = safe * 1_000_000_000 + frac_nanos
    return nanos, invalid | over


def _nanos_overflow(sec, frac_nanos):
    """True where Catalyst's try_add(try_multiply(sec, 1e9), frac) NULLs
    (frac ∈ [0, 1e9)) — the exact twin of the Catalyst side, INCLUDING
    its multiply-first semantics: sec = −9223372037 is rejected outright
    (its product leaves int64 before try_add could bring the sum back in
    range), even though instants in [int64min, int64min + 145224192 ns)
    are representable. Both engines therefore agree on the whole domain."""
    return (
        (sec > 9223372036)
        | ((sec == 9223372036) & (frac_nanos > 854775807))
        | (sec < -9223372036)
    )


def _np_apply_from_tz(naive_sec: np.ndarray, from_tz: str) -> np.ndarray:
    off = _fixed_offset_seconds(from_tz)
    if off is not None:
        return naive_sec - off
    # DST zone: localize wall-clock seconds via pandas/zoneinfo
    # clip into the pandas Timestamp span for the localize call; clipped
    # rows pass their huge wall value through unconverted, which the
    # caller's _nanos_overflow check then flags invalid
    safe = np.clip(naive_sec, -9_223_372_035, 9_223_372_035)
    idx = pd.DatetimeIndex(safe.astype("datetime64[s]"))
    # PEP-495 fold=0 semantics to match the Catalyst/Joda side: a wall
    # time inside a spring-forward gap takes the PRE-gap offset.
    # shift_backward lands on the last valid wall second; adding the
    # shifted-away delta back reconstructs the fold=0 instant (delta = 0
    # for every normal wall time). ambiguous=True picks the first
    # (DST) occurrence of fall-back duplicates, as Spark does.
    loc = idx.tz_localize(from_tz, ambiguous=True, nonexistent="shift_backward")
    # asi8 is in the index's OWN resolution — seconds here, NOT nanos
    wall = loc.tz_localize(None).asi8.astype(np.int64)
    utc = (loc.tz_convert("UTC").asi8 + (safe - wall)).astype(np.int64)
    return np.where(np.abs(naive_sec) > 9_223_372_035, naive_sec, utc)


def np_parse(s: pd.Series, pfs: list[ParsedFormat], from_tz: str) -> tuple[np.ndarray, np.ndarray]:
    """Multi-format cascade → (epoch-nanos int64, valid bool mask).

    Vectorized fallback: parse everything with format 1, re-parse only the
    still-invalid remainder with format 2, etc. (strictly better than the
    reference's per-row loop, same first-match-wins semantics).
    """
    n = len(s)
    out = np.zeros(n, dtype=np.int64)
    valid = np.zeros(n, dtype=bool)
    isnull = s.isna().to_numpy(dtype=bool)
    remaining = ~isnull
    for pf in pfs:
        if not remaining.any():
            break
        sub = s[remaining]
        nanos, invalid = np_parse_format(sub, pf, from_tz)
        ok = ~invalid
        ridx = np.flatnonzero(remaining)
        hit = ridx[ok]
        out[hit] = nanos[ok]
        valid[hit] = True
        remaining[hit] = False
    return out, valid


# ---------------------------------------------------------------------------
# public facade
# ---------------------------------------------------------------------------


class TimestampParserPlan:
    """Per-column parse plan: format list + from_timezone, compiled once
    (the analog of the reference's per-task parser cache,
    ColumnCaster.java:37-58)."""

    def __init__(
        self,
        formats: list[str],
        from_timezone: str = "UTC",
        parser_mode: str = "auto",
    ):
        if not formats:
            raise ValueError("format list must not be empty")
        # mixed-dialect lists: the reference tries ONLY the jruby parsers
        # when any ruby-dialect format is present (TimestampParser.parse —
        # java formats in a mixed list are silently ignored); mirror that
        # before any auto_java conversion.
        if any("%" in f for f in formats):
            formats = [f for f in formats if "%" in f]
        # the formats the reference tries, in order; formats[i] below is
        # configured[i] after any auto_java lowering
        self.configured = list(formats)
        if parser_mode == "auto_java":
            # dialect lowering: ruby formats converted to Joda (keeping ruby
            # on failed conversion), which CHANGES semantics to the java
            # parser's (milli truncation / nnnnnnnnn nano hack) — parity
            # with ColumnCaster.getTimestampParser (ColumnCaster.java:76-90)
            formats = [
                (FT.ruby_to_java_format(f) or f) if "%" in f else f for f in formats
            ]
        self.formats = list(formats)
        self.from_timezone = from_timezone
        self.parsed = [FT.parse_format(f) for f in formats]

    def parse_expr(self, col: Column) -> Column:
        """Catalyst cascade → epoch-nanos (long) or NULL.

        Single-expression form. Correct for any format count, but for
        MULTI-format plans the inline ``coalesce`` is the slow path:
        children 2..k of Coalesce are conditionally evaluated, where
        Catalyst's subexpression elimination does not apply, so every
        field reference of a later format re-executes that format's
        whole regex extraction (~15× the regex work per row). Hot paths
        should stage per-format columns instead — see ``parse_df`` /
        ``format_exprs`` + ``cascade_from_staged``."""
        exprs = self.format_exprs(col)
        return exprs[0] if len(exprs) == 1 else F.coalesce(*exprs)

    def format_exprs(self, col: Column) -> list[Column]:
        """One epoch-nanos expr PER format (NULL on mismatch/invalid) —
        stage these as intermediate projection columns, then combine
        with ``cascade_from_staged``."""
        return [format_parse_expr(col, pf, self.from_timezone) for pf in self.parsed]

    def staged_stages(
        self, col: Column, tag: str, fast: "bool | None" = None
    ) -> "tuple[list[dict[str, Column]], list[str]]":
        """The hot-path projection staging: returns (stages, pf_names)
        where each stage is a dict of columns to append in its own
        successive ``select`` (the source columns must be passed
        through), and pf_names are the final per-format epoch-nanos
        columns (combine with ``cascade_from_staged``, or reference
        directly for one format).

        ``fast=None`` (auto) engages the fixed-width fast path only when
        the session is UTC (the native kernel parses in the session
        zone) AND — for MULTI-format cascades — whole-stage codegen is
        OFF at build time (under WSCG the 4 projections fuse into one
        JIT-hostile class — see ``_wscg_enabled``; the CDC batch body
        runs WSCG-off, so it gets the fast shape automatically). A
        SINGLE fast-eligible format takes the one-projection shape below
        under either codegen mode. Otherwise the r03 regex shapes are
        emitted: one stage holding every format's self-contained parse
        expression (single-format callers collapse to one projection via
        CollapseProject).

        SINGLE fast-eligible format — ONE projection,
        ``coalesce(fast, inline-regex)``: with no cascade to gate there
        is nothing to stage — the native fast expr is coalesce's first
        child (unconditional, evaluated once) and the self-contained
        regex engine its second (conditional: EXECUTES only for rows
        the fast layout rejects). Cuts the aligned-feed cost from four
        UnsafeRow materialization passes to one — measured 559k → >700k
        rows/s at local[1] on the bench shape (BENCH/BASELINE.md round
        5). The trade, on purpose: a misaligned-HEAVY feed pays the
        conditional-context CSE defeat (~#fields regex runs per slow
        row vs one in the staged shape) — the right polarity for hot
        CDC feeds, where alignment is the norm and stragglers are rare.

        With the fast path, per format the stages are:

        1. ``__ft`` — regex-free nanos (fast-eligible formats only; NULL
           unless the row exactly fits the fixed-width layout — native
           civil kernel, shared frac/zone assembly — instant-identical
           to the regex engine where non-NULL);
        2. ``__mk`` — the regex extraction, gated on EVERY fast column
           up to and including this format being NULL: a row the fast
           path of format j ≤ i already parsed never executes format
           i's regex (first-match-wins makes later formats irrelevant).
           On an all-fast-matching feed (the CDC binlog) NO regex
           executes at all;
        3. ``__pt`` — the split field array (its OWN stage: referenced
           once per field by stage 4, and conditional-context CSE would
           otherwise re-run the split per reference);
        4. ``__pf`` — ``coalesce(__ft, <regex assembly over __mk/__pt>)``
           (just the regex assembly for ineligible formats).

        Each staged column is non-cheap and/or multiply referenced, so
        CollapseProject keeps every stage (the same discipline as
        ``cascade_from_staged``).
        """
        single_layout = (
            fast_layout(self.parsed[0]) if len(self.parsed) == 1 else None
        )
        if fast is None:
            fast = _utc_session_active() and (
                not _wscg_enabled() or single_layout is not None
            )
        if not fast:
            # r06: staged regex shape for the WSCG-on / non-UTC path too.
            # The old one-projection form inlined each format's SELF-
            # CONTAINED parse expression, whose field references sit in
            # conditional contexts where subexpression elimination does
            # not apply — the regex re-executed per field reference
            # (~#fields× per row, ~12 regex runs/row for the 2-format
            # cascade: measured 23.8 s at sf1.0). Staging mk (one
            # regexp_replace) and pt (one split) per format runs each
            # format's regex AT MOST once per row, and gating format i's
            # mk on formats j<i having assembled NULL skips later
            # formats for already-parsed rows (first-match-wins makes
            # them irrelevant — same gating discipline as the fast
            # shape's ft gate, only keyed on the assembled __pf columns).
            stages = []
            names = []
            prev: list[str] = []
            for i, pf in enumerate(self.parsed):
                name, mk, pt = (
                    f"__pf{i}__{tag}", f"__mk{i}__{tag}", f"__pt{i}__{tag}"
                )
                pattern, flds = build_regex(pf)
                repl = _MARK + _SEP.join(f"${j + 1}" for j in range(len(flds)))
                regex = F.regexp_replace(col, pattern, repl)
                gate = None
                for p in prev:
                    g = F.col(p).isNull()
                    gate = g if gate is None else gate & g
                stages.append({mk: regex if gate is None else F.when(gate, regex)})
                stages.append(
                    {pt: F.split(F.substring(F.col(mk), 2, 1_000_000), _SEP, -1)}
                )
                stages.append(
                    {
                        name: format_parse_expr(
                            col, pf, self.from_timezone,
                            staged=(F.col(mk), F.col(pt)),
                        )
                    }
                )
                names.append(name)
                prev.append(name)
            return stages, names
        if single_layout is not None:
            name = f"__pf0__{tag}"
            ft = format_parse_expr(
                col, self.parsed[0], self.from_timezone, fast=single_layout
            )
            slow = format_parse_expr(col, self.parsed[0], self.from_timezone)
            return [{name: F.coalesce(ft, slow)}], [name]
        stages: list[dict[str, Column]] = [{}, {}, {}, {}]
        names: list[str] = []
        ft_so_far: list[str] = []
        for i, pf in enumerate(self.parsed):
            name = f"__pf{i}__{tag}"
            names.append(name)
            layout = fast_layout(pf)
            ft, mk, pt = f"__ft{i}__{tag}", f"__mk{i}__{tag}", f"__pt{i}__{tag}"
            pattern, fields = build_regex(pf)
            repl = _MARK + _SEP.join(f"${j + 1}" for j in range(len(fields)))
            if layout is not None:
                stages[0][ft] = format_parse_expr(
                    col, pf, self.from_timezone, fast=layout
                )
                ft_so_far.append(ft)
            gate = None
            for f_col in ft_so_far:
                g = F.col(f_col).isNull()
                gate = g if gate is None else gate & g
            regex = F.regexp_replace(col, pattern, repl)
            stages[1][mk] = regex if gate is None else F.when(gate, regex)
            stages[2][pt] = F.split(F.substring(F.col(mk), 2, 1_000_000), _SEP, -1)
            slow = format_parse_expr(
                col, pf, self.from_timezone, staged=(F.col(mk), F.col(pt))
            )
            stages[3][name] = (
                F.coalesce(F.col(ft), slow) if layout is not None else slow
            )
        return [s for s in stages if s], names

    def cascade_from_staged(self, staged: list[Column]) -> Column:
        """First-match-wins cascade over per-format nanos columns that
        were staged in a SEPARATE select (same order semantics as the
        reference, TimestampParser.java:101-121). Each staged column is
        referenced TWICE (null test + value) on purpose: a non-cheap
        projection output referenced more than once is never re-inlined
        by CollapseProject, so the parse trees stay in their own
        unconditional projection where subexpression elimination works —
        the fix for the conditional-context CSE defeat of the inline
        coalesce cascade."""
        out = None
        for c in staged:
            out = F.when(c.isNotNull(), c) if out is None else out.when(c.isNotNull(), c)
        return out.otherwise(F.lit(None).cast("long"))

    def parse_df(self, df, col, out: str, fast: "bool | None" = None):
        """Staged parse: returns ``df`` with ``out`` (epoch-nanos long,
        NULL on total parse failure) appended — THE way to parse on a
        hot path. Each format's regex extraction runs AT MOST once per
        row; with whole-stage codegen off and a UTC session (the CDC
        batch config) fixed-width rows additionally skip the regex
        entirely via the native fast path (``fast=None`` auto-detects;
        see ``staged_stages``)."""
        c = F.col(col) if isinstance(col, str) else col
        stages, names = self.staged_stages(c, out, fast=fast)
        cur = df
        for s in stages:
            cur = cur.select("*", *[e.alias(n) for n, e in s.items()])
        final = (
            F.col(names[0])
            if len(names) == 1
            else self.cascade_from_staged([F.col(n) for n in names])
        )
        return cur.select(*[F.col(n) for n in df.columns], final.alias(out))

    def parse_np(self, s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        return np_parse(s, self.parsed, self.from_timezone)
