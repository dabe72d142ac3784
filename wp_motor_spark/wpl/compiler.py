"""WPL AST -> Spark extraction plan.

Design (SURVEY.md §2.3-2.4, §7): each rule compiles to ONE anchored Java
regex. Extraction is a single regex pass per row:

    parts = split(regexp_replace(value, pattern, "$1\\x01$2\\x01..."), "\\x01")

then per-field typed casts over ``parts[i]`` — all JVM-side, whole-stage
codegen, no UDFs, map-only (no shuffle): safe at any scale. This replaces the
reference's winnow combinator VM (crates/wp-lang/src/eval/value/parser/) with
the idiomatic-Spark equivalent of how one parses CLF logs.

Multi-rule dispatch mirrors src/core/parser/wpl_engine/parser.rs:26-114:
first-match-wins rule cascade, miss routing, and the ≤20%-tail residue rule
(parser.rs:55-79). Dispositions: success / partial / miss / blank.

Non-participating regex groups substitute as '' in Java replacement, so
alt/opt groups degrade to empty -> null after cast (verified behavior).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

import pandas as pd  # noqa: F401 — pandas_udf type-hint resolution
from pyspark.sql import Column, DataFrame, functions as F

from wp_motor_spark.wpl.ast import FunCall, WplField, WplGroup, WplRule, WplSubfield
from wp_motor_spark.wpl.parser import parse_wpl
from wp_motor_spark.wpl.preproc import apply_preprocs

DELIM = "\x01"
PAIR_DELIM = "\x02"


def _no_pushdown(c: Column) -> Column:
    """Value-identity wrapper that Catalyst treats as nondeterministic:
    ``shuffle`` of a 1-element array always yields that element, but its
    nondeterministic flag stops PushPredicateThroughNonJoin from
    substituting the wrapped expression into filters below the projection
    (the optimization guide's §4.4 duplicated-evaluation pathology, JVM
    expression edition). Without it, a ``_disposition == 'success'``
    filter above ``extract()`` is rewritten in terms of the tokenizing
    regex and pushed to the parquet scan stage — re-running the full
    parse 3-4x per row in whatever (possibly single-partition) layout the
    scan has, while the materialized ``__parts`` projection runs it once
    post-spread. Measured on wpl_parse_clf at sf0.1: the pushed copy was
    the whole remaining single-threaded stage after the spread-scan
    change. operators/dedup wraps its shingle-hash column the same way:
    an inferred ``size(__sh) > 0`` filter pushed below the projection
    re-ran the shingle tokenizer per row (4x on ngram_jaccard_dups)."""
    return F.shuffle(F.array(c)).getItem(0)

# Residue acceptance threshold: unparsed tail <= 20% of line is "partial"
# (reference: src/core/parser/wpl_engine/parser.rs:55-79).
RESIDUE_FRAC = 0.2

_WS = r"\s+"
# kv/kvarr key charset = take_kv_key (crates/wp-lang/src/parser/utils.rs:52-61,
# CHANGELOG v1.17.2 "kv/kvarr key 解析支持括号类字符"): word chars plus . / -
# and the bracket family ()<>[]{} — keys like http/request (utils.rs:514-518),
# fn(arg), list<int>, arr[0] (kvarr.rs test_kvarr_bracket_keys). Subfield
# @refs go through the WPL grammar's take_key, a narrower reference charset
# handled in parser.py — keep the two distinct.
_KEYCLS = r"[\w./\-()<>\[\]{}]"
# unrolled-loop quoted strings with possessive quantifiers (java regex):
# linear scan, no alternation-per-char backtracking — the naive
# (?:[^"\\]|\\.)* form cost wpl_kv_parse ~+50%. quot_str (utils.rs:107-148)
# accepts DOUBLE or SINGLE quotes; both span separators.
_DQ_RX = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'
_SQ_RX = r"'[^'\\]*+(?:\\.[^'\\]*+)*+'"


def _interval_rx() -> str:
    """Bracketed value span per interval_data (utils.rs:118-122,
    interval_impl:193-255): a kv value opening with [ ( { or < runs to the
    matching close, CROSSING separators, quote- and escape-aware. The regex
    keeps one flat level (the reference nests arbitrarily via a stack);
    brackets inside quoted sections are consumed atomically like the
    reference's quote fast-forward."""
    alts = []
    for b, ecls in ((r"\[", r"\]"), (r"\(", r")"), (r"\{", r"}"), ("<", ">")):
        close = ecls if ecls.startswith("\\") else re.escape(ecls)
        inner = (
            "(?:" + _DQ_RX + "|" + _SQ_RX + r"|\\." + "|[^" + ecls + "\\\\\"'])*"
        )
        alts.append(b + inner + close)
    return "(?:" + "|".join(alts) + ")"


@dataclass
class FieldOutput:
    group: int  # 1-based regex group index
    name: str
    dtype: str
    quoted: bool = False  # regex can match empty (quoted/scope fmt) -> keep ''
    kv_run: bool = False  # group holds a whole run of k=v pairs
    kv_sep: str | None = None  # regex splitting pairs inside a kv run
    pipes: list[FunCall] = dc_field(default_factory=list)
    subfields: list[WplSubfield] = dc_field(default_factory=list)
    # decode-then-subparse (`base64 | (chars:x)`, protocol/base64.rs):
    decode: str | None = None  # "base64" | "hex"
    sub_pattern: str | None = None  # anchored regex over the decoded text
    sub_ngroups: int = 0
    sub_outputs: list["FieldOutput"] = dc_field(default_factory=list)
    # kvarr runs: pair regex with (key)(value) groups, the SAME shape the
    # run regex matched — the map build re-extracts pairs with it so
    # quoted/bracketed values spanning the separator stay intact
    kv_pair_rx: str | None = None


class WplCompileError(ValueError):
    pass


# ---------------------------------------------------------------- fragments

# month names are VALIDATED in the match, not just cast-checked: the
# reference's fast_apache_dt (time/common.rs:55) and month_patten
# (time/rfc.rs:135) both reject unknown 3-letter tokens case-sensitively,
# so a line with a fake month must MISS the rule, not parse-with-NULL
_MONTH_RX = r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"

_TIME_PATTERNS: list[tuple[str, str]] = [
    # (regex fragment, spark datetime format or special key)
    (r"\d{4}-\d{1,2}-\d{1,2}[ T]\d{1,2}:\d{1,2}:\d{1,2}\.\d+(?:Z|[+-]\d{2}:?\d{2})?", "iso_frac"),
    (r"\d{4}-\d{1,2}-\d{1,2}[ T]\d{1,2}:\d{1,2}:\d{1,2}(?:Z|[+-]\d{2}:?\d{2})?", "iso"),
    (r"\d{4}/\d{1,2}/\d{1,2} \d{1,2}:\d{1,2}:\d{1,2}", "slash"),
    (_MONTH_RX + r" +\d{1,2} \d{4} \d{2}:\d{2}:\d{2}", "syslog_year"),
    (_MONTH_RX + r" +\d{1,2} \d{2}:\d{2}:\d{2}", "syslog"),
    (r"\d{2}/" + _MONTH_RX + r"/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}", "clf"),
]

_TIME_AUTO_RE = "(?:" + "|".join(p for p, _ in _TIME_PATTERNS) + ")"

_IP_RE = r"(?:\d{1,3}(?:\.\d{1,3}){3}|(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4})"


# Shortcut separators (wpl_sep.rs:59-66): \0/0 = end-of-line (field takes
# the rest), \s/s = space, \t/t = tab, \S/S = space-or-tab. The parser
# stores the bare letter; both regex builders normalize here.


def _neg_class(sep: str | None) -> str:
    """Character class matching anything but the separator (first char)."""
    if sep == "0":
        return r"[^\n]"  # End sep: the field takes the whole rest of line
    if sep == "S":
        return r"[^ \t]"
    if sep in ("t", "\t"):
        return r"[^\t]"  # TSV fields may contain spaces
    if sep == "s":
        sep = " "
    if sep is None or sep.strip() == "" or sep == _WS:
        return r"[^\s]"
    return "[^" + re.escape(sep[0]) + "]"


def _sep_regex(sep_lit: str | None, pattern_sep: str | None) -> str:
    if pattern_sep is not None:
        return _compile_pattern_sep(pattern_sep)
    if sep_lit is None:
        return _WS
    if sep_lit == "0":
        return r"$"  # End sep: nothing to consume
    if sep_lit == "S":
        # one space-or-tab; the reference's next-field multispace0 strip
        # collapses runs, so match the run here
        return r"[ \t]+"
    if sep_lit in ("t", "\t"):
        # exact tab + the leading-whitespace strip of the next field
        return r"\t[ \t]*"
    if sep_lit == "s":
        sep_lit = " "
    if sep_lit.strip() == "":
        return _WS
    # literal separators tolerate surrounding whitespace ("k=v, k=v")
    return r"\s*" + re.escape(sep_lit) + r"\s*"


def _compile_pattern_sep(content: str, _in_preserve: bool = False) -> str:
    """Pattern separator {glob} -> regex (ast/syntax/sep_pattern.rs).

    '*' non-greedy arbitrary chars (INCLUDING newlines — the reference
    matcher is byte-arbitrary, test_match_star_newline; at most ONE per
    body, test_err_multi_star), '?' one arbitrary char, macros \\s \\S
    \\h \\H \\0 \\n \\t \\r, unknown escapes are literals
    (test_unknown_escape_as_literal), trailing preserve group (...) ->
    lookahead (match, don't consume; must sit at the very END,
    test_err_preserve_not_end — split_preserve only recognizes an
    unescaped ')' as the last char).
    """
    out: list[str] = []
    i = 0
    n = len(content)
    stars = 0
    while i < n:
        ch = content[i]
        if ch == "\\" and i + 1 < n:
            nxt = content[i + 1]
            macro = {
                "s": r"[ \t\r\n]+",
                "S": r"[^ \t\r\n]+",
                "h": r"[ \t]+",
                "H": r"[^ \t]+",
                "0": r"\x00",
                "n": r"\n",
                "t": r"\t",
                "r": r"\r",
            }
            out.append(macro.get(nxt, re.escape(nxt)))
            i += 2
        elif ch == "*":
            stars += 1
            if stars > 1:
                raise WplCompileError(
                    f"sep pattern error: at most one * allowed in {{{content}}}"
                )
            out.append(r"[\s\S]*?")
            i += 1
        elif ch == "?":
            out.append(r"[\s\S]")
            i += 1
        elif ch == "(" and not _in_preserve:
            end = content.rfind(")")
            if end != n - 1:
                raise WplCompileError(
                    "sep pattern error: preserve (...) must end the "
                    f"pattern in {{{content}}}"
                )
            inner = _compile_pattern_sep(content[i + 1 : end], _in_preserve=True)
            out.append(f"(?={inner})")
            i = end + 1
        else:
            out.append(re.escape(ch))
            i += 1
    return "".join(out)


def _content_regex(dtype: str, sep: str | None, length: int | None) -> str:
    """Regex fragment (uncaptured) for one field's content."""
    ncls = _neg_class(sep)
    if length is not None:
        return ".*" if length == 0 else ".{1,%d}" % length
    table = {
        "ip": _IP_RE,
        "ip_net": r"\d{1,3}(?:\.\d{1,3}){3}/\d{1,2}",
        "digit": r"[+-]?\d+",
        "port": r"\d{1,5}",
        "http/status": r"\d{3}",
        "float": r"[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?",
        "bool": r"(?i:true|false)",
        # base/hex.rs:24 — optional case-insensitive 0x prefix
        "hex": r"(?:0[xX])?[0-9A-Fa-f]+",
        # network/domain.rs: labels start/end alphanumeric, total <= 67
        # chars (the lookahead caps the run — in a separator-bounded token
        # the whole run must match, so it bounds the token itself)
        "domain": (
            r"(?![A-Za-z0-9.-]{68})"
            r"(?:[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+[A-Za-z]{2,11}"
        ),
        "email": r"[^@\s]+@[^@\s]+\.[A-Za-z]{2,11}",
        "url": r"[A-Za-z][A-Za-z0-9+.-]*://" + ncls + "+",
        "time": _TIME_AUTO_RE,
        "time/clf": r"\d{2}/" + _MONTH_RX + r"/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
        "time_iso": r"\d{4}-\d{1,2}-\d{1,2}[ T]\d{1,2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
        "time_3339": r"\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:[Zz]|[+-]\d{2}:\d{2})",
        "time_2822": r"(?:[A-Z][a-z]{2}, )?\d{1,2} [A-Z][a-z]{2} \d{4} \d{2}:\d{2}:\d{2} (?:[+-]\d{4}|[A-Z]{2,4})",
        "time_timestamp": r"\d{10}(?:\d{3}){0,2}",
        # http.rs RequestP: method must be in the fixed set ("GETX" fails),
        # protocol is the literal "HTTP/" + dotted version, separators are
        # multispace1 (double spaces accepted — the typed-cast fast path
        # already falls back to a regex split for those)
        "http/request": (
            r"(?:GET|PUT|POST|DELETE|HEAD|OPTIONS|PATCH|TRACE|CONNECT)"
            r"\s+\S+\s+HTTP/\d+(?:\.\d+)*"
        ),
        "http/method": r"(?:GET|POST|PUT|DELETE|HEAD|OPTIONS|PATCH|TRACE|CONNECT)",
        # [\s\S] not '.': the serde reader spans newlines (json.rs
        # LONG_DATA is pretty-printed multi-line; test_json_tianyan*)
        "json": r"\{[\s\S]*\}|\[[\s\S]*\]",
        "exact_json": r"\{[\s\S]*\}|\[[\s\S]*\]",
        "mobile_phone": r"1[3-9]\d{9}",
        "id_card": r"\d{17}[\dXx]|\d{15}",
    }
    if dtype in table:
        return table[dtype]
    if dtype.startswith("array"):
        # quoted elements may contain ']' and escaped quotes
        # (protocol/array.rs: ["_F]fe", "!@#$*&^\"123"]) — consume quoted
        # spans atomically, lazy-anything otherwise
        return r"\[(?:\"(?:[^\"\\]|\\.)*\"|[^\]\"])*\]"
    # chars / sn / symbol-ish / auto / agent / obj / kv-handled-elsewhere
    return ncls + "+"


# ---------------------------------------------------------------- compiler


class _Ctx:
    def __init__(self) -> None:
        self.parts: list[str] = []
        self.group_idx = 0
        self.outputs: list[FieldOutput] = []
        self.pending_sep: str | None = None  # regex to emit before next field
        # separator declared by the most recent field (field > group > default)
        self.next_sep: str | None = None
        # previous field self-delimits (scope/quote fmt or symbol) -> the
        # separator before the next field becomes optional ("<188>May ...")
        self.last_self_delim: bool = False
        # previous field was zero-width (peek_symbol) -> the separator
        # before the next field is dropped entirely
        self.suppress_next_sep: bool = False
        # the LAST field's effective separator when need_take_sep() —
        # appended by compile_rule as an optional trailing consume
        # (mechanism.rs try_consume_sep after the final field)
        self.trailing_sep_rx: str | None = None


def _mark_tail_field(groups: list[WplGroup]) -> None:
    """Mark the rule's final field: a trailing bare chars/auto consumes to
    end-of-input (the reference's chars parser takes the rest when no
    separator follows)."""
    node = None
    items: list = list(groups)
    while items:
        last = items[-1]
        if isinstance(last, WplGroup):
            if last.meta != "seq":
                break
            items = last.items
            continue
        node = last
        break
    if (
        node is not None
        and node.dtype in ("chars", "auto", "sn", "proto_text")
        and node.fmt is None
        and node.length is None
        and node.sep is None
        and node.pattern_sep is None
    ):
        node._is_tail = True


def compile_rule(rule: WplRule) -> "CompiledRule":
    ctx = _Ctx()
    default_sep = _WS
    _mark_tail_field(rule.groups)
    for gi, grp in enumerate(rule.groups):
        if gi > 0:
            ctx.pending_sep = default_sep
        _emit_group(ctx, grp, None, None)
    ctx.group_idx += 1
    residue_group = ctx.group_idx
    # leading \s*: the reference skips multispace0 before EVERY field
    # (mechanism.rs blanket parse), so a line starting with whitespace
    # before its first field still matches (eval/mod_test.rs test_suc_2:
    # ' "聊城市", 36.4837, ...')
    # optional trailing separator after the LAST field (mechanism.rs:97-99
    # try_consume_sep — see _emit_field); without it a counted repeat at
    # the rule end leaves the separator in the residue
    trail = f"(?:{ctx.trailing_sep_rx})?" if ctx.trailing_sep_rx else ""
    pattern = r"^\s*" + "".join(ctx.parts) + trail + r"(.*)$"
    _dedupe_names(ctx.outputs)
    return CompiledRule(rule, pattern, ctx.group_idx, ctx.outputs, residue_group)


def _dedupe_names(outputs: list[FieldOutput]) -> None:
    seen: dict[str, int] = {}
    # single-kv fields all merge into ONE map column; reserve its name once
    merged_kv = [o for o in outputs if o.dtype == "kv" and not o.kv_run]
    if merged_kv:
        named = [o.name for o in merged_kv if o.name != "kv"]
        seen[named[0] if named else "kv"] = 1
    flat: list[FieldOutput] = []
    for o in outputs:
        flat.extend(o.sub_outputs if o.sub_pattern is not None else [o])
    for o in flat:
        if o.dtype == "kv" and not o.kv_run:
            continue
        n = seen.get(o.name, 0) + 1
        seen[o.name] = n
        if n > 1:
            o.name = f"{o.name}_{n}"


def _emit_group(ctx: _Ctx, grp: WplGroup, parent_sep: str | None, parent_pat: str | None) -> None:
    # group's own separator applies between its fields (field > group > upstream)
    gsep_lit = grp.sep if grp.sep is not None else parent_sep
    gsep_pat = grp.pattern_sep if grp.pattern_sep is not None else parent_pat

    if grp.meta in ("opt", "not", "alt", "some_of"):
        sub = _Ctx()
        sub.group_idx = ctx.group_idx
        if grp.meta == "alt":
            branches = []
            for item in grp.items:
                b = _Ctx()
                b.group_idx = sub.group_idx
                _emit_item(b, item, gsep_lit, gsep_pat)
                sub.group_idx = b.group_idx
                sub.outputs.extend(b.outputs)
                branches.append("".join(b.parts))
            body = "(?:" + "|".join(branches) + ")"
        elif grp.meta == "some_of":
            # greedy any-order loop (eval/runtime/group/some_of.rs:20-38):
            # repeatedly try every member in DECLARED order (alternation
            # order), consume on any success, stop when all members fail —
            # members may appear in any input order and any count. A
            # repeated member's capture group keeps the LAST occurrence
            # (the reference emits one DataField per occurrence; the
            # columnar schema keeps one column per member — documented
            # deviation). Zero matches is fine: the group never fails.
            alts = []
            for item in grp.items:
                b = _Ctx()
                b.group_idx = sub.group_idx
                _emit_item(b, item, gsep_lit, gsep_pat)
                sub.group_idx = b.group_idx
                sub.outputs.extend(b.outputs)
                alts.append("".join(b.parts))
            sep_rx = _sep_regex(gsep_lit, gsep_pat)
            body = f"(?:(?:{sep_rx})?(?:" + "|".join(alts) + "))*"
        else:  # opt / not / seq-in-group
            for i, item in enumerate(grp.items):
                if i > 0:
                    sub.pending_sep = _sep_regex(gsep_lit, gsep_pat)
                _emit_item(sub, item, gsep_lit, gsep_pat)
            inner = "".join(sub.parts)
            body = f"(?!{inner})" if grp.meta == "not" else f"(?:{inner})?"
        if ctx.suppress_next_sep:
            ctx.pending_sep = None
            ctx.suppress_next_sep = False
        if ctx.pending_sep:
            # mirror _flush_sep: after a self-delimiting item (symbol,
            # scope/quote fmt) the separator before this group is optional —
            # the reference's group members open with multispace0, so
            # 'CONTROL' directly followed by alt('-ALPHA','-BETA') matches
            # (processor.rs test_prefers_deepest_rule_on_miss)
            if grp.meta in ("opt", "some_of") or ctx.last_self_delim:
                sep = ctx.pending_sep
                body = (r"\s*" if sep == _WS else f"(?:{sep})?") + body
            else:
                body = f"(?:{ctx.pending_sep})" + body
            ctx.pending_sep = None
        ctx.parts.append(body)
        ctx.group_idx = sub.group_idx
        ctx.outputs.extend(sub.outputs)
        # an alt whose every branch ends self-delimiting (symbols, quoted
        # fields) leaves the next separator optional, like the field-level
        # rule; mixed/content branches keep the required separator
        ctx.last_self_delim = grp.meta == "alt" and all(
            (not isinstance(it, WplGroup))
            and (it.dtype in ("symbol", "peek_symbol") or it.fmt is not None)
            for it in grp.items
        )
        # opt/some_of can match EMPTY; the separator before the NEXT item
        # must then be optional (the reference's parsers take leading
        # multispace0, so an absent group never strands a required sep)
        if grp.meta in ("opt", "some_of"):
            ctx.last_self_delim = True
        # not() is ZERO-WIDTH (a lookahead): the next field matches at the
        # same position, so the inter-group separator must not be required
        # before it (group/not.rs test_not_with_peek_symbol: chars right
        # after not(peek_symbol(...)) reads from position 0)
        if grp.meta == "not":
            ctx.suppress_next_sep = True
        return

    # seq: the separator between item i-1 and i is item i-1's own declared
    # separator when present, else the group/default one (field > group).
    for i, item in enumerate(grp.items):
        if i > 0:
            ctx.pending_sep = ctx.next_sep or _sep_regex(gsep_lit, gsep_pat)
        _emit_item(ctx, item, gsep_lit, gsep_pat)


def _emit_item(ctx: _Ctx, item, sep_lit: str | None, sep_pat: str | None) -> None:
    if isinstance(item, WplGroup):
        _emit_group(ctx, item, sep_lit, sep_pat)
    else:
        _emit_field(ctx, item, sep_lit, sep_pat)


def _emit_field(ctx: _Ctx, fld: WplField, gsep_lit: str | None, gsep_pat: str | None) -> None:
    # effective separator AFTER this field: field's own > group's > whitespace
    sep_lit = fld.sep if fld.sep is not None else gsep_lit
    sep_pat = fld.pattern_sep if fld.pattern_sep is not None else gsep_pat
    eff_sep_rx = _sep_regex(sep_lit, sep_pat)

    n = fld.repeat
    if n is None:  # unbounded '*type'
        _emit_unbounded(ctx, fld, sep_lit, eff_sep_rx, sep_pat)
    else:
        for k in range(n):
            _emit_single(ctx, fld, sep_lit, eff_sep_rx, k, n, sep_pat)
    ctx.next_sep = eff_sep_rx if (fld.sep is not None or fld.pattern_sep is not None) else None
    # mechanism.rs:97-99 — after EVERY field read the reference runs
    # multispace0 + try_consume_sep when need_take_sep() (sep is neither
    # to-end nor a space). Between fields our lazy pending_sep emission is
    # equivalent, but at the END of the rule the trailing separator must
    # still be optionally consumed (vm_unit.rs test_ignore_cnt: '3*_\\,' on
    # '2345,...,9OPP,chars_740' leaves residue 'chars_740', NOT
    # ',chars_740'). Track the last field's effective sep here; compile_rule
    # appends it as an optional suffix before the residue group.
    need_take = not (
        sep_pat is None
        and (
            sep_lit in (None, "0", "s", " ", "S")
            or (sep_lit is not None and sep_lit.strip() == "")
        )
    )
    ctx.trailing_sep_rx = eff_sep_rx if need_take else None


def _flush_sep(ctx: _Ctx) -> None:
    if ctx.suppress_next_sep:
        ctx.pending_sep = None
        ctx.suppress_next_sep = False
    if ctx.pending_sep:
        sep = ctx.pending_sep
        if ctx.last_self_delim:
            sep = r"\s*" if sep == _WS else f"(?:{sep})?"
        ctx.parts.append(f"(?:{sep})" if not sep.endswith("?") and sep != r"\s*" else sep)
        ctx.pending_sep = None
    ctx.last_self_delim = False


def _default_name(fld: WplField) -> str:
    # unnamed fields take the type's name (reference:
    # crates/wp-lang/src/eval/value/parser/auto.rs:38)
    return (fld.name or fld.dtype).replace("/", "_")


def _emit_single(
    ctx: _Ctx,
    fld: WplField,
    sep_lit: str | None,
    sep_rx: str,
    k: int,
    n: int,
    sep_pat: str | None = None,
) -> None:
    dtype = fld.dtype
    if k > 0:
        ctx.pending_sep = sep_rx

    if dtype == "peek_symbol":
        _flush_sep(ctx)
        sym = re.escape(fld.symbol or "")
        if fld.name:  # a named peek CAPTURES the peeked text
            ctx.group_idx += 1
            ctx.parts.append(f"(?=({sym}))")
            ctx.outputs.append(
                FieldOutput(ctx.group_idx, fld.name, "chars", pipes=fld.pipes)
            )
        else:
            ctx.parts.append(f"(?={sym})")
        # zero-width: the NEXT field matches at the same position, so the
        # inter-field separator must not be required before it
        ctx.suppress_next_sep = True
        return
    if dtype == "symbol":
        _flush_sep(ctx)
        ctx.parts.append(re.escape(fld.symbol or ""))
        ctx.last_self_delim = True
        return

    if dtype == "kv":
        # keyval.rs pattern_parse: take_kv_key, multispace0, ':' OR '=',
        # then value. A subfield typed with a PATTERN-FIRST type whose
        # text can span the field separator (the time family: "2023-10-11
        # 11:30:26", "06/Aug/2019:... +0800") gets a key-specific typed
        # branch, so the value consumes type-first exactly like the
        # reference's sub_fpu parse; a '*'-ref typed subfield (the
        # WildMap default entry) extends the DEFAULT value branch the
        # same way. Exact-key branches come first (WildMap: exact before
        # wild).
        _flush_sep(ctx)
        ctx.group_idx += 1
        key_rx = _KEYCLS + "+"
        pair_sep = r"\s*[:=]\s*"
        # value_take (keyval.rs:59) tries QUOTED strings first — a quoted
        # value spans separators and escaped quotes (`time="... ..."`,
        # `dz="tr\"ust"`, single quotes per quot_str) for EVERY key; the
        # bare read-until-sep class is the fallback. Bracketed [array]
        # values span separators only for ARRAY-typed subfields (the array
        # sub_fpu consumes the whole [..]; a chars sub reads until the
        # separator) — handled as typed branches below.
        quoted_rx = _DQ_RX + "|" + _SQ_RX
        val_rx = (
            "(?:" + quoted_rx + "|" + _kv_bare_rx(sep_lit, sep_rx, sep_pat) + ")"
        )

        def _typed_body(sf) -> str | None:
            if sf.dtype.startswith("array"):
                # the array sub_fpu consumes all of [..]; quoted elements
                # may contain ']' (["_F]fe"]) — same quote-aware fragment
                # as _content_regex's field-level array
                trx = r"\[(?:" + _DQ_RX + r'|[^\]"])*\]'
            elif sf.dtype.startswith("time"):
                trx = _content_regex(sf.dtype, sep_lit, None)
            else:
                return None
            if sf.scope:
                trx = re.escape(sf.scope[0]) + trx + re.escape(sf.scope[1])
            return trx

        branches: list[str] = []
        star_bodies: list[str] = []
        for sf in fld.subfields:
            body = _typed_body(sf)
            if body is None:
                continue
            if sf.ref and sf.ref != "*":
                branches.append(re.escape(sf.ref) + pair_sep + body)
            else:
                star_bodies.append(body)
        default_val = (
            "(?:" + "|".join(star_bodies) + "|" + val_rx + ")"
            if star_bodies
            else val_rx
        )
        pair = key_rx + pair_sep + default_val
        if branches:
            pair = "(?:" + "|".join(branches + [pair]) + ")"
        ctx.parts.append(f"({pair})")
        ctx.outputs.append(
            FieldOutput(ctx.group_idx, fld.name or "kv", "kv", pipes=fld.pipes,
                        subfields=fld.subfields)
        )
        return

    if dtype == "kvarr":
        _flush_sep(ctx)
        ctx.group_idx += 1
        key_rx = _KEYCLS + "+"
        # take_value order (kvarr.rs:106-122): quoted strings first (double
        # OR single — quot_str), then a bracketed interval span
        # (interval_data: [..] (..) {..} <..> cross separators), then the
        # bare read-until-sep fallback. Quote/bracket stripping and escape
        # decoding happen in the map build (_typed_column), which re-uses
        # this exact pair shape via kv_pair_rx.
        pair_sep = r"\s*[:=]\s*"
        val_rx = (
            "(?:" + _DQ_RX + "|" + _SQ_RX + "|" + _interval_rx() + "|"
            + _kv_bare_rx(sep_lit, sep_rx, sep_pat) + ")"
        )
        pair = key_rx + pair_sep + val_rx
        run = f"({pair}(?:(?:{sep_rx}){pair})*)"
        ctx.parts.append(run)
        ctx.outputs.append(
            FieldOutput(
                ctx.group_idx,
                fld.name or "kvarr",
                "kvarr",
                kv_run=True,
                kv_sep=sep_rx,
                pipes=fld.pipes,
                subfields=fld.subfields,
                kv_pair_rx="(" + key_rx + ")" + pair_sep + "(" + val_rx + ")",
            )
        )
        return

    content = _content_regex(dtype, sep_lit, fld.length)
    if getattr(fld, "_is_tail", False) and k == n - 1:
        content = ".*"
    quoted = False
    # Under a quote/scope format the delimiters self-delimit the field, so a
    # permissive content class is faster for free-text types. Numeric-shaped
    # AND time types keep their typed content: the reference's scope path
    # (mechanism.rs:42-63) fails when the inner parse leaves residue, and
    # its month tokens are validated case-sensitively (time/common.rs:55,
    # rfc.rs month_patten) — so '[06/Ast/...]' must MISS a time<[,]> field,
    # not parse as a scope-bounded blob with a NULL cast.
    keep_typed = dtype in (
        "digit", "port", "http/status", "float", "bool", "hex"
    ) or dtype.startswith("time")
    if fld.fmt == ('"', '"'):
        if not keep_typed:
            content = '[^"]*'
        body = f'"({content})"'
        quoted = True
    elif fld.fmt is not None:
        b, e = fld.fmt
        if not keep_typed:
            content = "[^" + re.escape(e[0]) + "]*"
        body = re.escape(b) + f"({content})" + re.escape(e)
        quoted = True
    else:
        body = f"({content})"
        if dtype in ("json", "exact_json") or dtype.startswith("array"):
            # the reference's JSON field parser consumes leading whitespace
            # before the value (protocol/json.rs:25 multispace0) — tolerate
            # it outside the capture so e.g. unquoted '" {\"a\":1}"' lines
            # still match (parser_functionality.rs quota test)
            body = r"\s*" + body

    if fld.subgroup is not None and dtype in ("base64", "hex"):
        content = r"[A-Za-z0-9+/]+={0,2}" if dtype == "base64" else r"[0-9A-Fa-f]+"
        body = f"({content})"
    _flush_sep(ctx)
    ctx.group_idx += 1
    ctx.parts.append(body)
    ctx.last_self_delim = fld.fmt is not None
    name = _default_name(fld)
    out = FieldOutput(
        ctx.group_idx,
        name,
        dtype,
        quoted=quoted,
        pipes=fld.pipes,
        subfields=fld.subfields,
    )
    if fld.subgroup is not None:
        sub = _Ctx()
        _mark_tail_field([fld.subgroup])
        _emit_group(sub, fld.subgroup, None, None)
        sub.group_idx += 1
        # decode only for the decode-then-subparse types; a plain
        # `chars:x" | (time,ip)` re-parses the captured text DIRECTLY
        # (assemble_pipe PipeEnum::Group — no transport decode)
        out.decode = (
            "hex" if dtype == "hex" else "base64" if dtype == "base64" else None
        )
        out.sub_pattern = "^" + "".join(sub.parts) + r"(.*)$"
        out.sub_ngroups = sub.group_idx
        out.sub_outputs = sub.outputs
    ctx.outputs.append(out)


def _emit_unbounded(
    ctx: _Ctx, fld: WplField, sep_lit: str | None, sep_rx: str,
    sep_pat: str | None = None,
) -> None:
    """'*type' unbounded repeat: capture the whole run in one group."""
    dtype = fld.dtype
    _flush_sep(ctx)
    ctx.group_idx += 1
    if dtype in ("kv", "kvarr"):
        key_rx = _KEYCLS + "+"
        # each repeat is one keyval parse: ':' or '=' pair separator,
        # quoted values span the separator (keyval.rs pattern_parse)
        pair_sep = r"\s*[:=]\s*"
        val_rx = (
            "(?:" + _DQ_RX + "|" + _SQ_RX + "|"
            + _kv_bare_rx(sep_lit, sep_rx, sep_pat) + ")"
        )
        pair = key_rx + pair_sep + val_rx
        split_rx = sep_rx
        ctx.parts.append(f"({pair}(?:(?:{sep_rx}){pair})*)")
        ctx.outputs.append(
            FieldOutput(
                ctx.group_idx,
                fld.name or "kv",
                "kvarr",
                kv_run=True,
                kv_sep=split_rx,
                pipes=fld.pipes,
                kv_pair_rx="(" + key_rx + ")" + pair_sep + "(" + val_rx + ")",
            )
        )
        return
    content = _content_regex(dtype, sep_lit, fld.length)
    ctx.parts.append(f"((?:{content})(?:(?:{sep_rx})(?:{content}))*)")
    out_dtype = "_" if dtype == "_" else f"run/{dtype}"
    ctx.outputs.append(
        FieldOutput(
            ctx.group_idx,
            _default_name(fld),
            out_dtype,
            kv_run=False,
            kv_sep=sep_rx,
            pipes=fld.pipes,
        )
    )


# ---------------------------------------------------------------- runtime


def _time_cast(col: Column, dtype: str) -> Column:
    """Typed timestamp parse; try_* keeps ANSI mode safe."""
    if dtype == "time/clf":
        return F.try_to_timestamp(col, F.lit("dd/MMM/yyyy:HH:mm:ss Z"))
    if dtype == "time_timestamp":
        digits = F.length(col)
        secs = col.try_cast("long")
        return (
            F.when(digits >= 16, F.timestamp_micros(secs))
            .when(digits >= 13, F.timestamp_millis(secs))
            .otherwise(F.timestamp_seconds(secs))
        )
    if dtype == "time_2822":
        # Spark >= 3.0 cannot PARSE day-of-week ('EEE' throws
        # DATETIME_PATTERN_RECOGNITION, even under try_to_timestamp), so
        # the optional "Mon, " prefix is stripped before parsing
        bare = F.regexp_replace(col, r"^[A-Za-z]{3},\s*", "")
        return F.coalesce(
            F.try_to_timestamp(bare, F.lit("d MMM yyyy HH:mm:ss Z")),
            F.try_to_timestamp(bare, F.lit("d MMM yyyy HH:mm:ss zzz")),
        )
    # time (auto) / time_iso / time_3339: ordered cascade. A cheap anchored
    # sniff picks the single matching parser per row first — the common
    # formats (CLF, ISO) would otherwise pay several FAILED DateTimeFormatter
    # parses per row, which shows up as ~2x on the whole-pipeline bench.
    # CASE WHEN evaluates lazily per row, so each row runs ONE parse;
    # the full cascade stays as the fallback, preserving precedence.
    c = F.regexp_replace(col, r"\s+", " ")
    cascade = F.coalesce(
        F.try_to_timestamp(col),
        F.try_to_timestamp(F.regexp_replace(col, "T", " ")),
        F.try_to_timestamp(c, F.lit("yyyy/M/d H:mm:ss")),
        F.try_to_timestamp(c, F.lit("MMM d yyyy HH:mm:ss")),
        # year-less syslog form ("May 17 08:54:06"): the reference fills the
        # CURRENT year (time/rfc.rs parse_date_4), not 1970
        F.try_to_timestamp(
            F.concat(F.date_format(F.current_date(), "yyyy"), F.lit(" "), c),
            F.lit("yyyy MMM d HH:mm:ss"),
        ),
        F.try_to_timestamp(c, F.lit("dd/MMM/yyyy:HH:mm:ss Z")),
    )
    return (
        F.when(
            col.rlike(r"^\d{4}-\d{2}-\d{2}[T ]"),
            F.coalesce(
                F.try_to_timestamp(col),
                F.try_to_timestamp(F.regexp_replace(col, "T", " ")),
            ),
        )
        .when(
            col.rlike(r"^\d{1,2}/[A-Za-z]{3}/\d{4}:"),
            F.try_to_timestamp(c, F.lit("dd/MMM/yyyy:HH:mm:ss Z")),
        )
        .otherwise(cascade)
    )


def _exact_json_guard(raw: Column, subfields) -> Column:
    """exact_json strict-schema check (protocol/json_exact.rs +
    json_impl.rs:77-127): at every declared object level, the JSON's keys
    must be covered by the declared subfields (a key with no conf fails
    the rule) and every non-optional declared key must be present.
    Declared-but-type-mismatched VALUES still parse leniently (the
    reference fails those too; key coverage is the high-order bit).
    Wildcard (`*`) subfields disable strictness, mirroring the reference's
    glob conf short-circuit."""
    js = F.nullif(raw, F.lit(""))
    levels: dict[str, tuple[set[str], set[str]]] = {}  # parent -> (allowed, required)
    for sf in subfields:
        ref = (sf.ref or "*").strip()
        if ref == "*":
            return F.lit(True)
        # quoted refs are one literal key, never a '/' path
        segs = [ref] if getattr(sf, "quoted", False) else ref.split("/")
        if "*" in segs:
            # wildcard segment: strictness stops AT the wildcard, but the
            # non-wildcard PREFIX still registers its keys — otherwise the
            # parent level would reject every record that HAS the declared
            # field (allowed-set would exclude its head key)
            segs = segs[: segs.index("*")]
            if not segs:
                continue
            # prefix keys are containers: register as allowed+required at
            # their level but add no level entry below the wildcard
            for i, seg in enumerate(segs):
                parent = "/".join(segs[:i])
                allowed, required = levels.setdefault(parent, (set(), set()))
                key = seg.split("[", 1)[0]
                allowed.add(key)
                required.add(key)
            continue
        for i, seg in enumerate(segs):
            parent = "/".join(segs[:i])
            allowed, required = levels.setdefault(parent, (set(), set()))
            # an indexed segment (items[0]) covers the KEY 'items' —
            # json_object_keys reports bare key names
            key = seg.split("[", 1)[0]
            allowed.add(key)
            # only a LEAF marked optional is optional; path prefixes are
            # required containers
            if i < len(segs) - 1 or not sf.optional:
                required.add(key)
    g = F.lit(True)
    for parent, (allowed, required) in levels.items():
        node = (
            js
            if not parent
            else F.get_json_object(js, "$." + parent.replace("/", "."))
        )
        got = F.json_object_keys(node)
        allowed_l = F.array(*[F.lit(k) for k in sorted(allowed)])
        ok = got.isNotNull() & (F.size(F.array_except(got, allowed_l)) == 0)
        if required:
            req_l = F.array(*[F.lit(k) for k in sorted(required)])
            ok = ok & (F.size(F.array_except(req_l, got)) == 0)
        g = g & ok
    return F.when(js.isNull(), F.lit(True)).otherwise(g)


_ID_CARD_WEIGHTS = [(1 << (17 - i)) % 11 for i in range(17)]  # ISO 7064 MOD 11-2
_ID_CARD_CHECKS = "10X98765432"


def _id_card_valid(c: Column) -> Column:
    """GB 11643 (Chinese resident ID) validity as a JVM expression
    (physical/id_card.rs: Identity::new(..).is_valid()): 18-digit form
    needs a real YYYYMMDD birth date and the ISO 7064 MOD 11-2 check
    char; 15-digit legacy form needs a real 19YYMMDD date. NULL (field
    absent) passes — the rule already missed if the token never matched."""
    sum18 = F.aggregate(
        F.zip_with(
            F.slice(F.split(c, ""), 1, 17),
            F.array(*[F.lit(w) for w in _ID_CARD_WEIGHTS]),
            lambda d, w: d.try_cast("int") * w,
        ),
        F.lit(0),
        lambda a, v: a + v,
    )
    check_ok = F.upper(F.substring(c, 18, 1)) == F.try_element_at(
        F.split(F.lit(",".join(_ID_CARD_CHECKS)), ","), sum18 % 11 + 1
    )
    date18 = F.try_to_date(F.substring(c, 7, 8), "yyyyMMdd").isNotNull()
    date15 = F.try_to_date(
        F.concat(F.lit("19"), F.substring(c, 7, 6)), "yyyyMMdd"
    ).isNotNull()
    return (
        F.when(c.isNull(), F.lit(True))
        .when(F.length(c) == 18, check_ok & date18)
        .otherwise(date15)
    )


def _auto_cascade(s: Column) -> Column:
    """Typed cascade for `auto` fields -> struct<t: string, v: variant>.

    Mirrors the reference CombinedParser order Json -> Time -> IP -> KV ->
    Float -> Digit -> Hex -> Chars (crates/wp-lang/src/eval/value/parser/
    factory.rs:28-39), re-expressed per row as JVM expressions over the
    extracted token, with VARIANT (Spark's per-row dynamic type) carrying
    the typed value and `t` the winning parser's tag.

    Fidelity notes — each mirrors the reference parsers, not idealized
    types:
    - Float precedes Digit and winnow's `float` accepts integer forms and
      inf/nan (base/digit.rs:76-78), so "42" classifies float there and
      here; the digit branch stays in cascade order for completeness.
    - Hex takes an optional 0x prefix and bare hex words (base/hex.rs:24),
      so all-hex-letter words ("cafe") classify hex. Values past 16 hex
      digits overflow long and carry a null `v` (the reference holds
      u128).
    - The reference parses a PREFIX and leaves residue to the following
      separator check; this engine tokenizes first (separator-bounded
      regex) and the cascade classifies the FULL token — "42abc" is chars
      here but a Float(42)-then-rule-miss there. Same deviation class as
      SCALE.md's tokenize-then-type design note.
    - Subfield `auto` refs inside json/kv containers run this same
      cascade (via _cast_subfield), matching the reference's use of
      CombinedParser on container values; golden fixtures pin it.
    """
    low = F.lower(s)
    fl = (
        F.when(low.rlike(r"^\+?inf(inity)?$"), F.lit(float("inf")))
        .when(low.rlike(r"^-inf(inity)?$"), F.lit(float("-inf")))
        .when(low.rlike(r"^[+-]?nan$"), F.lit(float("nan")))
        .otherwise(s.try_cast("double"))
    )
    jv = F.try_parse_json(s)
    tv = _time_cast(s, "time")
    kvv = F.parse_json(F.to_json(F.str_to_map(F.trim(s), F.lit(" "), F.lit("="))))
    hexv = F.conv(F.regexp_replace(s, r"^0[xX]", ""), 16, 10).try_cast("long")
    cases = [
        (s.rlike(r"^[\{\[]") & jv.isNotNull(), "json", jv),
        (
            s.rlike("^" + _TIME_AUTO_RE + "$") & tv.isNotNull(),
            "time",
            tv.cast("variant"),
        ),
        (s.rlike("^" + _IP_RE + "$"), "ip", s.cast("variant")),
        (
            s.rlike(r"^[A-Za-z_][\w.-]*=\S*(?: +[A-Za-z_][\w.-]*=\S*)*$"),
            "kv",
            kvv,
        ),
        (
            s.rlike(r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$")
            | low.rlike(r"^[+-]?(?:inf(?:inity)?|nan)$"),
            "float",
            fl.cast("variant"),
        ),
        (s.rlike(r"^[+-]?\d+$"), "digit", s.try_cast("long").cast("variant")),
        (s.rlike(r"^(?:0[xX])?[0-9A-Fa-f]{1,16}$"), "hex", hexv.cast("variant")),
    ]
    t: Column | None = None
    v: Column | None = None
    for cond, tag, val in cases:
        t = F.when(cond, F.lit(tag)) if t is None else t.when(cond, F.lit(tag))
        v = F.when(cond, val) if v is None else v.when(cond, val)
    t = t.otherwise(F.lit("chars"))
    v = v.otherwise(s.cast("variant"))
    return F.when(s.isNotNull(), F.struct(t.alias("t"), v.alias("v")))


def _remainder_drop_patterns(subfields) -> list[str] | None:
    """Compile the json field's declared refs into regexes that REMOVE
    their flattened paths from the undeclared-key remainder map. Returns
    None when `_@*` is declared (everything ignored — no remainder at
    all, protocol/json.rs test_json_tianyan2).

    Reference semantics (json_impl.rs proc_value + the tianyan tests):
    undeclared keys always emit as auto fields; declared refs re-type or
    ignore their paths; `x*` is a name-prefix wildcard covering x and its
    subtree; `x/*` covers x's children only; a `json@x` container
    declaration emits nothing itself (children stay unless ignored)."""
    pats: list[str] = []
    for sf in subfields:
        ref = (sf.ref or "*").strip()
        if ref == "*":
            if sf.dtype == "_":
                return None
            continue
        if sf.dtype == "json" and not sf.name and sf.subgroup is None:
            # container declaration: not a leaf, removes nothing
            continue
        if getattr(sf, "quoted", False):
            pats.append("^" + re.escape(ref) + r"(?:$|/|\[)")
            continue
        if ref.endswith("/*"):
            pats.append("^" + re.escape(ref[:-2]) + r"(?:/|\[)")
            continue
        if ref.endswith("*"):
            pats.append("^" + re.escape(ref[:-1]))
            continue
        segs = ref.split("/")
        rx = "^" + re.escape(segs[0])
        for s2 in segs[1:]:
            rx += r"(?:\[\d+\]|/[^/\[]+)" if s2 == "*" else "/" + re.escape(s2)
        pats.append(rx + r"(?:$|/|\[)")
    return pats


def _flatten_json_udf(drop_patterns: list[str]):
    """map<string,string> of a JSON value's flattened leaves — the
    Spark-native stand-in for the reference's dynamic per-key DataFields
    (protocol/json_impl.rs proc_value): object nesting joins with '/',
    array element i of key k is 'k[i]' (test_json_6 key[0]), null leaves
    emit nothing, and string leaves keep their SOURCE-ESCAPED form (the
    reference's str mode: json.rs test_json_9 pins 'c:\\\\users...'
    double-backslash). Numbers keep their exact source literal via the
    parse hooks — a u64 past i64::MAX survives verbatim where the
    reference downgrades it to chars (test_json_big_integer_downgrade).

    Python-side by necessity: a dynamic key set cannot be a static Spark
    schema, and Spark has no recursive-flatten builtin — but this is an
    Arrow-batched map-only projection that only compiles in when a rule
    actually keeps the dynamic remainder (bare `json` or undeclared
    keys); declared refs stay JVM-side."""
    from pyspark.sql.functions import pandas_udf

    drops = [re.compile(p) for p in drop_patterns]

    class _Lit(str):
        """Number wrapper: keeps the exact source literal distinct from
        decoded JSON strings."""

    @pandas_udf("map<string,string>")
    def flatten(s: pd.Series) -> pd.Series:
        import json as _json

        def walk(prefix, val, out):
            if isinstance(val, dict):
                for k, v in val.items():
                    walk(f"{prefix}/{k}" if prefix else k, v, out)
            elif isinstance(val, list):
                for i, v in enumerate(val):
                    walk(f"{prefix}[{i}]", v, out)
            elif val is None:
                return
            elif isinstance(val, bool):
                out[prefix] = "true" if val else "false"
            elif isinstance(val, _Lit):
                out[prefix] = str(val)
            else:  # JSON string: re-encode to the source-escaped form
                out[prefix] = _json.dumps(val, ensure_ascii=False)[1:-1]

        def one(txt):
            if txt is None:
                return None
            try:
                v = _json.loads(txt, parse_int=_Lit, parse_float=_Lit)
            except Exception:
                return None
            out: dict = {}
            walk("", v, out)
            if drops:
                out = {
                    k: x
                    for k, x in out.items()
                    if not any(d.match(k) for d in drops)
                }
            return out

        return s.map(one)

    return flatten


_JSON_VALID = None


def _json_valid_udf():
    """Boolean validity of the captured json token, matching the
    reference's serde deserializer (json.rs:26-36): DUPLICATE KEYS are
    legal (test_json_long's doubled vuln_type — Spark's try_parse_json
    rejects them, so it cannot be the guard), NaN/Infinity and trailing
    garbage are not. Arrow-batched; shared across all compiled rules."""
    global _JSON_VALID
    if _JSON_VALID is None:
        from pyspark.sql.functions import pandas_udf

        def _reject(c):
            raise ValueError(c)

        @pandas_udf("boolean")
        def valid(s: pd.Series) -> pd.Series:
            import json as _json

            def one(t):
                if t is None:
                    return False
                try:
                    _json.loads(t, parse_constant=_reject)
                    return True
                except Exception:
                    return False

            return s.map(one)

        _JSON_VALID = valid
    return _JSON_VALID


def _apply_subfield_pipes(col: Column, sf) -> Column:
    """Transform pipes declared on a subfield (grammar: subfield {pipe}),
    applied to the extracted value before the type cast. Selector/guard
    pipes at subfield position are inert here — guards gate matching at
    the FIELD level (compile_guards), where take()/last() retarget them."""
    from wp_motor_spark.wpl.functions import _transform_expr

    for call in getattr(sf, "pipes", []) or []:
        if call.name in ("json_unescape", "base64_decode", "chars_replace"):
            col = _transform_expr(call, col)
    return col


def _cast_subfield(col: Column, dtype: str) -> Column:
    """Typed cast for a composite subfield ((type@ref:name) forms).

    `auto` subfields run the same typed cascade as field-level `auto`
    (factory.rs:28-39 applies CombinedParser to container values too), so
    json/kv subfield refs yield struct<t,v> rather than raw strings."""
    if dtype in ("digit", "port", "http/status"):
        return col.try_cast("long")
    if dtype == "float":
        return col.try_cast("double")
    if dtype == "bool":
        return F.lower(col).try_cast("boolean")
    if dtype.startswith("time"):
        return _time_cast(col, dtype)
    if dtype == "auto":
        return _auto_cascade(col)
    if dtype == "base64":
        # json(base64@a:_a) — the subfield parser DECODES the value
        # (protocol/json.rs test_json_base64: 'aGVsbG8=' -> 'hello')
        return F.unbase64(col).cast("string")
    if dtype.startswith("array"):
        # protocol/array.rs inside kv values (keyval.rs test_kv_arr1-4):
        # '[a,b]' / '["a","b"]' / '[]' -> typed element array; elements
        # split on top-level commas, quotes stripped, whitespace trimmed
        if dtype.partition("/")[2] in ("json", "obj"):
            # array/json subfield (json.rs test_json_11): object elements
            # contain top-level commas — keep each as its raw JSON text
            return F.when(col.isNotNull(), F.from_json(col, "array<string>"))
        inner = F.regexp_replace(F.regexp_replace(col, r"^\s*\[", ""), r"\]\s*$", "")
        elems = F.when(F.trim(inner) == "", F.array().cast("array<string>")).otherwise(
            F.transform(
                F.split(inner, ","),
                lambda e: F.regexp_replace(F.trim(e), r'^"(.*)"$', r"$1"),
            )
        )
        sub = dtype.partition("/")[2] or "chars"
        if sub in ("digit", "port"):
            return F.transform(elems, lambda e: e.try_cast("long"))
        if sub == "float":
            return F.transform(elems, lambda e: e.try_cast("double"))
        return elems
    return col


def _kv_bare_rx(sep_lit: str | None, sep_rx: str, sep_pat: str | None) -> str:
    """Bare (unquoted) kv value fragment. Literal separators exclude the
    separator char; a PATTERN separator has no single char to exclude —
    the reference's read_until_sep scans forward to the next pattern
    match (wpl_sep.rs), so the regex equivalent is the tempered scan
    'chars at which the separator does not start' (kvarr.rs
    test_kvarr_pattern_sep: msg=Test message externalId=0 under
    {\\s(\\S=)} keeps the space inside msg)."""
    if sep_pat is not None:
        return "(?:(?!" + sep_rx + r")[\s\S])*"
    return _neg_class(sep_lit) + "*"


def _kv_value_norm(v: Column) -> Column:
    """take_value normalization (kvarr.rs:106-122, keyval.rs value_take):
    a QUOTED value keeps its inner text verbatim (outer quotes stripped —
    quot_str, double or single; escapes preserved, test_key_name
    `tr\\"ust`); a bracketed interval keeps its brackets but decodes
    escaped quote/backslash pairs (decode_escapes, utils.rs:331-348 —
    the \\n/\\t/\\xHH decodes are not reproduced here; the single-pass
    quote unescape is the fixture-relevant case, kvarr.rs
    test_kvarr_with_commas2 c=[\\"1.1.1.1\\",..]); a bare value is
    TRIMMED (keyval.rs trim_val).

    First/last-char checks instead of anchored rlikes: the values here
    were EXTRACTED by the same quoted/interval/bare alternation, so a
    value that starts and ends with the same quote char IS the quoted
    alternative's match (the bare branch can produce an unterminated
    leading quote but then the last char differs); same for a matching
    bracket pair. Three regex evals per pair dropped to char ops —
    measured on the wpl_kv_parse hot path."""
    first = F.substring(v, 1, 1)
    last = F.substring(v, -1, 1)
    two = F.length(v) >= 2
    closer = (
        F.when(first == "[", F.lit("]"))
        .when(first == "(", F.lit(")"))
        .when(first == "{", F.lit("}"))
        .when(first == "<", F.lit(">"))
    )
    return (
        F.when(
            two & first.isin('"', "'") & (last == first),
            F.substring(v, 2, F.length(v) - 2),
        )
        .when(
            # a COMPLETE interval only (opener with its matching closer);
            # an unterminated bracket fell through interval_impl to the
            # bare read-until-sep path in the reference, which trims
            two & closer.isNotNull() & (last == closer),
            F.regexp_replace(v, r"\\([\"'\\])", r"$1"),
        )
        .otherwise(F.trim(v))
    )


def _typed_column(out: FieldOutput, raw: Column) -> Column:
    dtype = out.dtype
    s = raw if out.quoted else F.nullif(raw, F.lit(""))
    if dtype in ("digit", "port", "http/status"):
        return s.try_cast("long")
    if dtype == "float":
        return s.try_cast("double")
    if dtype == "bool":
        return F.lower(s).try_cast("boolean")
    if dtype.startswith("time"):
        return _time_cast(s, dtype)
    if dtype == "http/request":
        # Hot path: request lines are almost always single-space separated
        # ("GET /x HTTP/1.1"), where substring_index (memchr-style scan) is
        # ~6x cheaper than a \s+ regex split (profiled: 2.05 -> 0.3 us/row
        # single-thread). Rows with runs of whitespace / tabs fall back to
        # the exact regex-split semantics via a lazy CASE WHEN, so only
        # those rows pay the regex.
        t = F.trim(s)
        simple = (
            (F.instr(t, "  ") == 0)
            & (F.instr(t, "\t") == 0)
            & (F.instr(t, "\r") == 0)
            & (F.instr(t, "\n") == 0)
        )
        fast = F.struct(
            F.substring_index(t, " ", 1).alias("method"),
            F.when(
                F.instr(t, " ") > 0,
                F.substring_index(F.substring_index(t, " ", 2), " ", -1),
            ).alias("uri"),
            F.when(
                F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) >= 2,
                # rest-of-string after the 2nd space (split-limit-3 keeps the
                # tail in the 3rd element, so mirror that, not last-token)
                F.substring(
                    t,
                    F.length(F.substring_index(t, " ", 2)) + 2,
                    F.length(t),
                ),
            ).alias("proto"),
        )
        p = F.split(t, r"\s+", 3)
        # F.get (not getItem): short arrays must yield NULL, not an ANSI
        # out-of-bounds error, for requests like "GET" with no uri/proto
        slow = F.struct(
            F.get(p, 0).alias("method"),
            F.get(p, 1).alias("uri"),
            F.get(p, 2).alias("proto"),
        )
        return F.when(s.isNotNull(), F.when(simple, fast).otherwise(slow))
    if dtype == "kvarr" and out.kv_run:
        if out.kv_pair_rx is None:  # legacy shape, no pair regex recorded
            m = F.str_to_map(s, F.lit(out.kv_sep), F.lit(r"\s*[:=]\s*"))
            return F.transform_values(m, lambda k, v: _kv_value_norm(v))
        # Re-extract pairs with the SAME pair regex the run matched (key
        # group 1, value group 2) — str_to_map split the run on kv_sep
        # regardless of quoting, so 'a="foo bar" b=1' under \s sep
        # corrupted into {a:'"foo', 'bar"':null, b:1}. quot_str values
        # spanning the separator (kvarr.rs test_kvarr_whitespace_delimited
        # b='bar x') now survive.
        keys = F.regexp_extract_all(s, F.lit(out.kv_pair_rx), 1)
        vals = F.transform(
            F.regexp_extract_all(s, F.lit(out.kv_pair_rx), 2), _kv_value_norm
        )
        # Bind keys/vals ONCE through a 1-element array-of-struct: HOF
        # lambdas referencing an OUTER expression re-evaluate it per
        # element (the nested dup-rename filters were re-running
        # regexp_extract_all O(n^2) times — measured +0.9s on
        # wpl_kv_parse at sf0.1); a lambda VARIABLE is a materialized
        # value, so everything below touches the arrays, not the regex.
        packed = F.array(F.struct(keys.alias("k"), vals.alias("v")))

        def build(p):
            k_arr, v_arr = p["k"], p["v"]
            # rename_duplicates (kvarr.rs:254-275): the i-th occurrence
            # of a repeated key is emitted as key[i]
            # (test_kvarr_repeated_keys_are_indexed) — also keeps
            # map_from_arrays free of duplicate-key exceptions. The
            # no-duplicate fast path skips the O(n^2) rename entirely.
            renamed = F.when(
                F.size(F.array_distinct(k_arr)) == F.size(k_arr), k_arr
            ).otherwise(
                F.transform(
                    k_arr,
                    lambda k, i: F.when(
                        F.size(F.filter(k_arr, lambda k2: k2 == k)) > 1,
                        F.concat(
                            k,
                            F.lit("["),
                            F.size(
                                F.filter(
                                    F.slice(k_arr, F.lit(1), i),
                                    lambda k2: k2 == k,
                                )
                            ).cast("string"),
                            F.lit("]"),
                        ),
                    ).otherwise(k),
                )
            )
            return F.map_from_arrays(renamed, v_arr)

        return F.when(
            s.isNotNull(), F.element_at(F.transform(packed, build), 1)
        )
    if dtype == "kv":
        return s  # merged into a shared map later
    if dtype == "proto_text":
        # protobuf text format `k: "v" k2: v2` -> map (protocol/proto_text.rs)
        pair_rx = r'(\w+)\s*:\s*("(?:[^"\\]|\\.)*"|\S+)'
        keys = F.regexp_extract_all(s, F.lit(pair_rx), 1)
        vals = F.transform(
            F.regexp_extract_all(s, F.lit(pair_rx), 2),
            lambda v: F.regexp_replace(v, r'^"|"$', ""),
        )
        return F.when(s.isNotNull(), F.map_from_arrays(keys, vals))
    if dtype.startswith("run/"):
        return F.split(s, out.kv_sep)
    if dtype.startswith("array/") or dtype == "array":
        # hand-rolled like parse_array_vec (protocol/array.rs): tolerate
        # unquoted elements ([1.1.1.1,2.2.2.2]), trailing commas
        # ([1,2,3,]) and escaped quotes — from_json rejects all three.
        # Elements are quoted spans or comma-free runs; quotes stripped
        # with \" unescaped, bare elements trimmed.
        sub = dtype.split("/", 1)[1] if "/" in dtype else "chars"
        if sub in ("json", "obj"):
            # array/json (json.rs test_json_11): elements are OBJECTS whose
            # bodies contain top-level commas — the comma-split path would
            # shred them. from_json to array<string> keeps each element as
            # its raw JSON text (the columnar equivalent of the reference's
            # Obj fields; leaves stay reachable via variant_get/get_json_object)
            return F.when(s.isNotNull(), F.from_json(s, "array<string>"))
        elems = F.regexp_extract_all(
            F.regexp_replace(F.regexp_replace(s, r"^\s*\[", ""), r"\]\s*$", ""),
            F.lit(r'("(?:[^"\\]|\\.)*"|[^,\s][^,]*)'),
            1,
        )
        elems = F.transform(
            elems,
            lambda e: F.when(
                e.rlike(r'^"(?:[^"\\]|\\.)*"$'),
                F.regexp_replace(
                    F.substring(e, 2, F.length(e) - 2), r'\\"', '"'
                ),
            ).otherwise(F.trim(e)),
        )
        spark_t = {"digit": "bigint", "float": "double", "bool": "boolean"}.get(sub)
        if spark_t:
            elems = F.transform(elems, lambda e: e.try_cast(spark_t))
        return F.when(s.isNotNull(), elems)
    if dtype == "auto":
        return _auto_cascade(s)
    return s


class CompiledRule:
    """One WPL rule compiled to a single-pass regex extraction plan."""

    def __init__(
        self,
        rule: WplRule,
        pattern: str,
        n_groups: int,
        outputs: list[FieldOutput],
        residue_group: int,
    ):
        self.rule = rule
        self.pattern = pattern
        self.n_groups = n_groups
        self.outputs = outputs
        self.residue_group = residue_group
        self.key = rule.key

    # -- plan builders ------------------------------------------------------

    def parts_col(self, value: Column) -> Column:
        """Single-pass regex tokenizer: ONE anchored regex evaluation per
        row, then a literal split. A memchr-style separator-scan plan (the
        reference's approach) was built and measured at ~10% SLOWER once
        its semantics-preserving validity checks are included — see
        PROFILE.md §3 (experiment script in commit ed9c6fa)."""
        repl = DELIM.join(f"${i}" for i in range(1, self.n_groups + 1))
        pre = apply_preprocs(value, self.rule.preprocs)
        return F.split(F.regexp_replace(pre, self.pattern, repl), DELIM, -1)

    def matched_col(self, parts: Column, value: Column | None = None) -> Column:
        m = F.size(parts) == F.lit(self.n_groups)
        if self.n_groups == 1 and value is not None:
            # degenerate rule: only the residue group (all fields are
            # symbols/ignores). A failed regexp_replace returns the input
            # UNCHANGED, which splits to exactly 1 part == n_groups — a
            # vacuous match. Verify the anchored pattern actually matched
            # (hit by diagnose()'s depth-1 symbol prefixes; full rules were
            # shielded by the 20% residue check, but report depth wrong).
            pre = apply_preprocs(value, self.rule.preprocs)
            m = m & pre.rlike(self.pattern)
        return m

    def residue_col(self, parts: Column) -> Column:
        return F.try_element_at(parts, F.lit(self.residue_group))

    def disposition_col(self, value: Column, parts: Column) -> Column:
        """success / partial / miss / blank (processor.rs:35-54)."""
        pre = apply_preprocs(value, self.rule.preprocs)
        residue = self.residue_col(parts)
        frac_ok = F.length(residue) <= F.length(pre) * F.lit(RESIDUE_FRAC)
        return (
            F.when(
                F.btrim(F.coalesce(value, F.lit("")), F.lit(" \t\r\n\x0b\x0c")) == "",
                F.lit("blank"),
            )
            .when(~self.matched_col(parts, value), F.lit("miss"))
            # whitespace-only residue counts as full consumption: the
            # reference runs multispace0 after every field, so a trailing
            # blank run is consumed, not residue (group/some_of.rs tests
            # assert data == "" on inputs with trailing spaces)
            # btrim with an explicit set: SQL trim() strips only 0x20,
            # but a trailing newline is whitespace too (json.rs jt1/jt2
            # fixtures end in '\n' and parse clean)
            .when(F.length(F.btrim(residue, F.lit(" \t\r\n\x0b\x0c"))) == 0, F.lit("success"))
            .when(frac_ok, F.lit("partial"))
            .otherwise(F.lit("miss"))
        )

    def field_columns(self, parts: Column) -> list[tuple[str, Column]]:
        """(name, typed Column) for every non-ignore output + merged kv map."""
        cols: list[tuple[str, Column]] = []
        kv_parts: list[Column] = []
        kv_subs: list = []
        kv_name = "kv"
        for out in self.outputs:
            raw = F.try_element_at(parts, F.lit(out.group))
            if out.dtype == "_":
                continue
            if out.dtype == "kv" and not out.kv_run:
                kv_parts.append(F.nullif(raw, F.lit("")))
                kv_subs.extend(out.subfields)
                if out.name != "kv":
                    kv_name = out.name
                continue
            if out.dtype == "json" or (out.dtype == "exact_json" and out.subfields):
                # json(chars@msg:alias) subfield refs -> get_json_object
                star_keep = False
                for sf in out.subfields or []:
                    if sf.dtype == "_":
                        # ignore-typed subfield: parsed but NOT emitted
                        # (json.rs test_json_base64 `_@c` drops key c)
                        continue
                    ref = (sf.ref or "*").strip()
                    if (
                        sf.dtype == "json"
                        and ref != "*"
                        and not sf.name
                        and sf.subgroup is None
                    ):
                        # container re-declaration (json@_origin,
                        # json.rs test_json_tianyan3): emits no field of
                        # its own — its subtree stays in the remainder
                        # map unless separately ignored
                        continue
                    # default name keeps the '/' path — the reference's
                    # flattened field NAME is the path itself
                    # (test_json_tianyan3 pins '_origin/sip')
                    nm = sf.name or (ref if ref != "*" else out.name)
                    if ref == "*":
                        star_keep = True
                        cols.append((nm, F.nullif(raw, F.lit(""))))
                        continue
                    if getattr(sf, "quoted", False):
                        # quoted ref = LITERAL top-level key (may contain
                        # . / @ - etc.) -> JsonPath bracket notation
                        jp = "$['" + ref.replace("'", "\\'") + "']"
                    else:
                        # path ref: '/' nests; a bare '*' segment is the
                        # array wildcard (@logs/*/message -> $.logs[*].message,
                        # field_reference.md wildcard section)
                        jp = "$"
                        for seg in ref.split("/"):
                            jp += "[*]" if seg == "*" else "." + seg
                    # Declared sub-parsers receive the SOURCE-ESCAPED
                    # leaf text — json_impl.rs proc_value feeds
                    # fpu.parse the raw `v.to_string()` slice (its str
                    # mode: test_json_9 pins 'c:\\\\users...' double
                    # backslashes, test_json_take_chars2 pins the
                    # escaped json-in-string staying chars because the
                    # cascade's serde fails on '{\\"'). get_json_object
                    # DECODES — a later json_unescape pipe would
                    # double-decode. to_json(variant_get) re-encodes the
                    # leaf as its JSON literal: strings come back
                    # quoted+escaped (strip the quotes), scalars/objects
                    # verbatim; a JSON null leaf prints "null" and is
                    # mapped back to NULL. Fallback to the decoded
                    # getter when the variant parse rejects the doc
                    # (duplicate keys) or the path has a [*] wildcard.
                    decoded = F.get_json_object(F.nullif(raw, F.lit("")), jp)
                    if "[*]" not in jp:
                        tj = F.to_json(
                            F.try_variant_get(
                                F.try_parse_json(F.nullif(raw, F.lit(""))),
                                jp,
                                "variant",
                            )
                        )
                        lit_val = F.when(
                            tj.startswith('"'),
                            F.substring(tj, F.lit(2), F.length(tj) - 2),
                        ).otherwise(F.nullif(tj, F.lit("null")))
                        sub = F.coalesce(lit_val, decoded)
                    else:
                        sub = decoded
                    if sf.subgroup is not None:
                        # `json(chars@k | (time,ip))`: the extracted value
                        # is RE-PARSED by the nested group
                        # (wpl_group.rs test_parse_group_pipe3,
                        # PipeEnum::Group) — same regex-subparse shape as
                        # the field-level pipe group
                        sctx = _Ctx()
                        _mark_tail_field([sf.subgroup])
                        _emit_group(sctx, sf.subgroup, None, None)
                        sctx.group_idx += 1
                        pat = "^" + "".join(sctx.parts) + r"(.*)$"
                        repl = DELIM.join(
                            f"${i}" for i in range(1, sctx.group_idx + 1)
                        )
                        sub_parts = F.split(
                            F.regexp_replace(sub, pat, repl), DELIM, -1
                        )
                        ok = F.size(sub_parts) == F.lit(sctx.group_idx)
                        for so in sctx.outputs:
                            if so.dtype == "_":
                                continue
                            sraw = F.when(
                                ok, F.try_element_at(sub_parts, F.lit(so.group))
                            )
                            cols.append((so.name, _typed_column(so, sraw)))
                        continue
                    sub = _apply_subfield_pipes(sub, sf)
                    cols.append((nm, _cast_subfield(sub, sf.dtype)))
                if out.dtype == "json" and not star_keep:
                    # undeclared keys ALWAYS emit (json.rs test_json_tianyan:
                    # 57 auto fields survive `_@_origin*,_@payload/...`);
                    # they land in ONE map<string,string> column named by
                    # the field — the Spark-native stand-in for dynamic
                    # per-key fields (kv fields use the same map shape).
                    # `_@*` (patterns None) drops the remainder entirely.
                    patterns = _remainder_drop_patterns(out.subfields or [])
                    if patterns is not None:
                        cols.append(
                            (
                                out.name,
                                _flatten_json_udf(patterns)(
                                    F.nullif(raw, F.lit(""))
                                ),
                            )
                        )
                continue
            if out.sub_pattern is not None:
                # decode-then-subparse: unbase64/unhex the captured token,
                # then run the subgroup's regex over the decoded text; a
                # plain pipe group (chars:x" | (time,ip)) re-parses the
                # captured text with NO decode (PipeEnum::Group)
                if out.decode == "hex":
                    decoded = F.unhex(raw).cast("string")
                elif out.decode == "base64":
                    decoded = F.unbase64(raw).cast("string")
                else:
                    decoded = raw
                repl = DELIM.join(f"${i}" for i in range(1, out.sub_ngroups + 1))
                sub_parts = F.split(
                    F.regexp_replace(decoded, out.sub_pattern, repl), DELIM, -1
                )
                ok = F.size(sub_parts) == F.lit(out.sub_ngroups)
                for so in out.sub_outputs:
                    if so.dtype == "_":
                        continue
                    sraw = F.when(ok, F.try_element_at(sub_parts, F.lit(so.group)))
                    cols.append((so.name, _typed_column(so, sraw)))
                continue
            typed = _typed_column(out, raw)
            cols.append((out.name, typed))
            if out.dtype == "kvarr" and out.subfields:
                # kvarr(chars@key:alias, ...) subfield extraction from the map
                for sf in out.subfields:
                    if sf.ref and sf.ref != "*":
                        cols.append(
                            (
                                sf.name or sf.ref.replace("/", "_"),
                                _cast_subfield(
                                    _apply_subfield_pipes(
                                        F.try_element_at(typed, F.lit(sf.ref)), sf
                                    ),
                                    sf.dtype,
                                ),
                            )
                        )
        if kv_parts:
            joined = F.nullif(F.concat_ws(PAIR_DELIM, *kv_parts), F.lit(""))
            # keyValueDelim is a regex split with limit 2, so ':'-separated
            # pairs work and a time value's internal ':' stays in the value
            kv_map = F.str_to_map(joined, F.lit(PAIR_DELIM), F.lit(r"\s*[:=]\s*"))
            # value normalization per value_take (keyval.rs:93-105): a
            # QUOTED value keeps its inner text verbatim (outer quotes
            # stripped, escapes preserved — test_key_name `tr\"ust`;
            # single quotes per quot_str too); a bare value is TRIMMED
            # (test_key_2 '幻云 ' -> '幻云')
            kv_map = F.transform_values(kv_map, lambda k, v: _kv_value_norm(v))
            cols.append((kv_name, kv_map))
            # typed subfield columns off the merged map (keyval.rs: the
            # sub_fpu output is a NAMED typed field, e.g. kv(time@ts) ->
            # Time column 'ts'); '*' refs stay map-only
            for sf in kv_subs:
                if not sf.ref or sf.ref == "*":
                    continue
                val = F.try_element_at(kv_map, F.lit(sf.ref))
                val = _apply_subfield_pipes(val, sf)
                if sf.scope:
                    # scope anchors were part of the matched value text —
                    # strip them before the typed cast
                    b, e = re.escape(sf.scope[0]), re.escape(sf.scope[1])
                    val = F.regexp_replace(
                        F.regexp_replace(val, "^" + b, ""), e + "$", ""
                    )
                if sf.subgroup is not None:
                    # kv(chars@k | (time,ip)\!) — the kv VALUE is re-parsed
                    # by the nested group (wpl_group.rs pipe4_1/4_2)
                    sctx = _Ctx()
                    _mark_tail_field([sf.subgroup])
                    _emit_group(sctx, sf.subgroup, None, None)
                    sctx.group_idx += 1
                    pat = "^" + "".join(sctx.parts) + r"(.*)$"
                    repl = DELIM.join(
                        f"${i}" for i in range(1, sctx.group_idx + 1)
                    )
                    sub_parts = F.split(
                        F.regexp_replace(val, pat, repl), DELIM, -1
                    )
                    ok = F.size(sub_parts) == F.lit(sctx.group_idx)
                    for so in sctx.outputs:
                        if so.dtype == "_":
                            continue
                        sraw = F.when(
                            ok, F.try_element_at(sub_parts, F.lit(so.group))
                        )
                        cols.append((so.name, _typed_column(so, sraw)))
                    continue
                cols.append(
                    (sf.name or sf.ref.replace("/", "_"),
                     _cast_subfield(val, sf.dtype))
                )
        # rule-level tag annotations -> constant columns (wpl_anno.rs:28-54)
        for k, v in self.rule.tags.items():
            cols.append((k, F.lit(v)))
        return cols

    def guard_col(self, cols: dict[str, Column]) -> Column | None:
        """WPL pipe functions are rule-match guards (pipe_fun.rs:17-451),
        plus intrinsic validity guards: id_card fields must pass the
        GB 11643 checksum or the rule misses (physical/id_card.rs:29-37,
        Identity::is_valid backtracks on failure)."""
        from wp_motor_spark.wpl.functions import compile_guards

        guard = compile_guards(self.outputs, cols)
        for out in self.outputs:
            if out.dtype == "id_card" and out.name in cols:
                g = _id_card_valid(cols[out.name])
                guard = g if guard is None else guard & g
        return guard

    def strict_guard_col(self, parts: Column) -> Column | None:
        """Intrinsic guards that need the RAW captured token (the typed
        outputs for these fields are projections, not the token itself):
        exact_json strict-schema coverage."""
        guard: Column | None = None
        for out in self.outputs:
            if out.dtype in ("json", "exact_json"):
                # the captured token must BE valid JSON — the reference's
                # serde deserializer fails the field outright on e.g.
                # '{"a":1,"b":2,"c":  "a" : 1 } }' (json.rs test_json_std
                # third case), where a lenient JsonPath getter would not
                raw = F.try_element_at(parts, F.lit(out.group))
                g = F.coalesce(
                    _json_valid_udf()(F.nullif(raw, F.lit(""))), F.lit(False)
                )
                guard = g if guard is None else guard & g
            if out.dtype == "exact_json" and out.subfields:
                raw = F.try_element_at(parts, F.lit(out.group))
                g = _exact_json_guard(raw, out.subfields)
                guard = g if guard is None else guard & g
            if out.dtype in ("json", "exact_json"):
                # symbol subfields are equality guards on the extracted
                # value (eval/mod_test.rs test_json_symbol_miss:
                # json(symbol(boy2)@key) misses when $.key != 'boy2')
                for sf in out.subfields:
                    if sf.dtype in ("symbol", "peek_symbol") and sf.symbol is not None:
                        raw = F.try_element_at(parts, F.lit(out.group))
                        jp = "$." + (sf.ref or "*").replace("/", ".")
                        g = F.get_json_object(raw, jp) == F.lit(sf.symbol)
                        guard = g if guard is None else guard & g
        return guard

    def match_guard_col(self, parts: Column) -> Column | None:
        """Every guard of ``strict_guard_col`` and ``guard_col`` as one
        predicate over the raw parts, for the first-match cascade: FALSE
        exactly where ``extract`` demotes a matched row to miss (a NULL
        guard demotes nothing there, so it passes here). None when the
        rule has no guards. The typed field columns cost many JVM round
        trips to build, and label() re-plans on every call (each
        streaming micro-batch), so only rules with pipe or id_card guards
        build them."""
        piped = any(o.pipes or o.dtype == "id_card" for o in self.outputs)
        ok: Column | None = None
        for g in (
            self.strict_guard_col(parts),
            self.guard_col(dict(self.field_columns(parts))) if piped else None,
        ):
            if g is not None:
                ok = g if ok is None else ok & g
        return None if ok is None else F.coalesce(ok, F.lit(True))

    # -- user-facing --------------------------------------------------------

    def extract(self, df: DataFrame, col: str = "value", keep: list[str] | None = None) -> DataFrame:
        """Parse ``col``; returns typed columns + _rule/_disposition/_residue."""
        value = F.col(col)
        parts = _no_pushdown(self.parts_col(value))
        tmp = df.withColumn("__parts", parts)
        pcol = F.col("__parts")
        named = self.field_columns(pcol)
        keep_cols = [F.col(c) for c in (keep or [])]
        if self.rule.copy_raw:
            keep_cols.append(value.alias(self.rule.copy_raw))
        disp = self.disposition_col(value, pcol)
        strict = self.strict_guard_col(pcol)
        if strict is not None:
            # raw-token guards (exact_json schema) demote matched rows to
            # miss while __parts is still in scope
            disp = F.when(disp.isin("success", "partial") & ~strict, "miss").otherwise(
                disp
            )
        out = tmp.select(
            *keep_cols,
            *[c.alias(n) for n, c in named],
            F.lit(self.key).alias("_rule"),
            disp.alias("_disposition"),
            self.residue_col(pcol).alias("_residue"),
        )
        guard = self.guard_col({n: F.col(n) for n, _ in named})
        if guard is not None:
            out = out.withColumn(
                "_disposition",
                F.when(F.col("_disposition").isin("success", "partial") & ~guard, "miss")
                .otherwise(F.col("_disposition")),
            )
        from wp_motor_spark.wpl.functions import compile_transforms

        repl = compile_transforms(self.outputs, {n: F.col(n) for n, _ in named})
        if repl:
            out = out.withColumns(repl)
        return out


def _prefix_rules(rule: WplRule, max_depth: int) -> list["CompiledRule"]:
    """Cumulative prefix sub-rules for miss diagnostics (parser.rs:82-113
    records how far each failing rule consumed before erroring).

    Prefix units: each FIELD of a seq group is one unit; a non-seq group
    (alt/opt/some_of/not) or a group nested inside a seq is one ATOMIC
    unit — matching the reference, where the consumed position advances
    through an alt's winning branch as a whole. processor.rs
    test_prefers_deepest_rule_on_miss pins the multi-group case:
    '(symbol(CONTROL)), alt(-ALPHA,-BETA), (digit,chars,bool)' must
    out-depth '(digit,digit,chars)' on 'CONTROL-ALPHA 1024 warpparse 64'
    because its chars unit survives one field further."""
    prefixes: list[list[WplGroup]] = []
    acc: list[WplGroup] = []
    for grp in rule.groups:
        if grp.meta != "seq":
            acc = acc + [grp]
            prefixes.append(list(acc))
            continue
        taken: list = []
        for item in grp.items:
            taken.append(item)
            prefixes.append(
                acc
                + [
                    WplGroup(
                        meta="seq",
                        items=list(taken),
                        sep=grp.sep,
                        pattern_sep=grp.pattern_sep,
                    )
                ]
            )
        acc = acc + [grp]
    if not prefixes:
        return [compile_rule(rule)]
    out = []
    for groups in prefixes[:max_depth]:
        sub = WplRule(
            name=rule.name,
            preprocs=list(rule.preprocs),
            groups=groups,
            package=rule.package,
        )
        out.append(compile_rule(sub))
    return out


class MultiParser:
    """First-match-wins rule cascade (parser.rs:26-114).

    ``label`` stamps _rule/_disposition/_residue; ``parse`` returns one
    typed DataFrame per rule plus the miss branch. Each rule's tokenizing
    regex is MATERIALIZED once per row as a ``__parts_i`` column before the
    first-match CASE chains run: codegen subexpression elimination does NOT
    dedupe an expression repeated across the three when-chains (measured
    4.7x slower for a 3-rule cascade when parts is inlined — every chain
    re-ran every rule's regex). The trade-off vs the reference's
    short-circuiting scanner: all R regexes run for every row, but each
    exactly once — predictable R evals beats the chains' up-to-3R, and
    anchored patterns fail fast on non-matching rows.

    Adaptive rule reordering (parser.rs:119-134) is available as a
    plan-time step: ``optimized()`` resorts rules by sampled hit count
    (desc, ties by declared index — the reference's exact sort) and
    returns a new parser. Under the materialized plan every rule's regex
    runs once per row whatever the order, so reordering saves no work
    here (a short-circuiting single-CASE plan, where order would matter,
    measured ~3x slower: the matched rule's regex re-derives per struct
    field inside its branch). ``optimized()`` matters semantically — it
    changes first-match winners for overlapping rules exactly as the
    reference's resort does.

    A rule's match guards (pipe functions, id_card checksums, json
    validity — the checks ``extract`` demotes rows on) are part of its
    cascade hit, so a row that fails them falls through to the next rule
    and finally to miss, as in the reference's first-match loop.
    """

    def __init__(self, rules: list[CompiledRule | WplRule] | str):
        if isinstance(rules, str):
            rules = parse_wpl(rules)
        self.rules = [r if isinstance(r, CompiledRule) else compile_rule(r) for r in rules]

    def hit_counts(self, df: DataFrame, col: str = "value", sample_rows: int = 10000) -> dict:
        """Per-rule first-match hit counts over a bounded sample — the
        Spark analogue of the reference's per-pipeline ``hit_cnt``
        accumulation (parser.rs:60-78). One aggregated job; the collect
        is <= len(rules)+1 rows."""
        labeled = self.label(df.limit(sample_rows), col)
        rows = labeled.groupBy("_rule").count().collect()
        return {r["_rule"]: r["count"] for r in rows if r["_rule"] is not None}

    def optimized(
        self,
        df: DataFrame | None = None,
        col: str = "value",
        sample_rows: int = 10000,
        counts: dict | None = None,
    ) -> "MultiParser":
        """parser.rs:119-134: sort rules by hit count desc, ties by
        declared index. Returns a NEW MultiParser; the original order is
        untouched (the reference resorts in place every N events — here
        re-planning per batch gives the same window semantics). Order
        does not change plan cost (see class docstring), so this is a
        semantics-parity API.

        NOTE on semantics: like the reference, reordering changes
        first-match winners when two rules both match a row. Safe (and
        output-identical) when rule match sets are disjoint, which is the
        operating assumption the reference makes too.
        """
        if counts is None:
            if df is None:
                raise ValueError("optimized() needs a sample df or explicit counts")
            counts = self.hit_counts(df, col, sample_rows)
        order = sorted(
            range(len(self.rules)),
            key=lambda i: (-counts.get(self.rules[i].key, 0), i),
        )
        mp = MultiParser.__new__(MultiParser)
        mp.rules = [self.rules[i] for i in order]
        return mp

    def label(self, df: DataFrame, col: str = "value") -> DataFrame:
        value = F.col(col)
        # stage 1: one regex evaluation per rule per row, materialized
        # (behind the _no_pushdown barrier, like extract's __parts)
        tmp = df.select(
            "*",
            *[
                _no_pushdown(cr.parts_col(value)).alias(f"__parts_{i}")
                for i, cr in enumerate(self.rules)
            ],
        )
        rule_c: Column | None = None
        disp_c: Column | None = None
        res_c: Column | None = None
        for i, cr in enumerate(self.rules):
            parts = F.col(f"__parts_{i}")
            disp = cr.disposition_col(value, parts)
            hit = disp.isin("success", "partial")
            guard = cr.match_guard_col(parts)
            if guard is not None:
                hit = hit & guard
            rule_c = (
                F.when(hit, F.lit(cr.key)) if rule_c is None else rule_c.when(hit, F.lit(cr.key))
            )
            disp_c = F.when(hit, disp) if disp_c is None else disp_c.when(hit, disp)
            res_c = (
                F.when(hit, cr.residue_col(parts))
                if res_c is None
                else res_c.when(hit, cr.residue_col(parts))
            )
        # Rust str::trim strips UNICODE White_Space (processor.rs
        # batch_parse_package_skips_whitespace_miss pins "   \n\t";
        # U+00A0/U+2028/U+3000-only lines are 'blank' in the reference
        # too) — so the blank test is a Unicode-aware regex ((?U) turns
        # on Java's UNICODE_CHARACTER_CLASS for \s), not an ASCII
        # btrim set
        blank = F.coalesce(value, F.lit("")).rlike(r"^(?U)\s*$")
        return tmp.select(
            *df.columns,
            F.coalesce(rule_c, F.lit(None)).alias("_rule"),
            F.when(blank, "blank").otherwise(F.coalesce(disp_c, F.lit("miss"))).alias(
                "_disposition"
            ),
            res_c.alias("_residue"),
        )

    def diagnose(self, df: DataFrame, col: str = "value", max_depth: int = 8) -> DataFrame:
        """Deepest-failure diagnostics for missed rows (parser.rs:82-113):
        adds `_best_rule` (rule that consumed the most fields) and
        `_parse_depth` (how many leading fields matched).

        Debug-mode tool: compiles cumulative field-prefix regexes per rule
        (capped at ``max_depth``), so cost is O(rules x depth) extra
        regexes over the missed rows only.
        """
        labeled = self.label(df, col)
        value = F.col(col)
        best_rule: Column = F.lit(None).cast("string")
        best_depth: Column = F.lit(0)
        for cr in self.rules:
            depth: Column = F.lit(0)
            for pr in _prefix_rules(cr.rule, max_depth):
                # rlike, not parts_col+matched_col: the prefix patterns are
                # anchored (^...(.*)$), so a full-match test is equivalent
                # to "replace+split produced n_groups parts" — without the
                # replacement string build + split array alloc per prefix
                # (measured 3.5x on the diagnostics query, 5.2 s -> 1.5 s sf0.1;
                # same trick the vacuous-match guard already uses)
                pre = apply_preprocs(value, pr.rule.preprocs)
                depth = depth + pre.rlike(pr.pattern).cast("int")
            deeper = depth > best_depth
            best_rule = F.when(deeper, F.lit(cr.key)).otherwise(best_rule)
            best_depth = F.when(deeper, depth).otherwise(best_depth)
        is_miss = F.col("_disposition") == "miss"
        # The O(rules x depth) prefix regexes are CASE-gated behind the
        # miss check and materialized once in an intermediate projection
        # (referenced twice below, so CollapseProject keeps it): hit rows
        # skip the entire diagnostic scan in codegen, matching the
        # reference where diagnostics only run on the failure path.
        diag = F.when(
            is_miss,
            F.struct(best_rule.alias("r"), best_depth.alias("d")),
        )
        tmp = labeled.select("*", diag.alias("__diag"))
        return tmp.select(
            *labeled.columns,
            F.col("__diag.r").alias("_best_rule"),
            F.col("__diag.d").alias("_parse_depth"),
        )

    def parse(self, df: DataFrame, col: str = "value") -> dict[str, DataFrame]:
        """Split into per-rule typed DataFrames + '__miss__' branch.

        Reuses one labeled scan; per-rule extraction filters to that rule's
        rows first so each regex re-runs only on its own subset.
        """
        labeled = self.label(df, col)
        out: dict[str, DataFrame] = {}
        extra = [c for c in df.columns if c != col]
        for cr in self.rules:
            sub = labeled.where(F.col("_rule") == cr.key).drop(
                "_rule", "_disposition", "_residue"
            )
            parsed_names = {o.name for o in cr.outputs}
            keep = [c for c in extra if c not in parsed_names]
            out[cr.key] = cr.extract(sub, col, keep=keep)
        out["__miss__"] = labeled.where(
            F.col("_disposition") == "miss"
        )
        return out


# Grammar whitelist (docs/usage/en/03-wpl/06-grammar-reference.md
# `builtin_type`): the set of field types the compiler dispatches
# specially; anything else silently compiles to the chars fallback, so
# validation tooling (wproj check) flags unknown names as likely typos.
KNOWN_FIELD_TYPES = frozenset(
    {
        "auto", "bool", "chars", "symbol", "peek_symbol", "digit", "float",
        "_", "sn", "time", "time/clf", "time_iso", "time_3339", "time_2822",
        "time_timestamp", "ip", "ip_net", "port", "domain", "email", "hex",
        "base64", "kv", "kvarr", "json", "exact_json", "url", "proto_text",
        "obj", "id_card", "mobile_phone", "http/request", "http/status",
        "http/agent", "http/method", "array",
    }
)


def unknown_field_types(rule: "WplRule") -> list[str]:
    """Field type names in `rule` outside the grammar whitelist (array/T
    parameterizations and explicit-length chars forms are resolved before
    this check). Used by wproj check — the compiler itself keeps the
    permissive chars fallback for runtime compatibility."""
    bad: list[str] = []

    def walk(items):
        for item in items:
            if isinstance(item, WplGroup):
                walk(item.items)
                continue
            t = item.dtype
            if t.startswith("array"):
                t = "array"
            if t not in KNOWN_FIELD_TYPES:
                bad.append(item.dtype)

    for grp in rule.groups:
        walk(grp.items)
    return bad
