"""PromQL text front-end: parse → evaluate on Spark DataFrames.

The reference is a Prometheus REMOTE-STORAGE backend: PromQL itself is
evaluated by the Prometheus client, the reference only serves raw
matcher+range reads (/root/reference/README.md:7, src/server.rs:76-113;
the func/step ReadHints are parsed but unread,
/root/reference/src/proto/types.rs:1248-1257). This engine already
evaluates the function surface server-side (workload.py ts_* rows,
operators/timeseries.py builders); this module adds the missing text
entry so the surface is self-serve: a query string goes in, a
DataFrame comes out.

Scope and semantics (documented divergences from Prometheus, chosen to
match this repo's established, oracle-verified conventions):

- Two evaluation modes over one operator layer: eval_instant at one
  ``eval_ms``, and eval_range over a whole step grid in one pass (each
  step a window id, ``__w``, the operators key on). The modes differ
  only in how samples are selected; every range function, aggregation,
  vector match and transform is one function both call.
- Range windows are INCLUSIVE on both ends — ``m[5m]`` at T reads
  ts ∈ [T-5m, T] — matching the engine's F3 inclusive trim
  (SURVEY §7.2 M1), where Prometheus uses a left-open window.
- rate() follows this repo's covered-span form (reset-corrected step
  sum over [first-step ts, last ts], ts_rate), not Prometheus's
  boundary extrapolation.
- Ordering ties break by (timestamp, value) everywhere, so duplicate
  timestamps evaluate identically on Spark and the DuckDB oracle.
- Vector-vector binary ops match 1:1 (full label set by default,
  narrowed with on/ignoring); a key matching more than one series on
  either side raises at execution — Prometheus's many-to-many error.
  group_left/group_right give many-to-one matching: extra labels are
  copied from the unique one-side partner (duplicate one-side rows
  raise at execution); a group modifier requires an explicit
  on/ignoring clause and is rejected with set operators. The set
  operators and/or/unless are keyed semi/anti/union joins. The `@`
  modifier pins a selector/subquery to a fixed unix-seconds anchor —
  or to `start()`/`end()`, which both equal the evaluation time in an
  instant query and the range bounds in a range query; eval_range
  evaluates a fully-pinned subtree once as an instant query at its
  anchors and fans the result across the step grid. Subqueries
  are supported for range-function inners (``max_over_time(rate(m[5d])
  [15d:5d])``), the shape ts_subquery_max_rate pins: the outer range
  is tiled by step-width windows anchored at the range start, the
  inner function runs isolated per window (counter resets never leak
  across evaluations).

Functions: rate increase delta idelta irate resets changes deriv
predict_linear holt_winters <agg>_over_time (avg/sum/min/max/count/
last/stddev/stdvar/present) quantile_over_time mad_over_time
ts_of_max/ts_of_min/ts_of_last_over_time (3.5 experimental)
(experimental-promql-functions) histogram_quantile
histogram_fraction (over classic le-buckets — the faithful form for
an engine that classic-expands native histograms at ingest) abs
ceil floor exp ln log2 log10 sqrt sgn round clamp clamp_min clamp_max
sin cos tan asin acos atan sinh cosh tanh deg rad pi minute hour
day_of_week day_of_month days_in_month month year timestamp sort
sort_desc sort_by_label sort_by_label_desc absent absent_over_time
scalar vector time label_replace
label_join info (3.x experimental — target_info data-label
enrichment on the (job, instance) identity, the OTLP receiver's
companion); Inf/NaN number literals; aggregation
operators sum avg min max count stddev stdvar group count_values topk
bottomk quantile limitk limit_ratio with by/without (limitk picks a
DETERMINISTIC k — ordered by md5(signature) — where the Prometheus
spec leaves the choice open; limit_ratio hash-samples on the same
md5-prefix uniform, honoring the r / -(1-r) complement contract). Matchers: EQ/NEQ/RE/NRE; ``offset``
and ``@`` on selectors/subqueries. scalar() resolves its
single-series operand driver-side
(a bounded 1-row collect — the one documented driver touch).

Scale shape: every range function is one (series, time)-sorted window
or one map-combinable aggregation per series (per window in range
mode); aggregations re-key by the grouped label subset's signature;
nothing collects to the driver. Builder-backed functions (irate/
idelta/deriv/predict_linear/holt_winters/resets/changes) carry the
labels through their grouping key as its entries array, so no second
pass re-attaches them.
"""

from __future__ import annotations

import dataclasses
import math
import operator
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from monolith_spark.labels import (
    LabelMatcher,
    matcher_predicate,
    signature_expr,
    signature_sql_text,
    sql_str_lit,
)
from monolith_spark.operators import timeseries as _tsops
from monolith_spark.operators.text import hash60_expr as _hash60

DEFAULT_LOOKBACK_MS = 300_000
# Tiled range-mode fan-out cap: a range function with range = k*step
# explodes each sample into the k consecutive windows it covers; k is
# bounded so a pathological range/step ratio cannot multiply the
# shuffle unboundedly (Grafana's $__rate_interval ~ 4x step fits with
# room to spare).
RANGE_TILE_MAX_K = 16
# the window-id key range evaluation adds to every shared operator
_W = ("__w",)
_DEC = "decimal(28,6)"

# --------------------------------------------------------------------- AST


@dataclass(frozen=True)
class Number:
    value: float


@dataclass(frozen=True)
class StringLit:
    value: str


@dataclass(frozen=True)
class Selector:
    name: str | None
    matchers: tuple[LabelMatcher, ...]
    range_ms: int | None = None  # None → instant selector
    offset_ms: int = 0
    # `@ <unix-seconds>` fixed anchor, or "start"/"end" (`@ start()`)
    at_ms: int | str | None = None


@dataclass(frozen=True)
class Subquery:
    expr: Any
    range_ms: int
    step_ms: int
    offset_ms: int = 0
    at_ms: int | str | None = None


@dataclass(frozen=True)
class Call:
    func: str
    args: tuple[Any, ...]


@dataclass(frozen=True)
class Agg:
    op: str
    expr: Any
    param: Any = None  # k for topk/bottomk, φ for quantile
    by: tuple[str, ...] | None = None
    without: tuple[str, ...] | None = None


@dataclass(frozen=True)
class BinOp:
    op: str
    lhs: Any
    rhs: Any
    bool_mode: bool = False
    # vector matching: None → match on the FULL label set;
    # ("on", labels) / ("ignoring", labels) → match on the subset
    match: tuple[str, tuple[str, ...]] | None = None
    # many-to-one matching: ("left"|"right", extra-labels-from-one-side);
    # requires an explicit on/ignoring clause (Prometheus grammar)
    group: tuple[str, tuple[str, ...]] | None = None


@dataclass(frozen=True)
class Unary:
    op: str
    expr: Any


# ------------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<DURATION>(?:\d+(?:ms|s|m|h|d|w|y))+)
  | (?P<NUMBER>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
  | (?P<IDENT>[a-zA-Z_][a-zA-Z0-9_:]*)
  | (?P<STRING>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<OP>=~|!~|!=|==|>=|<=|[-+*/%^(){}\[\],=<>:@])
    """,
    re.VERBOSE,
)

_DUR_UNIT_MS = {
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
    "d": 86_400_000, "w": 604_800_000, "y": 31_536_000_000,
}

_AGG_OPS = {"sum", "avg", "min", "max", "count", "stddev", "stdvar",
            "group", "count_values", "topk", "bottomk", "quantile",
            "limitk", "limit_ratio"}


def parse_duration_ms(text: str) -> int:
    total, pos = 0, 0
    for m in re.finditer(r"(\d+)(ms|s|m|h|d|w|y)", text):
        if m.start() != pos:
            raise ValueError(f"bad duration: {text!r}")
        total += int(m.group(1)) * _DUR_UNIT_MS[m.group(2)]
        pos = m.end()
    if pos != len(text) or total == 0:
        raise ValueError(f"bad duration: {text!r}")
    return total


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise ValueError(f"PromQL lex error at {text[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "WS":
            out.append((kind, m.group()))
    out.append(("EOF", ""))
    return out


# ------------------------------------------------------------------ parser

# the comparison operators, each with its Column/float function
_CMP = {"==": operator.eq, "!=": operator.ne, ">": operator.gt,
        "<": operator.lt, ">=": operator.ge, "<=": operator.le}
# precedence: higher binds tighter; ^ is right-associative
_BIN_PREC = {"or": 1, "and": 2, "unless": 2,
             "==": 3, "!=": 3, ">": 3, "<": 3, ">=": 3, "<=": 3,
             "+": 4, "-": 4, "*": 5, "/": 5, "%": 5, "atan2": 5, "^": 6}


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        k, v = self.next()
        if v != text:
            raise ValueError(f"expected {text!r}, got {v!r}")

    def parse(self):
        e = self.parse_binary(0)
        if self.peek()[0] != "EOF":
            raise ValueError(f"trailing input at {self.peek()[1]!r}")
        return e

    def parse_binary(self, min_prec: int):
        lhs = self.parse_unary()
        while True:
            k, v = self.peek()
            op = v if v in _BIN_PREC and (k == "OP" or k == "IDENT") else None
            if op is None or _BIN_PREC[op] < min_prec:
                return lhs
            self.next()
            bool_mode = False
            if op in _CMP and self.peek() == ("IDENT", "bool"):
                self.next()
                bool_mode = True
            match = None
            if self.peek()[1] in ("on", "ignoring"):
                kind = self.next()[1]
                self.expect("(")
                names = []
                if self.peek()[1] != ")":
                    while True:
                        ik, iv = self.next()
                        if ik == "STRING":
                            iv = _unquote(iv)  # 3.x quoted label name
                        elif ik != "IDENT":
                            raise ValueError(f"expected label, got {iv!r}")
                        names.append(iv)
                        if self.peek()[1] == ",":
                            self.next()
                            continue
                        break
                self.expect(")")
                match = (kind, tuple(names))
            group = None
            if self.peek()[1] in ("group_left", "group_right"):
                gkind = "left" if self.next()[1] == "group_left" else "right"
                if match is None:
                    raise ValueError(
                        "group_left/group_right requires an explicit "
                        "on/ignoring clause"
                    )
                if op in ("and", "or", "unless"):
                    raise ValueError(
                        f"group modifiers are not allowed with {op!r}"
                    )
                extras: list[str] = []
                if self.peek()[1] == "(":
                    self.next()
                    while self.peek()[1] != ")":
                        ik, iv = self.next()
                        if ik == "STRING":
                            iv = _unquote(iv)  # 3.x quoted label name
                        elif ik != "IDENT":
                            raise ValueError(f"expected label, got {iv!r}")
                        extras.append(iv)
                        if self.peek()[1] == ",":
                            self.next()
                    self.expect(")")
                if match[0] == "on":
                    clash = set(extras) & set(match[1])
                    if clash:
                        raise ValueError(
                            f"label {sorted(clash)[0]!r} must not occur in "
                            "both on() and the group clause"
                        )
                group = (gkind, tuple(extras))
            nxt = _BIN_PREC[op] + (0 if op == "^" else 1)
            rhs = self.parse_binary(nxt)
            lhs = BinOp(op, lhs, rhs, bool_mode, match, group)

    def parse_unary(self):
        k, v = self.peek()
        if k == "OP" and v in ("-", "+"):
            self.next()
            return Unary(v, self.parse_unary())
        return self.parse_postfix(self.parse_atom())

    def parse_postfix(self, e):
        while True:
            k, v = self.peek()
            if v == "[":
                self.next()
                dk, dv = self.next()
                if dk != "DURATION":
                    raise ValueError(f"expected duration, got {dv!r}")
                rng = parse_duration_ms(dv)
                if self.peek()[1] == ":":
                    self.next()
                    sk, sv = self.next()
                    if sk != "DURATION":
                        raise ValueError(f"expected step duration, got {sv!r}")
                    self.expect("]")
                    e = Subquery(e, rng, parse_duration_ms(sv))
                else:
                    self.expect("]")
                    if not isinstance(e, Selector) or e.range_ms is not None:
                        raise ValueError("range suffix only valid on a selector")
                    e = Selector(e.name, e.matchers, rng, e.offset_ms, e.at_ms)
            elif (k, v) == ("IDENT", "offset"):
                self.next()
                dk, dv = self.next()
                if dk != "DURATION":
                    raise ValueError(f"expected duration after offset, got {dv!r}")
                off = parse_duration_ms(dv)
                if isinstance(e, Selector):
                    e = Selector(e.name, e.matchers, e.range_ms,
                                 e.offset_ms + off, e.at_ms)
                elif isinstance(e, Subquery):
                    e = Subquery(e.expr, e.range_ms, e.step_ms,
                                 e.offset_ms + off, e.at_ms)
                else:
                    raise ValueError("offset only valid on a selector/subquery")
            elif (k, v) == ("OP", "@"):
                self.next()
                nk, nv = self.next()
                if nk == "IDENT" and nv in ("start", "end"):
                    # `@ start()` / `@ end()` — the range-query anchor
                    # functions; in an instant query both equal the
                    # evaluation time (Prometheus semantics)
                    self.expect("(")
                    self.expect(")")
                    at: int | str = nv
                elif nk != "NUMBER":
                    raise ValueError(
                        f"expected a unix-seconds timestamp or start()/end() "
                        f"after @, got {nv!r}"
                    )
                else:
                    at = int(round(float(nv) * 1000))
                if isinstance(e, Selector):
                    e = Selector(e.name, e.matchers, e.range_ms, e.offset_ms, at)
                elif isinstance(e, Subquery):
                    e = Subquery(e.expr, e.range_ms, e.step_ms, e.offset_ms, at)
                else:
                    raise ValueError("@ only valid on a selector/subquery")
            else:
                return e

    def parse_atom(self):
        k, v = self.next()
        if k == "NUMBER":
            return Number(float(v))
        if k == "STRING":
            return StringLit(_unquote(v))
        if v == "(":
            e = self.parse_binary(0)
            self.expect(")")
            return e
        if v == "{":
            bname, bms = self.parse_matchers_body()
            return Selector(bname, bms)
        if k == "IDENT":
            if v in ("by", "without", "offset", "bool"):
                raise ValueError(f"unexpected keyword {v!r}")
            if v in _AGG_OPS:
                return self.parse_agg(v)
            if v.lower() == "inf" and self.peek()[1] not in ("(", "{"):
                # Prometheus reserves Inf/NaN as number literals (any
                # case); a metric of that name needs the {} form
                return Number(float("inf"))
            if v.lower() == "nan" and self.peek()[1] not in ("(", "{"):
                return Number(float("nan"))
            nk, nv = self.peek()
            if nv == "(":
                self.next()
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_binary(0))
                    while self.peek()[1] == ",":
                        self.next()
                        args.append(self.parse_binary(0))
                self.expect(")")
                return Call(v, tuple(args))
            if nv == "{":
                self.next()
                bname, bms = self.parse_matchers_body()
                if bname is not None:
                    raise ValueError(
                        f"metric name specified twice: {v!r} and {bname!r}")
                return Selector(v, bms)
            # bare metric name
            return Selector(v, ())
        raise ValueError(f"unexpected token {v!r}")

    def parse_matchers_body(self) -> tuple[str | None, tuple[LabelMatcher, ...]]:
        """Brace body — Prometheus 3.x UTF-8 name syntax included:
        label names may be quoted strings ({"my.label"="x"}), and a
        BARE quoted string as the first item is the metric name
        ({"my metric", job="api"}). Returns (metric_name_or_None,
        matchers)."""
        ms: list[LabelMatcher] = []
        name_in_braces: str | None = None
        first = True
        if self.peek()[1] != "}":
            while True:
                nk, name = self.next()
                if nk == "STRING" and self.peek()[1] in (",", "}"):
                    # bare quoted string: the UTF-8 metric name
                    if not first:
                        raise ValueError(
                            "quoted metric name must be the first item "
                            "in the braces")
                    name_in_braces = _unquote(name)
                    first = False
                    if self.peek()[1] == ",":
                        self.next()
                        continue
                    break
                if nk == "STRING":
                    name = _unquote(name)  # quoted label name
                elif nk != "IDENT":
                    raise ValueError(f"expected label name, got {name!r}")
                first = False
                _, op = self.next()
                if op not in ("=", "!=", "=~", "!~"):
                    raise ValueError(f"bad matcher op {op!r}")
                sk, sv = self.next()
                if sk != "STRING":
                    raise ValueError(f"expected quoted value, got {sv!r}")
                mtype = {"=": "EQ", "!=": "NEQ", "=~": "RE", "!~": "NRE"}[op]
                ms.append(LabelMatcher(name, _unquote(sv), mtype))
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
        self.expect("}")
        return name_in_braces, tuple(ms)

    def parse_agg(self, op: str):
        by = without = None
        param = None

        def clause():
            nonlocal by, without
            k, v = self.peek()
            if (k, v) == ("IDENT", "by") or (k, v) == ("IDENT", "without"):
                self.next()
                self.expect("(")
                names = []
                if self.peek()[1] != ")":
                    while True:
                        ik, iv = self.next()
                        if ik == "STRING":
                            iv = _unquote(iv)  # 3.x quoted label name
                        elif ik != "IDENT":
                            raise ValueError(f"expected label, got {iv!r}")
                        names.append(iv)
                        if self.peek()[1] == ",":
                            self.next()
                            continue
                        break
                self.expect(")")
                if v == "by":
                    by = tuple(names)
                else:
                    without = tuple(names)

        clause()
        self.expect("(")
        first = self.parse_binary(0)
        if op in ("topk", "bottomk", "quantile", "count_values",
                  "limitk", "limit_ratio"):
            self.expect(",")
            expr = self.parse_binary(0)
            param = first
        else:
            expr = first
        self.expect(")")
        clause()
        return Agg(op, expr, param, by, without)


def _unquote(s: str) -> str:
    body = s[1:-1]
    return re.sub(
        r"\\(.)",
        lambda m: {"n": "\n", "t": "\t", "\\": "\\", '"': '"', "'": "'"}.get(
            m.group(1), m.group(1)
        ),
        body,
    )


def parse(text: str):
    """Parse a PromQL expression to its AST (raises ValueError)."""
    return _Parser(text).parse()


# -------------------------------------------------------------- formatter


_MATCH_OP = {"EQ": "=", "NEQ": "!=", "RE": "=~", "NRE": "!~"}


def format_duration_ms(ms: int) -> str:
    """Compact duration text that parse_duration_ms inverts exactly."""
    if ms <= 0:
        raise ValueError(f"cannot format non-positive duration {ms}ms")
    parts = []
    for unit, width in (("y", 31_536_000_000), ("w", 604_800_000),
                        ("d", 86_400_000), ("h", 3_600_000),
                        ("m", 60_000), ("s", 1000), ("ms", 1)):
        n, ms = divmod(ms, width)
        if n:
            parts.append(f"{n}{unit}")
    return "".join(parts)


def _quote(s: str) -> str:
    # Escape control whitespace too: the parser accepts raw newlines in
    # quoted strings, but canonical text should stay one line.
    return (
        '"'
        + s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\t", "\\t")
        + '"'
    )


def _fmt_modifiers(node) -> str:
    out = ""
    if isinstance(node.at_ms, str):
        out += f" @ {node.at_ms}()"
    elif node.at_ms is not None:
        out += f" @ {node.at_ms / 1000!r}"
    if node.offset_ms:
        out += f" offset {format_duration_ms(node.offset_ms)}"
    return out


# \Z, not $: re's $ also matches just before a trailing newline, so a
# name like "a\n" would wrongly count as a bare legacy identifier and
# be emitted unquoted (caught by the parse∘format fuzz property).
_METRIC_IDENT_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*\Z")
_LABEL_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*\Z")


def _fmt_label_name(n: str) -> str:
    """Label name in canonical text: bare when it is a legacy
    identifier, quoted otherwise (the Prometheus 3.x UTF-8 rule)."""
    return n if _LABEL_IDENT_RE.match(n) else _quote(n)


def format_expr(node) -> str:
    """Canonical text for an AST — the /api/v1/format_query analog.
    The invariant the tests pin: parse(format_expr(parse(q))) ==
    parse(q) for every q the repo evaluates. Children of binary
    operators are parenthesized unconditionally — correctness over
    minimal output."""
    if isinstance(node, str):
        node = parse(node)
    if isinstance(node, Number):
        if node.value != node.value:  # NaN
            return "NaN"
        if node.value in (float("inf"), float("-inf")):
            return "Inf" if node.value > 0 else "-Inf"
        return f"{node.value!r}"
    if isinstance(node, StringLit):
        return _quote(node.value)
    if isinstance(node, Selector):
        ms = ", ".join(
            f"{_fmt_label_name(m.name)}{_MATCH_OP[m.type]}{_quote(m.value)}"
            for m in node.matchers
        )
        if node.name is not None and (
            not _METRIC_IDENT_RE.match(node.name)
            or node.name.lower() in ("inf", "nan")  # number literals
        ):
            # Prometheus 3.x UTF-8 metric name: quoted, first in braces
            body = "{" + _quote(node.name) + (f", {ms}" if ms else "") + "}"
        else:
            body = (node.name or "") + (
                f"{{{ms}}}" if ms or not node.name else "")
        rng = f"[{format_duration_ms(node.range_ms)}]" if node.range_ms else ""
        return body + rng + _fmt_modifiers(node)
    if isinstance(node, Subquery):
        return (
            f"{format_expr(node.expr)}"
            f"[{format_duration_ms(node.range_ms)}:"
            f"{format_duration_ms(node.step_ms)}]" + _fmt_modifiers(node)
        )
    if isinstance(node, Call):
        return f"{node.func}({', '.join(format_expr(a) for a in node.args)})"
    if isinstance(node, Agg):
        clause = ""
        if node.by is not None:
            clause = f" by ({', '.join(map(_fmt_label_name, node.by))})"
        elif node.without is not None:
            clause = (
                f" without ({', '.join(map(_fmt_label_name, node.without))})"
            )
        args = ([format_expr(node.param) + ", "] if node.param is not None
                else [""])[0]
        return f"{node.op}{clause} ({args}{format_expr(node.expr)})"
    if isinstance(node, BinOp):
        op = node.op + (" bool" if node.bool_mode else "")
        if node.match is not None:
            op += (
                f" {node.match[0]} "
                f"({', '.join(map(_fmt_label_name, node.match[1]))})"
            )
        if node.group is not None:
            # always emit the label list (empty ok) — a bare modifier
            # followed by the parenthesized rhs would re-parse the rhs
            # parens as the list
            op += (
                f" group_{node.group[0]} "
                f"({', '.join(map(_fmt_label_name, node.group[1]))})"
            )
        return f"({format_expr(node.lhs)}) {op} ({format_expr(node.rhs)})"
    if isinstance(node, Unary):
        return f"{node.op}({format_expr(node.expr)})"
    raise ValueError(f"cannot format {node!r}")


def ast_to_dict(node) -> dict:
    """The parsed AST as plain JSON-able dicts, each node tagged with
    its kind — the /api/v1/parse_query payload (the Prometheus 3.x
    experimental endpoint, serving THIS engine's AST dialect: field
    names match the dataclasses above; Prometheus's internal AST JSON
    is not a stable public schema to clone, so tooling should key on
    this documented shape, which format_expr round-trips)."""
    if isinstance(node, str):
        node = parse(node)
    if isinstance(node, Number):
        return {"kind": "number", "value": node.value}
    if isinstance(node, StringLit):
        return {"kind": "string", "value": node.value}
    if isinstance(node, Selector):
        return {
            "kind": "selector",
            "name": node.name,
            "matchers": [
                {"name": m.name, "op": _MATCH_OP[m.type], "value": m.value}
                for m in node.matchers
            ],
            "range_ms": node.range_ms,
            "offset_ms": node.offset_ms,
            "at": node.at_ms,
        }
    if isinstance(node, Subquery):
        return {
            "kind": "subquery",
            "expr": ast_to_dict(node.expr),
            "range_ms": node.range_ms,
            "step_ms": node.step_ms,
            "offset_ms": node.offset_ms,
            "at": node.at_ms,
        }
    if isinstance(node, Call):
        return {
            "kind": "call",
            "func": node.func,
            "args": [ast_to_dict(a) for a in node.args],
        }
    if isinstance(node, Agg):
        return {
            "kind": "aggregation",
            "op": node.op,
            "expr": ast_to_dict(node.expr),
            "param": None if node.param is None else ast_to_dict(node.param),
            "by": list(node.by) if node.by is not None else None,
            "without": (
                list(node.without) if node.without is not None else None
            ),
        }
    if isinstance(node, BinOp):
        return {
            "kind": "binary",
            "op": node.op,
            "bool": node.bool_mode,
            "match": (
                None
                if node.match is None
                else {"on": node.match[0] == "on",
                      "labels": list(node.match[1])}
            ),
            "group": (
                None
                if node.group is None
                else {"side": node.group[0], "labels": list(node.group[1])}
            ),
            "lhs": ast_to_dict(node.lhs),
            "rhs": ast_to_dict(node.rhs),
        }
    if isinstance(node, Unary):
        return {"kind": "unary", "op": node.op,
                "expr": ast_to_dict(node.expr)}
    raise ValueError(f"cannot serialize {node!r}")


# --------------------------------------------------------------- evaluator


@dataclass
class _Ctx:
    samples: DataFrame  # [labels map, timestamp long ms, value double]
    eval_ms: int
    lookback_ms: int


def time_window(expr, eval_ms: int, lookback_ms: int = DEFAULT_LOOKBACK_MS) -> tuple[int, int]:
    """The inclusive [lo, hi] sample window an instant evaluation of
    ``expr`` at ``eval_ms`` can touch — the union of every selector's
    absolute span (selector lookback for instant selectors, range for
    range selectors, the tile interval for subqueries, `@` anchors
    taken absolutely, offsets tightening both ends). Lets a serving
    layer scan ONLY the needed chunk partitions before handing the
    pruned DataFrame to eval_instant. With a future `@` anchor, hi can
    exceed eval_ms."""
    if isinstance(expr, str):
        expr = parse(expr)
    spans: list[tuple[int, int]] = []

    def walk(node, off_lo: int, off_hi: int, anchor: int) -> None:
        # [off_lo, off_hi] is the interval of reach-backs the enclosing
        # subqueries evaluate this subtree at (a subquery's inner
        # expression runs once per tile, from `offset` to
        # `offset+range` before the anchor); a node's own `@` resets
        # the anchor — and the accumulated reach — absolutely.
        if isinstance(node, Selector):
            if node.at_ms is not None:
                at = eval_ms if isinstance(node.at_ms, str) else node.at_ms
                anchor, off_lo, off_hi = at, 0, 0
            hi = anchor - off_lo - node.offset_ms
            lo = anchor - off_hi - node.offset_ms - (node.range_ms or lookback_ms)
            spans.append((lo, hi))
        elif isinstance(node, Subquery):
            if node.at_ms is not None:
                at = eval_ms if isinstance(node.at_ms, str) else node.at_ms
                walk(node.expr, node.offset_ms,
                     node.offset_ms + node.range_ms, at)
            else:
                walk(node.expr, off_lo + node.offset_ms,
                     off_hi + node.offset_ms + node.range_ms, anchor)
        elif isinstance(node, Call):
            for a in node.args:
                walk(a, off_lo, off_hi, anchor)
        elif isinstance(node, Agg):
            walk(node.expr, off_lo, off_hi, anchor)
            if node.param is not None:
                walk(node.param, off_lo, off_hi, anchor)
        elif isinstance(node, BinOp):
            walk(node.lhs, off_lo, off_hi, anchor)
            walk(node.rhs, off_lo, off_hi, anchor)
        elif isinstance(node, Unary):
            walk(node.expr, off_lo, off_hi, anchor)

    walk(expr, 0, 0, eval_ms)
    if not spans:  # selector-free expression touches no samples
        return eval_ms, eval_ms
    return min(lo for lo, _ in spans), max(hi for _, hi in spans)


def eval_instant(
    samples: DataFrame,
    expr,
    eval_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    """Evaluate ``expr`` (AST or text) as an instant query at
    ``eval_ms`` over a [labels, timestamp, value] DataFrame. Returns
    [signature, labels, value] — one row per output series."""
    if isinstance(expr, str):
        expr = parse(expr)
    ctx = _Ctx(samples, eval_ms, lookback_ms)
    kind, v = _eval(expr, ctx)
    if kind == "scalar":
        return _unlabelled(
            samples.sparkSession.range(1), F.lit(float(v)).cast("double"))
    return v


def _unlabelled(df: DataFrame, value, *keys) -> DataFrame:
    """One series with the empty label set per row of ``df`` — scalar
    results, vector() and absence markers."""
    return df.select(
        F.lit("").alias("signature"),
        F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ).alias("labels"),
        *keys,
        value.alias("value"),
    )


def _absent_marker(vec: DataFrame) -> DataFrame:
    """absent() in an instant query: one empty-labelled 1.0 when the
    vector has no rows, else nothing."""
    empty = vec.groupBy().agg(F.count("*").alias("__n")).filter(
        F.col("__n") == 0)
    return _unlabelled(empty, F.lit(1.0))


def _eval(node, ctx: _Ctx):
    if isinstance(node, Number):
        return ("scalar", node.value)
    if isinstance(node, StringLit):
        raise ValueError("string literal outside a function argument")
    if isinstance(node, Unary):
        kind, v = _eval(node.expr, ctx)
        if node.op == "+":
            return (kind, v)
        if kind == "scalar":
            return ("scalar", -v)
        return ("vector", _value_transform(v, "-"))
    if isinstance(node, Selector):
        if node.range_ms is not None:
            raise ValueError("range vector where an instant value is expected")
        return ("vector", _instant_selector(node, ctx))
    if isinstance(node, Subquery):
        raise ValueError("subquery only supported inside *_over_time functions")
    if isinstance(node, Call):
        return _eval_call(node, ctx)
    if isinstance(node, Agg):
        return _eval_agg(node, ctx)
    if isinstance(node, BinOp):
        return _eval_binop(node, ctx)
    raise ValueError(f"cannot evaluate {node!r}")


# -- selectors ----------------------------------------------------------


def _base(node: Selector, ctx: _Ctx, time_pred=None) -> DataFrame:
    """Matcher (+ optional time) filter and the signature projection in
    at most TWO DataFrame hops — every hop costs a full eager
    re-analysis of the lineage on the driver, which at sub-second
    query sizes is a measurable slice of the wall time (§7.3)."""
    df = ctx.samples
    ms = list(node.matchers)
    if node.name is not None:
        ms = [LabelMatcher("__name__", node.name, "EQ"), *ms]
    pred = matcher_predicate("labels", ms) if ms else None
    if time_pred is not None:
        pred = time_pred if pred is None else (pred & time_pred)
    if pred is not None:
        df = df.filter(pred)
    if "signature" not in df.columns:
        df = df.select(
            signature_expr("labels").alias("signature"),
            "labels", "timestamp", "value",
        )
    elif df.columns != ["signature", "labels", "timestamp", "value"]:
        df = df.select("signature", "labels", "timestamp", "value")
    return df


def _anchor_ms(node, ctx: _Ctx) -> int:
    """The effective evaluation anchor for a selector/subquery: its
    `@` timestamp when present, else the query's eval time. `offset`
    shifts relative to the anchor (Prometheus semantics). The
    `start()`/`end()` anchor functions both equal the evaluation time
    in an instant query (the only mode that reaches here — eval_range
    rejects @ on tiles)."""
    if isinstance(node.at_ms, str):
        return ctx.eval_ms
    return node.at_ms if node.at_ms is not None else ctx.eval_ms


def _range_df(node: Selector, ctx: _Ctx) -> tuple[DataFrame, int, int]:
    end = _anchor_ms(node, ctx) - node.offset_ms
    start = end - (node.range_ms or 0)
    df = _base(
        node, ctx,
        (F.col("timestamp") >= start) & (F.col("timestamp") <= end),
    )
    return df, start, end


def _instant_selector(
    node: Selector, ctx: _Ctx, field: str = "value"
) -> DataFrame:
    end = _anchor_ms(node, ctx) - node.offset_ms
    start = end - ctx.lookback_ms
    df = _base(
        node, ctx,
        (F.col("timestamp") >= start) & (F.col("timestamp") <= end),
    )
    return _last_point(df, field)


def _last_point(
    df: DataFrame, field: str, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """Each series' newest point (per window in range mode): its value,
    or with ``field="timestamp"`` its own timestamp in seconds — the
    instant selector and timestamp(). struct-max gives the (ts desc,
    value desc) deterministic pick with map-side partials; labels ride
    separately (maps aren't orderable)."""
    top = F.col(f"__top.{field}")
    if field == "timestamp":
        top = (top / F.lit(1000.0)).cast("double")
    return (
        df.groupBy("signature", *extra_keys)
        .agg(
            F.max(F.struct("timestamp", "value")).alias("__top"),
            F.first("labels").alias("labels"),
        )
        .select("signature", "labels", *extra_keys, top.alias("value"))
    )


# -- the range-function layer ---------------------------------------------


def _hashable_group(df: DataFrame, keys: list, label_src: str, *aggs) -> DataFrame:
    """groupBy(*keys, map_entries(label_src)).agg(*aggs) with the label
    map rebuilt post-agg as ``labels`` — the HashAggregate-eligible form
    of groupBy(keys).agg(first(label_src), ...). A map-typed FIRST agg
    buffer refuses hash aggregation (Spark 4.1 plans a SortAggregate at
    the INPUT grain, paying a per-partition sort of every sample), but
    the map's ENTRIES array is a valid var-width grouping key, and
    map_from_entries(map_entries(m)) round-trips the map byte-for-byte,
    entry order included. Sound only because every key set used here
    functionally determines the label map (signature ↔ labels is
    injective), so the added key never changes the group grain. Only
    call this when every agg buffer is hashable (fixed-width or
    typed-imperative like collect_list); for struct-max buffers the agg
    sort-aggregates regardless and the wider sort key would only slow
    the tie-break comparisons — keep first(labels) there."""
    g = df.groupBy(*keys, F.map_entries(label_src).alias("__lent"))
    return (
        g.agg(*aggs)
        .withColumn("labels", F.map_from_entries("__lent"))
        .drop("__lent")
    )


# over_time ops whose agg buffer is a struct (max/min of struct) — those
# sort-aggregate no matter how labels travel, so they keep first(labels)
_STRUCT_BUFFER_OPS = frozenset(("last", "ts_of_max", "ts_of_min"))


def _rate(
    pts: DataFrame, f: str, extra_keys: tuple[str, ...] = (),
    range_ms: int | None = None,
) -> DataFrame:
    """rate/increase/delta: the sum of each group's consecutive steps in
    DECIMAL (order-free) — reset-corrected for rate and increase
    (ts_rate's exact construction), plain differences for delta. rate
    divides by ``range_ms`` (range and subquery evaluation) or, with
    None (instant evaluation), by the span its steps cover, dropping a
    series whose steps share one timestamp (PARITY.md)."""
    w = Window.partitionBy("signature", *extra_keys).orderBy(
        "timestamp", "value")
    dec = F.col("value").cast(_DEC)
    prev = F.lag(dec).over(w)
    step = (
        F.when(prev.isNull(), F.lit(None)).otherwise(dec - prev)
        if f == "delta" else _tsops.counter_step(dec, prev)
    )
    span = f == "rate" and range_ms is None
    stepped = pts.select(
        "signature", "labels", *extra_keys,
        *([F.col("timestamp").alias("ts_ms")] if span else []),
        step.alias("__step"),
    ).filter(F.col("__step").isNotNull())
    out = _hashable_group(
        stepped,
        ["signature", *extra_keys],
        "labels",
        F.sum("__step").cast("double").alias("value"),
        *([F.min("ts_ms").alias("__mn"), F.max("ts_ms").alias("__mx")]
          if span else []),
    )
    val = F.col("value")
    if span:
        out = out.filter(F.col("__mx") > F.col("__mn"))
        val = val / (F.col("__mx") - F.col("__mn")) * F.lit(1000.0)
    elif f == "rate":
        val = val / F.lit(range_ms / 1000.0)
    return out.select("signature", "labels", *extra_keys, val.alias("value"))


def _array_quantile(arr, phi):
    """PromQL-interpolated quantile over a SORTED array column."""
    n = F.size(arr)
    rank = phi * (n - F.lit(1)).cast("double")
    lo = F.floor(rank).cast("int")
    frac = rank - lo.cast("double")
    v_lo = F.element_at(arr, lo + 1)
    v_hi = F.element_at(arr, F.least(lo + 2, n))
    return v_lo + (v_hi - v_lo) * frac


def _over_time(df, op: str, param: float | None = None,
               extra_keys: tuple[str, ...] = ()):
    if op == "avg":
        a = [F.sum(F.col("value").cast(_DEC)).cast("double").alias("__s"),
             F.count("*").alias("__n")]
        val = F.col("__s") / F.col("__n")
    elif op == "sum":
        a = [F.sum(F.col("value").cast(_DEC)).cast("double").alias("__s")]
        val = F.col("__s")
    elif op == "min":
        a = [F.min("value").alias("__s")]
        val = F.col("__s")
    elif op == "max":
        a = [F.max("value").alias("__s")]
        val = F.col("__s")
    elif op == "count":
        a = [F.count("*").alias("__s")]
        val = F.col("__s").cast("double")
    elif op == "last":
        a = [F.max(F.struct("timestamp", "value")).alias("__t")]
        val = F.col("__t.value")
    elif op in ("ts_of_max", "ts_of_min", "ts_of_last"):
        # Prometheus 3.5 experimental: the sample's own TIMESTAMP in
        # seconds. Ties pick deterministically via the struct order:
        # ts_of_max the LATEST max, ts_of_min the EARLIEST min.
        if op == "ts_of_max":
            a = [F.max(F.struct("value", "timestamp")).alias("__t")]
            val = F.col("__t.timestamp") / F.lit(1000.0)
        elif op == "ts_of_min":
            a = [F.min(F.struct("value", "timestamp")).alias("__t")]
            val = F.col("__t.timestamp") / F.lit(1000.0)
        else:
            a = [F.max("timestamp").alias("__t")]
            val = F.col("__t") / F.lit(1000.0)
    elif op == "present":
        a = [F.count("*").alias("__n")]
        val = F.lit(1.0)
    elif op in ("stddev", "stdvar"):
        # population moments from exact DECIMAL accumulators (ts_stddev)
        y = F.col("value").cast("decimal(18,2)")
        a = [F.count("*").alias("__n"),
             F.sum(y).cast("double").alias("__sy"),
             F.sum(y * y).cast("double").alias("__syy")]
        var = F.greatest(
            (F.col("__syy") - F.col("__sy") * F.col("__sy") / F.col("__n"))
            / F.col("__n"),
            F.lit(0.0),
        )
        val = F.sqrt(var) if op == "stddev" else var
    elif op == "quantile":
        a = [F.sort_array(F.collect_list("value")).alias("__a")]
        val = _array_quantile(F.col("__a"), F.lit(float(param)))
    elif op == "mad":
        # mad_over_time (Prometheus experimental-promql-functions):
        # median(|v - median(v)|), both medians the PromQL-interpolated
        # q0.5. One collect per group, then pure array expressions —
        # same bounded-window shape as quantile_over_time.
        a = [F.sort_array(F.collect_list("value")).alias("__a")]
        med = _array_quantile(F.col("__a"), F.lit(0.5))
        devs = F.sort_array(
            F.transform(F.col("__a"), lambda x: F.abs(x - med))
        )
        val = _array_quantile(devs, F.lit(0.5))
    else:  # pragma: no cover
        raise ValueError(f"unknown over_time op {op!r}")
    if op in _STRUCT_BUFFER_OPS:
        agg = df.groupBy("signature", *extra_keys).agg(
            F.first("labels").alias("labels"), *a)
    else:
        agg = _hashable_group(df, ["signature", *extra_keys], "labels", *a)
    return agg.select(
        "signature", "labels", *extra_keys, val.cast("double").alias("value")
    )


_RANGE_FUNCS = {
    "rate", "increase", "delta", "idelta", "irate", "resets", "changes",
    "deriv", "predict_linear", "holt_winters",
    "double_exponential_smoothing",  # the Prometheus 3.x name for holt_winters
    "avg_over_time", "sum_over_time", "min_over_time", "max_over_time",
    "count_over_time", "last_over_time", "stddev_over_time",
    "stdvar_over_time", "present_over_time", "quantile_over_time",
    "mad_over_time",
    # Prometheus 3.5 experimental: the TIMESTAMP of the extreme/last
    # sample in the range (seconds)
    "ts_of_max_over_time", "ts_of_min_over_time", "ts_of_last_over_time",
}
# the scalar parameters of the range functions that take any (the range
# argument comes first, except quantile_over_time's φ)
_RANGE_PARAMS = {
    "quantile_over_time": 1, "predict_linear": 1, "holt_winters": 2,
    "double_exponential_smoothing": 2,
}
# <op>_over_time functions a subquery may feed: the inner values carry
# the window index as their timestamp, so the ts_of_* family is out
_SUBQUERY_OPS = frozenset((
    "avg", "sum", "min", "max", "count", "last", "present", "stddev",
    "stdvar", "mad", "quantile",
))


def _range_args(node: Call, scalar) -> tuple[Any, list[float]]:
    """Split range-function call ``node`` into its range argument (a
    range selector or a subquery) and its scalar parameters, each
    resolved by the evaluation mode's ``scalar(arg)``."""
    f = node.func
    n = 1 + _RANGE_PARAMS.get(f, 0)
    if len(node.args) != n:
        raise ValueError(f"{f}() takes {n} argument(s)")
    args = list(node.args)
    rng = args.pop(1 if f == "quantile_over_time" else 0)
    if not (isinstance(rng, Subquery)
            or (isinstance(rng, Selector) and rng.range_ms is not None)):
        raise ValueError(f"{f}() expects a range selector, e.g. m[5m]")
    return rng, [scalar(a) for a in args]


def _subquery_op(f: str) -> str:
    op = f[: -len("_over_time")] if f.endswith("_over_time") else None
    if op not in _SUBQUERY_OPS:
        raise ValueError(f"subquery argument not supported for {f}()")
    return op


def _range_func(
    pts: DataFrame,
    f: str,
    params: list[float],
    t0: int,
    at,
    extra_keys: tuple[str, ...] = (),
    range_ms: int | None = None,
) -> DataFrame:
    """Every PromQL range function, one implementation each, over the
    selected points [signature, labels, *extra_keys, timestamp, value]
    grouped by (signature, *extra_keys) → [signature, labels,
    *extra_keys, value]. Instant evaluation calls it with no extra key
    (one closed window [t-R, t]); range and subquery evaluation with
    the window id ``("__w",)`` over their tiles, so each window's
    state (counter resets, smoothing, regression) is isolated.
    ``params`` are the resolved scalar arguments (_range_args);
    ``t0`` is the regression origin and ``at`` the evaluation time
    relative to it (a Column per window); ``range_ms`` is rate's
    divisor (None: the covered span, see _rate)."""
    if f in ("rate", "increase", "delta"):
        return _rate(pts, f, extra_keys, range_ms)
    if f.endswith("_over_time"):
        return _over_time(
            pts, f[: -len("_over_time")], *params, extra_keys=extra_keys)
    # the labels ride through the keyed builder as their entries array
    # (maps aren't groupable), as in _hashable_group
    pts = pts.withColumn("__lent", F.map_entries("labels"))
    keys, col = ["signature", *extra_keys, "__lent"], "__v"
    if f == "irate":
        out = _tsops.irate(pts, key_cols=keys, out=col)
    elif f == "idelta":
        out = _tsops.idelta(pts, key_cols=keys, out=col)
    elif f in ("resets", "changes"):
        out, col = _tsops.changes_resets(pts, key_cols=keys), f"n_{f}"
    elif f == "deriv":
        out = _tsops.linreg_slope(pts, key_cols=keys, t0=t0, out=col)
    elif f == "predict_linear":
        horizon_ms = params[0] * 1000
        at_ms = (at + int(horizon_ms) if isinstance(at, int)
                 else at + F.lit(horizon_ms))
        out = _tsops.predict_linear(
            pts, key_cols=keys, t0=t0, at_ms=at_ms, out=col)
    else:  # holt_winters / double_exponential_smoothing
        sf, tf = params
        out = _tsops.holt_winters(pts, key_cols=keys, sf=sf, tf=tf, out=col)
    return out.select(
        "signature", F.map_from_entries("__lent").alias("labels"),
        *extra_keys, F.col(col).cast("double").alias("value"),
    )


def _fan_out(df: DataFrame, win, k: int, n_tiles: int) -> DataFrame:
    """[signature, labels, __w, timestamp, value]: each point of ``df``
    in the ≤k consecutive windows [w0, w0+k-1] ∩ [0, n_tiles) whose
    range covers its base tile w0 = ``win`` — a function range of k
    tiles as a bounded explode over ONE scan, never a per-window
    rescan. The caller's scan filter keeps w0 ≥ -(k-1), so sequence()
    never reverses; the filter keeps the degenerate empty grid empty."""
    w0 = win.cast("long")
    if k == 1:
        return df.select(
            "signature", "labels", w0.alias("__w"), "timestamp", "value"
        ).filter((F.col("__w") >= 0) & (F.col("__w") < n_tiles))
    base = df.select(
        "signature", "labels", w0.alias("__w0"), "timestamp", "value"
    ).filter((F.col("__w0") < n_tiles) & (F.col("__w0") + (k - 1) >= 0))
    wins = F.sequence(
        F.greatest(F.col("__w0"), F.lit(0).cast("long")),
        F.least(
            F.col("__w0") + F.lit(int(k - 1)).cast("long"),
            F.lit(int(n_tiles - 1)).cast("long"),
        ),
    )
    return base.select(
        "signature", "labels", F.explode(wins).alias("__w"),
        "timestamp", "value",
    )


_MATH_FUNCS = {
    "abs": F.abs, "ceil": F.ceil, "floor": F.floor, "exp": F.exp,
    "ln": F.log, "log2": F.log2, "log10": F.log10, "sqrt": F.sqrt,
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "deg": F.degrees, "rad": F.radians,
}

# date components of a sample VALUE interpreted as unix seconds
# (Prometheus semantics; zero-arg forms evaluate at the query time).
# Session TZ is UTC (get_spark pins it), matching Prometheus's UTC-only
# calendar math.
def _date_exprs():
    t = F.from_unixtime(F.col("value")).cast("timestamp")
    return {
        "minute": F.minute(t),
        "hour": F.hour(t),
        "day_of_week": F.dayofweek(t) - F.lit(1),  # 0 = Sunday
        "day_of_month": F.dayofmonth(t),
        "days_in_month": F.dayofmonth(F.last_day(t)),
        "month": F.month(t),
        "year": F.year(t),
    }


_DATE_FUNCS = frozenset(
    ("minute", "hour", "day_of_week", "day_of_month", "days_in_month",
     "month", "year")
)

# row-wise value functions: vector in args[0], further args scalar
_VALUE_FUNCS = frozenset(
    (*_MATH_FUNCS, *_DATE_FUNCS, "sgn", "round", "clamp", "clamp_min",
     "clamp_max")
)


def _value_transform(vec: DataFrame, f: str, args=()) -> DataFrame:
    """A row-wise value function over a vector of either mode: unary
    minus ("-") or one of _VALUE_FUNCS, with ``args`` its scalar
    parameters already resolved to floats. Labels and keys pass
    through untouched."""
    v = F.col("value")
    if f == "-":
        expr = -v
    elif f in _MATH_FUNCS:
        expr = _MATH_FUNCS[f](v)
    elif f in _DATE_FUNCS:
        expr = _date_exprs()[f]
    elif f == "sgn":
        expr = F.signum(v)
    elif f == "round":
        # Prometheus: nearest multiple of `to`, ties round UP
        to = args[0] if args else 1.0
        expr = F.floor(v / F.lit(to) + F.lit(0.5)) * F.lit(to)
    elif f == "clamp":
        expr = F.least(F.greatest(v, F.lit(args[0])), F.lit(args[1]))
    elif f == "clamp_min":
        expr = F.greatest(v, F.lit(args[0]))
    else:  # clamp_max
        expr = F.least(v, F.lit(args[0]))
    return vec.withColumn("value", expr.cast("double"))


def _sort_operand(node: Call):
    """The vector argument of a sort-family call. DataFrames are
    unordered sets and Prometheus defines sorting only for API
    presentation, so the vector passes through unchanged in both modes —
    the serving layer orders the collected rows (sort_by_label* by the
    label list it reads off the AST)."""
    f = node.func
    if f.startswith("sort_by_label"):
        if len(node.args) < 2:
            raise ValueError(f"{f}() expects a vector and >=1 label name")
        for a in node.args[1:]:
            if not isinstance(a, StringLit):
                raise ValueError(f"{f}() label names must be strings")
    if not node.args:
        raise ValueError(f"{f}() expects an instant vector")
    return node.args[0]


def _info_selector(node: Call) -> Selector:
    """The info metric an info() call enriches from: the optional second
    argument (an instant selector, named target_info unless it names a
    metric), else every target_info series."""
    if len(node.args) < 2:
        return Selector("target_info", ())
    isel = node.args[1]
    if not isinstance(isel, Selector) or isel.range_ms is not None:
        raise ValueError("info() second argument must be an instant selector")
    if isel.name is None and not any(
        m.name == "__name__" for m in isel.matchers
    ):
        isel = dataclasses.replace(isel, name="target_info")
    return isel


def _scalar_arg(node, ctx, func: str) -> float:
    kind, v = _eval(node, ctx)
    if kind != "scalar":
        raise ValueError(f"{func}() expects a scalar argument")
    return float(v)


def _eval_vector(node, ctx: _Ctx, func: str) -> DataFrame:
    kind, v = _eval(node, ctx)
    if kind != "vector":
        raise ValueError(f"{func}() expects an instant vector")
    return v


def _eval_call(node: Call, ctx: _Ctx):
    f = node.func
    if f in _RANGE_FUNCS:
        return ("vector", _eval_range_func(node, ctx))
    if f == "pi":
        return ("scalar", math.pi)
    if f in ("sort", "sort_desc", "sort_by_label", "sort_by_label_desc"):
        return ("vector", _eval_vector(_sort_operand(node), ctx, f))
    if f in _DATE_FUNCS and not node.args:
        # zero-arg form: the query evaluation time
        import datetime as _dt

        t = _dt.datetime.fromtimestamp(
            ctx.eval_ms / 1000.0, tz=_dt.timezone.utc
        )
        vals = {
            "minute": t.minute, "hour": t.hour,
            "day_of_week": (t.weekday() + 1) % 7,  # 0 = Sunday
            "day_of_month": t.day,
            "days_in_month": (
                (t.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)
                - _dt.timedelta(days=1)
            ).day,
            "month": t.month, "year": t.year,
        }
        return ("scalar", float(vals[f]))
    if f in _VALUE_FUNCS:
        kind, v = _eval(node.args[0], ctx)
        if kind == "scalar" and (f in _MATH_FUNCS or f == "sgn"):
            py = {"abs": abs, "ceil": math.ceil, "floor": math.floor,
                  "exp": math.exp, "ln": math.log, "log2": math.log2,
                  "log10": math.log10, "sqrt": math.sqrt,
                  "sin": math.sin, "cos": math.cos, "tan": math.tan,
                  "asin": math.asin, "acos": math.acos, "atan": math.atan,
                  "sinh": math.sinh, "cosh": math.cosh, "tanh": math.tanh,
                  "deg": math.degrees, "rad": math.radians,
                  "sgn": lambda x: (x > 0) - (x < 0)}[f]
            return ("scalar", float(py(v)))
        if kind != "vector":
            raise ValueError(f"{f}() expects an instant vector")
        args = [_scalar_arg(a, ctx, f) for a in node.args[1:]]
        return ("vector", _value_transform(v, f, args))
    if f == "timestamp":
        # the sample timestamp of each series' point; instant selectors
        # evaluate to their latest point, whose ts the struct-max keeps
        arg = node.args[0] if node.args else None
        if not (isinstance(arg, Selector) and arg.range_ms is None):
            raise ValueError("timestamp() expects an instant selector")
        return ("vector", _instant_selector(arg, ctx, "timestamp"))
    if f == "absent_over_time":
        arg = node.args[0] if node.args else None
        if not (isinstance(arg, Selector) and arg.range_ms is not None):
            raise ValueError("absent_over_time() takes a range selector")
        df, _, _ = _range_df(arg, ctx)
        return ("vector", _absent_marker(df))
    if f == "absent":
        kind, v = _eval(node.args[0], ctx)
        return ("vector", _absent_marker(v))
    if f == "time":
        return ("scalar", ctx.eval_ms / 1000.0)
    if f == "vector":
        s = _scalar_arg(node.args[0], ctx, f)
        return ("vector", _unlabelled(ctx.samples.sparkSession.range(1),
                                      F.lit(float(s)).cast("double")))
    if f == "scalar":
        # Prometheus scalar(): the single series' value, NaN otherwise.
        # The operand is a series-grain vector, so the driver-side
        # resolve is a bounded 1-row collect (documented cost).
        kind, v = _eval(node.args[0], ctx)
        if kind == "scalar":
            return ("scalar", float(v))
        rows = v.select("value").limit(2).collect()
        return ("scalar", float(rows[0]["value"]) if len(rows) == 1
                else float("nan"))
    if f in ("label_replace", "label_join"):
        v = _eval_vector(node.args[0], ctx, f)
        return ("vector", _relabel(v, node))
    if f == "info":
        # Prometheus 3.x experimental info(): enrich every series with
        # the DATA labels of the info metric (default target_info —
        # exactly what the OTLP receiver writes for leftover resource
        # attributes) sharing its identifying labels (job, instance).
        # A second instant selector narrows the info series (and may
        # name a different info metric). Series without a match pass
        # through unchanged; more than one matching info series per
        # identity raises at execution (the many-to-one guard); the
        # series' own labels win on collision. One series-grain join —
        # the info side is a latest-per-series instant selection.
        v = _eval_vector(node.args[0], ctx, f)
        return ("vector", _info_enrich(v, _info_selector(node), ctx))
    if f == "histogram_quantile":
        phi = _scalar_arg(node.args[0], ctx, f)
        kind, v = _eval(node.args[1], ctx)
        return ("vector", _histogram_quantile(phi, v))
    if f == "histogram_fraction":
        lo = _scalar_arg(node.args[0], ctx, f)
        hi = _scalar_arg(node.args[1], ctx, f)
        kind, v = _eval(node.args[2], ctx)
        return ("vector", _histogram_fraction(lo, hi, v))
    raise ValueError(f"unsupported PromQL function {f!r}")


def _eval_range_func(node: Call, ctx: _Ctx) -> DataFrame:
    f = node.func
    rng, params = _range_args(node, lambda a: _scalar_arg(a, ctx, f))
    if isinstance(rng, Subquery):
        return _eval_subquery_func(f, rng, params, ctx)
    df, start, end = _range_df(rng, ctx)
    return _range_func(df, f, params, start, end - start)


def _eval_subquery_func(
    f: str, sq: Subquery, params: list[float], ctx: _Ctx
) -> DataFrame:
    """``<agg>_over_time(inner[R:S])`` in an instant query, with inner
    a range function of a range selector. The outer range is tiled by
    S-wide windows anchored at (eval - offset - R), closed on the left
    (the instant convention, PARITY.md); the inner function runs
    isolated per window — the range-function layer keyed by the
    window id — so counter state never leaks across evaluations
    (ts_subquery_max_rate's pinned semantics). The inner range may be
    any whole multiple k = inner_range/S up to RANGE_TILE_MAX_K:
    samples fan into the ≤k windows whose range covers their tile
    (_fan_out, the device eval_range's tiles use); with inner == S
    (the common dashboard shape) each sample lands in one window."""
    op = _subquery_op(f)
    inner, sel = sq.expr, None
    if isinstance(inner, Call) and inner.func in _RANGE_FUNCS:
        sel, inner_params = _range_args(
            inner, lambda a: _scalar_arg(a, ctx, inner.func))
    if not isinstance(sel, Selector):
        raise ValueError(
            "subquery inner must be a range function of a range selector")
    k = _tile_k(sel.range_ms, sq.step_ms)
    if sel.at_ms is not None:
        raise ValueError(
            "@ on the inner selector of a subquery is not supported — "
            "every tile would evaluate the same fixed window"
        )
    end = _anchor_ms(sq, ctx) - sq.offset_ms - sel.offset_ms
    start = end - sq.range_ms
    df = _base(
        sel, ctx,
        (F.col("timestamp") >= start - (k - 1) * sq.step_ms)
        & (F.col("timestamp") <= end),
    )
    # a point at exactly ts == end opens tile R/S, past the tiling —
    # _fan_out clips it rather than open a single-instant window
    pts = _fan_out(
        df, F.floor((F.col("timestamp") - F.lit(start)) / F.lit(sq.step_ms)),
        k, -(-sq.range_ms // sq.step_ms),
    )
    vals = _range_func(
        pts, inner.func, inner_params, start,
        (F.col("__w") + 1) * F.lit(float(sq.step_ms)), _W, sel.range_ms,
    )
    # the window index is the pseudo-time last_over_time orders by
    return _over_time(vals.withColumnRenamed("__w", "timestamp"), op, *params)


# -- label manipulation ---------------------------------------------------


def _vec_cols(extra_keys: tuple[str, ...] = ()) -> list[str]:
    """A vector's columns: one row per series (per window in range
    mode, whose window id rides in ``extra_keys``)."""
    return ["signature", "labels", *extra_keys, "value"]


def _resign(df: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Re-derive the signature of a vector whose labels were rewritten."""
    return df.withColumn("signature", signature_expr("labels")).select(
        *_vec_cols(extra_keys))


def _map_set(labels, key: str, value) -> Any:
    cleaned = F.map_filter(labels, lambda k, _: k != F.lit(key))
    return F.map_concat(cleaned, F.create_map(F.lit(key), value))


def _str_args(args, func, n) -> list[str]:
    out = []
    for a in args:
        if not isinstance(a, StringLit):
            raise ValueError(f"{func}() expects string literals")
        out.append(a.value)
    if len(out) < n:
        raise ValueError(f"{func}() needs {n} string arguments")
    return out


def _label_replace_expr(dst: str, repl: str, src: str, regex: str):
    """The label_replace transform as a pure Column over `labels`."""
    if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
        raise ValueError(f"label_replace: invalid destination label {dst!r}")
    anchored = f"^(?:{regex})$"
    src_val = F.coalesce(F.try_element_at("labels", F.lit(src)), F.lit(""))
    matched = src_val.rlike(anchored)
    newval = F.regexp_replace(src_val, anchored, repl)
    labels = F.col("labels")
    return (
        F.when(matched & (newval != ""), _map_set(labels, dst, newval))
        .when(matched, F.map_filter(labels, lambda k, _: k != F.lit(dst)))
        .otherwise(labels)
    )


def _label_join_expr(dst: str, sep: str, srcs: list[str]):
    """The label_join transform as a pure Column over `labels`."""
    if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
        raise ValueError(f"label_join: invalid destination label {dst!r}")
    parts = [
        F.coalesce(F.try_element_at("labels", F.lit(s)), F.lit("")) for s in srcs
    ]
    joined = F.concat_ws(sep, *parts)
    labels = F.col("labels")
    return F.when(
        joined != "", _map_set(labels, dst, joined)
    ).otherwise(F.map_filter(labels, lambda k, _: k != F.lit(dst)))


def _relabel(
    vec: DataFrame, node: Call, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """label_replace / label_join over a vector of either mode: the
    rewritten label map, then the signature re-derived."""
    if node.func == "label_replace":
        dst, repl, src, regex = _str_args(node.args[1:5], "label_replace", 4)
        labels = _label_replace_expr(dst, repl, src, regex)
    else:
        strs = _str_args(node.args[1:], "label_join", 3)
        labels = _label_join_expr(strs[0], strs[1], strs[2:])
    return _resign(
        vec.select(labels.alias("labels"), *extra_keys, "value"), extra_keys)


# -- histogram_quantile ---------------------------------------------------


# the label map minus the bucket bound: a histogram's series identity
_LABELS_SANS_LE = "map_filter(`labels`, (k, v) -> k != 'le')"


def _histogram_quantile(
    phi: float, vec: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """Prometheus histogram_quantile over cumulative le-bucket series:
    group by labels-minus-le, order buckets by le, pick the first
    bucket whose cumulative count reaches φ·total, interpolate
    linearly inside it (lower bound 0 for the first bucket; the +Inf
    bucket clamps to the highest finite le) — the same branch
    structure ts_latency_slo_p95 pins against its oracle. One groupBy;
    bucket counts per series are the le-grid size (tiny)."""
    le_raw = F.coalesce(F.try_element_at("labels", F.lit("le")), F.lit(""))
    le_val = (
        F.when(le_raw.isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
        .otherwise(le_raw.try_cast("double"))  # ANSI-safe: bad le → null → dropped
    )
    pre = vec.filter(le_val.isNotNull()).select(
        F.expr(signature_sql_text(_LABELS_SANS_LE)).alias("signature"),
        F.expr(_LABELS_SANS_LE).alias("labels"),
        *extra_keys,
        le_val.alias("__le"),
        F.col("value").alias("__c"),
    )
    g = _hashable_group(
        pre,
        ["signature", *extra_keys],
        "labels",
        F.sort_array(F.collect_list(F.struct("__le", "__c"))).alias("__b"),
    )
    b = F.col("__b")
    n = F.size(b)
    total = F.element_at(b, n)["__c"]
    target = F.lit(phi) * total
    # first bucket index reaching the target count
    hits = F.filter(b, lambda x: x["__c"] >= target)
    first_hit = F.element_at(hits, 1)
    idx = F.array_position(b, first_hit).cast("int")
    cur_le = first_hit["__le"]
    cur_c = first_hit["__c"]
    prev_le = F.when(idx > 1, F.element_at(b, idx - 1)["__le"]).otherwise(F.lit(0.0))
    prev_c = F.when(idx > 1, F.element_at(b, idx - 1)["__c"]).otherwise(F.lit(0.0))
    # highest finite le (for the +Inf clamp)
    finite = F.filter(b, lambda x: ~F.isnan(x["__le"]) & (x["__le"] != float("inf")))
    hi_fin = F.element_at(finite, F.size(finite))["__le"]
    interp = prev_le + (cur_le - prev_le) * (target - prev_c) / (cur_c - prev_c)
    val = (
        F.when(total <= 0, F.lit(None))
        .when(cur_le == float("inf"), hi_fin)
        .otherwise(interp)
    )
    return g.select(
        "signature", "labels", *extra_keys, val.cast("double").alias("value")
    ).filter(F.col("value").isNotNull())


def _info_enrich(
    v: DataFrame, isel: Selector, ctx: _Ctx,
    extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """The join behind info(): latest-per-series info selection, left
    join on the (job, instance) identity, data labels merged under
    the series' own labels, duplicate identities raising at execution
    (the many-to-one guard device). extra_keys carries the window id
    through in range mode — enrichment is per-row, so the tiled grid
    passes straight through."""
    info = _instant_selector(isel, ctx)
    idk = F.struct(
        F.coalesce(
            F.try_element_at(F.col("labels"), F.lit("job")), F.lit("")
        ).alias("j"),
        F.coalesce(
            F.try_element_at(F.col("labels"), F.lit("instance")), F.lit("")
        ).alias("i"),
    )
    data = F.map_filter(
        F.col("labels"),
        lambda k, _: ~k.isin("__name__", "job", "instance"),
    )
    inf = info.select(idk.alias("__k"), data.alias("__data")).withColumn(
        "__n1", F.count("*").over(Window.partitionBy("__k"))
    )
    vv = v.select("labels", *extra_keys, "value", idk.alias("__k"))
    j = vv.join(inf, "__k", "left")
    guard = F.raise_error(
        F.lit("info() found multiple matching info series for an "
              "identity (job, instance) — narrow the selector")
    ).cast("double")
    merged = F.when(
        F.col("__data").isNotNull(),
        F.map_concat(
            F.col("labels"),
            F.map_filter(
                F.col("__data"),
                lambda k, _: ~F.array_contains(
                    F.map_keys(F.col("labels")), k
                ),
            ),
        ),
    ).otherwise(F.col("labels"))
    val = F.when(
        F.col("__n1").isNull() | (F.col("__n1") == 1), F.col("value")
    ).otherwise(guard)
    return _resign(
        j.select(merged.alias("labels"), *extra_keys, val.alias("value")),
        extra_keys,
    )


def _histogram_fraction(
    lo: float, hi: float, vec: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """histogram_fraction(lo, hi, b) over CLASSIC cumulative le-bucket
    series — the estimated fraction of observations in (lo, hi].
    Prometheus defines the function for native histograms only; this
    engine classic-expands native histograms at ingest, so the classic
    form is the faithful continuation: cumulative count at x linearly
    interpolated inside the bucket containing x (first-bucket lower
    bound 0 and +Inf clamped to the highest finite le — exactly
    histogram_quantile's conventions), fraction = (F(hi) − F(lo)) /
    total, clamped to [0, 1]. Same one-groupBy shape as
    histogram_quantile."""
    le_raw = F.coalesce(F.try_element_at("labels", F.lit("le")), F.lit(""))
    le_val = (
        F.when(le_raw.isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
        .otherwise(le_raw.try_cast("double"))
    )
    pre = vec.filter(le_val.isNotNull()).select(
        F.expr(signature_sql_text(_LABELS_SANS_LE)).alias("signature"),
        F.expr(_LABELS_SANS_LE).alias("labels"),
        *extra_keys,
        le_val.alias("__le"),
        F.col("value").alias("__c"),
    )
    g = _hashable_group(
        pre,
        ["signature", *extra_keys],
        "labels",
        F.sort_array(F.collect_list(F.struct("__le", "__c"))).alias("__b"),
    )
    b = F.col("__b")
    n = F.size(b)
    total = F.element_at(b, n)["__c"]

    def cum_at(x):
        # buckets with le <= x count fully; the next bucket (the one
        # containing x) interpolates, except the +Inf bucket whose
        # width is unbounded — there the cumulative clamps at the
        # highest finite le's count
        below = F.filter(b, lambda e: e["__le"] <= x)
        nb = F.size(below)
        c_below = F.when(nb > 0, F.element_at(below, nb)["__c"]).otherwise(
            F.lit(0.0))
        le_below = F.when(nb > 0, F.element_at(below, nb)["__le"]).otherwise(
            F.lit(0.0))
        above = F.filter(b, lambda e: e["__le"] > x)
        nxt = F.element_at(above, 1)  # null when x ≥ every le
        interp = c_below + (nxt["__c"] - c_below) * (x - le_below) / (
            nxt["__le"] - le_below
        )
        return (
            F.when(x <= F.lit(0.0), F.lit(0.0))
            .when(F.size(above) == 0, total)
            .when(nxt["__le"] == float("inf"), c_below)
            .otherwise(interp)
        )

    lo_c = F.lit(float("-inf")) if lo == float("-inf") else F.lit(float(lo))
    hi_c = F.lit(float("inf")) if hi == float("inf") else F.lit(float(hi))
    cum_hi = F.lit(0.0) if hi == float("-inf") else (
        total if hi == float("inf") else cum_at(hi_c))
    cum_lo = F.lit(0.0) if lo == float("-inf") else (
        total if lo == float("inf") else cum_at(lo_c))
    frac = F.greatest(
        F.least((cum_hi - cum_lo) / total, F.lit(1.0)), F.lit(0.0))
    val = F.when(total > 0, frac)
    return g.select(
        "signature", "labels", *extra_keys, val.cast("double").alias("value")
    ).filter(F.col("value").isNotNull())


# -- aggregation operators -------------------------------------------------


def _group_map_sql(by, without) -> str:
    """SQL text of the by/without label projection over the ``labels``
    column — composed as a string so the full grouping expression
    parses in ONE py4j round-trip (§7.3; a map_filter lambda built
    through the Column API costs ~40 ms of socket chatter per call)."""
    if by is not None:
        if not by:
            return "map_filter(labels, (k, v) -> false)"
        arr = "array(" + ", ".join(sql_str_lit(k) for k in by) + ")"
        return f"map_filter(labels, (k, v) -> array_contains({arr}, k))"
    if without is not None:
        if not without:
            return "labels"
        arr = "array(" + ", ".join(sql_str_lit(k) for k in without) + ")"
        return f"map_filter(labels, (k, v) -> NOT array_contains({arr}, k))"
    # plain sum(...) aggregates everything into one group
    return "map_filter(labels, (k, v) -> false)"


def _aggregate(
    vec: DataFrame,
    op: str,
    by,
    without,
    param,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """One PromQL aggregation operator over a vector of either mode:
    grouped by the by/without label projection, and per window in range
    mode (``extra_keys=("__w",)`` joins the window id into every group
    key and ranking partition). ``param`` is the resolved float k / φ /
    ratio, or the StringLit label name of count_values."""
    cols = _vec_cols(extra_keys)
    gm_sql = _group_map_sql(by, without)
    keyed = vec.select(
        F.expr(signature_sql_text(gm_sql)).alias("__gsig"),
        F.expr(gm_sql).alias("__glabels"),
        "signature",
        "labels",
        *extra_keys,
        "value",
    )
    if op == "limit_ratio":
        # Prometheus 3.x experimental: deterministic hash sampling of
        # approximately r of the input series, with the complement
        # contract limit_ratio(r) ∪ limit_ratio(-(1-r)) = everything.
        # h = first 15 md5 hex chars of the signature / 2^60 ∈ [0,1):
        # r >= 0 keeps h <= r, r < 0 keeps h > 1+r — replayable in any
        # SQL engine (CAST('0x'||substr(md5(sig),1,15) AS BIGINT)). The
        # keep set is a pure function of the signature, so in range
        # mode it is the SAME series at every step — one row filter.
        r = float(param)
        if not -1.0 <= r <= 1.0:
            raise ValueError("limit_ratio expects a ratio in [-1, 1]")
        h = _hash60("signature").cast("double") / F.lit(float(1 << 60))
        cond = (h <= F.lit(r)) if r >= 0 else (h > F.lit(1.0 + r))
        return keyed.filter(cond).select(*cols)
    if op in ("topk", "bottomk", "limitk"):
        # the k ranked INPUT series per group (per window: membership
        # re-evaluates each step, the Grafana "top 5 per step" shape),
        # original labels kept. topk/bottomk break value ties by
        # signature. limitk (Prometheus 3.x experimental) "samples k
        # input series" — the spec leaves WHICH k open, so this engine
        # picks by (md5(signature), signature): any engine, any
        # partitioning, any run picks the same k.
        if op == "limitk":
            order = [F.md5("signature"), F.col("signature")]
        elif op == "topk":
            order = [F.col("value").desc(), F.col("signature")]
        else:
            order = [F.col("value").asc(), F.col("signature")]
        w = Window.partitionBy("__gsig", *extra_keys).orderBy(*order)
        return (
            keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(param))
            .select(*cols)
        )
    if op == "count_values":
        if not isinstance(param, StringLit):
            raise ValueError("count_values expects a label-name string")
        dst = param.value
        if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
            raise ValueError(f"count_values: invalid label name {dst!r}")
        # group key gains the stringified sample value as a label
        gmap2 = F.map_concat(
            F.map_filter(F.col("__glabels"), lambda k, _: k != F.lit(dst)),
            F.create_map(F.lit(dst), F.col("value").cast("string")),
        )
        return _hashable_group(
            keyed.select(gmap2.alias("labels"), *extra_keys, "value"),
            [signature_expr("labels").alias("signature"), *extra_keys],
            "labels",
            F.count("*").cast("double").alias("value"),
        ).select(*cols)
    group_keys = ["__gsig", *extra_keys]
    if op == "quantile":
        agg = _hashable_group(
            keyed, group_keys, "__glabels",
            F.sort_array(F.collect_list("value")).alias("__a"),
        )
        val = _array_quantile(F.col("__a"), F.lit(float(param)))
        return agg.select(
            F.col("__gsig").alias("signature"), "labels", *extra_keys,
            val.cast("double").alias("value"),
        )
    if op in ("stddev", "stdvar"):
        y = F.col("value").cast("decimal(18,2)")
        var = F.greatest(
            (
                F.sum(y * y).cast("double")
                - F.sum(y).cast("double") * F.sum(y).cast("double")
                / F.count("*")
            )
            / F.count("*"),
            F.lit(0.0),
        )
        expr = F.sqrt(var) if op == "stddev" else var
    elif op == "sum":
        expr = F.sum(F.col("value").cast(_DEC)).cast("double")
    elif op == "avg":
        expr = F.sum(F.col("value").cast(_DEC)).cast("double") / F.count("*")
    elif op == "min":
        expr = F.min("value")
    elif op == "max":
        expr = F.max("value")
    elif op == "count":
        expr = F.count("*").cast("double")
    elif op == "group":
        expr = F.lit(1.0)
    else:
        raise ValueError(f"unsupported aggregation {op!r}")
    out = _hashable_group(keyed, group_keys, "__glabels", expr.alias("value"))
    return out.select(
        F.col("__gsig").alias("signature"), "labels", *extra_keys, "value"
    )


def _eval_agg(node: Agg, ctx: _Ctx):
    kind, vec = _eval(node.expr, ctx)
    if kind != "vector":
        raise ValueError(f"{node.op} expects an instant vector")
    param = node.param
    if param is not None and node.op != "count_values":
        param = _scalar_arg(param, ctx, node.op)
    return (
        "vector",
        _aggregate(vec, node.op, node.by, node.without, param),
    )


# -- binary operators ------------------------------------------------------


def _match_key(match):
    """The vector-matching key: full signature by default, or the
    signature of the on/ignoring label subset (built as ONE parsed
    SQL expression — §7.3)."""
    if match is None:
        return F.col("signature")
    kind, names = match
    gm = _group_map_sql(
        tuple(names) if kind == "on" else None,
        tuple(names) if kind == "ignoring" else None,
    )
    return F.expr(signature_sql_text(gm))


# value-transform / presentation calls that pass series labels through
# row-wise (vector in args[0], labels untouched)
_LABEL_PRESERVING_CALLS = frozenset(
    ("round", "clamp", "clamp_min", "clamp_max", "sgn",
     "sort", "sort_desc", "sort_by_label", "sort_by_label_desc")
)


def _unique_series(node) -> bool:
    """True when the node's evaluated vector STRUCTURALLY holds at most
    one row per output label set (per window in range mode): the vector
    is produced by a per-(signature[, window]) aggregation, or is a
    row-wise value transform / filter of such a vector. label_replace /
    label_join (signature rewrites that can collide), info() enrichment
    and group_left/group_right outputs are deliberately NOT on the list
    — their collisions are exactly what the runtime one-to-one guard
    exists to catch. Conservative: False for anything unproven."""
    if isinstance(node, (Selector, Subquery)):
        return True  # per-series grouped selection
    if isinstance(node, Unary):
        return _unique_series(node.expr)
    if isinstance(node, Agg):
        if node.op in ("topk", "bottomk", "limitk", "limit_ratio"):
            return _unique_series(node.expr)  # row filters of the input
        return True  # grouped by the output label set
    if isinstance(node, Call):
        f = node.func
        if f in _RANGE_FUNCS:
            return True  # one row per (series, window)
        if f in ("absent", "absent_over_time", "vector", "timestamp",
                 "histogram_quantile", "histogram_fraction"):
            return True  # grouped, or at most one synthetic series
        if f in _MATH_FUNCS or f in _DATE_FUNCS or f in _LABEL_PRESERVING_CALLS:
            return bool(node.args) and _unique_series(node.args[0])
        return False  # label_replace / label_join / info / unknown
    if isinstance(node, BinOp):
        if node.group is not None:
            return False  # copied extras can collide output label sets
        if node.op in ("and", "unless"):
            return _unique_series(node.lhs)
        # or: lhs rows plus rhs rows whose match key lhs lacks — equal
        # output labels imply equal match keys, so the anti-join keeps
        # the union collision-free when both sides are unique.
        # scalar-vector forms and 1:1 matching emit one row per
        # (lhs-)series when both operands are unique.
        return _unique_series(node.lhs) and _unique_series(node.rhs)
    return True  # Number / StringLit (scalar operands)


def _pinned_labels(node) -> dict:
    """Labels provably pinned to ONE constant, non-empty value on every
    output row of the node's vector (EQ matchers threaded through
    label-preserving transforms). Used to prove that stripping an
    ignoring() set cannot merge two distinct series. Conservative:
    unknown shapes pin nothing."""
    if isinstance(node, Selector):
        out = {m.name: m.value for m in node.matchers
               if m.type == "EQ" and m.value != ""}
        if node.name is not None:
            out["__name__"] = node.name
        return out
    if isinstance(node, (Subquery, Unary)):
        return _pinned_labels(node.expr)
    if isinstance(node, Agg):
        inner = _pinned_labels(node.expr)
        if node.op in ("topk", "bottomk", "limitk", "limit_ratio"):
            return inner  # row filters keep labels
        if node.by is not None:
            by = set(node.by)
            return {k: v for k, v in inner.items() if k in by}
        if node.without is not None:
            wo = set(node.without)
            return {k: v for k, v in inner.items() if k not in wo}
        return {}  # plain agg: one all-up group, no labels
    if isinstance(node, Call):
        f = node.func
        if f == "quantile_over_time" and len(node.args) == 2:
            return _pinned_labels(node.args[1])
        if f == "histogram_quantile" and len(node.args) >= 2:
            inner = _pinned_labels(node.args[1])
            inner.pop("le", None)
            return inner
        if (f in _RANGE_FUNCS or f in _MATH_FUNCS or f in _DATE_FUNCS
                or f == "timestamp" or f in _LABEL_PRESERVING_CALLS):
            return _pinned_labels(node.args[0]) if node.args else {}
        return {}
    if isinstance(node, BinOp):
        if node.group is not None:
            gkind, extras = node.group
            out = _pinned_labels(node.lhs if gkind == "left" else node.rhs)
            for e in extras:
                out.pop(e, None)  # copied labels vary per partner
            return out
        if node.op in ("and", "unless"):
            return _pinned_labels(node.lhs)
        if node.op == "or":
            l = _pinned_labels(node.lhs)
            r = _pinned_labels(node.rhs)
            return {k: v for k, v in l.items() if r.get(k) == v}
        if _const_scalar(node.lhs) is not None:
            return _pinned_labels(node.rhs)
        # vector-scalar and 1:1 vector matching both carry the lhs labels
        return _pinned_labels(node.lhs)
    return {}


def _unique_per_match_key(node, match) -> bool:
    """True when the node's vector STRUCTURALLY holds at most one row
    per _match_key(match) value (per window in range mode) — the
    runtime one-to-one / one-side count guard is then provably
    redundant and its window (sort + shuffle) is elided. Conservative:
    False whenever uniqueness cannot be proven from the AST alone, so
    the guard (and Prometheus's many-to-many error) stays."""
    if match is None:
        return _unique_series(node)
    kind, names = match
    names = set(names)
    if kind == "on":
        if isinstance(node, Agg) and node.op not in (
                "topk", "bottomk", "limitk", "limit_ratio", "count_values"):
            # group key ⊆ on-labels: the match key determines the group
            if node.by is not None and set(node.by) <= names:
                return True
            if node.by is None and node.without is None:
                return True  # single all-up group
        if (isinstance(node, Call)
                and node.func in ("label_replace", "label_join")
                and len(node.args) >= 2
                and isinstance(node.args[1], StringLit)
                and node.args[1].value not in names):
            # rewrites a label OUTSIDE the key: key values untouched
            return _unique_per_match_key(node.args[0], match)
        return False
    # ignoring(I): unique per full label set with every ignored label
    # pinned constant — stripping I cannot merge two distinct series
    if _unique_series(node) and names <= set(_pinned_labels(node)):
        return True
    if isinstance(node, Agg) and node.op not in (
            "topk", "bottomk", "limitk", "limit_ratio", "count_values"):
        if node.without is not None and names <= set(node.without):
            return True  # output labels already exclude I
        if node.by is not None and not (set(node.by) & names):
            return True  # key strips nothing from the group labels
        if node.by is None and node.without is None:
            return True
    return False


def _copy_group_extras(labels, olabels_col: str, extras) -> "F.Column":
    """The group_left/group_right label-copy rule: each listed extra
    label is copied from the one side onto the many side's label set;
    an absent/empty source label removes the destination (Prometheus's
    empty-equals-absent rule)."""
    new_labels = labels
    for e in extras:
        src = F.try_element_at(olabels_col, F.lit(e))
        # map_filter builds the expression eagerly, so closing over the
        # loop variable is safe — no late binding
        dropped = F.map_filter(new_labels, lambda k, _: k != F.lit(e))
        new_labels = F.when(
            src.isNotNull() & (src != ""), _map_set(new_labels, e, src)
        ).otherwise(dropped)
    return new_labels


# the Column forms of the arithmetic operators (comparisons: _CMP)
_ARITH = {"+": operator.add, "-": operator.sub, "*": operator.mul,
          "/": operator.truediv, "%": operator.mod, "^": F.pow,
          "atan2": F.atan2}


def _binop_rows(
    df: DataFrame, op: str, bool_mode: bool, a, b, head: list, kept,
    ok=None, error: str = "",
) -> DataFrame:
    """``head`` plus the value of ``a op b`` for every row of ``df``. A
    comparison filters rows, keeping the value ``kept``, unless
    ``bool_mode`` turns it into 0/1. With an ``ok`` condition, a row
    failing it raises ``error`` at execution (the matching guards)."""

    def guarded(x):
        if ok is None:
            return x
        return F.when(ok, x).otherwise(
            F.raise_error(F.lit(error)).cast("double"))

    if op in _CMP:
        cond = _CMP[op](a, b)
        if bool_mode:
            return df.select(*head, guarded(cond.cast("double")).alias("value"))
        return (
            df.select(*head, guarded(kept).alias("value"), cond.alias("__c"))
            .filter("__c")
            .drop("__c")
        )
    val = guarded(_ARITH[op](a, b).cast("double"))
    return df.select(*head, val.alias("value"))


def _vector_scalar(
    vec: DataFrame, node: BinOp, scalar, vec_left: bool,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Vector–scalar binary op: ``scalar`` is a Column — a literal, or
    the range path's per-window scalar() column joined onto ``vec``.
    A filtering comparison keeps the vector's own value."""
    v = F.col("value")
    a, b = (v, scalar) if vec_left else (scalar, v)
    head = ["signature", "labels", *extra_keys]
    return _binop_rows(vec, node.op, node.bool_mode, a, b, head, v)


def _vector_binop(
    node: BinOp, lv: DataFrame, rv: DataFrame,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Vector–vector binary op, matched on the on/ignoring key — per
    (key, window) in range mode, where ``extra_keys=("__w",)``. Both
    operands are series-grain vectors, so every join and count window
    here shuffles series (× windows) rows, never points.

    - and/or/unless are keyed semi/anti/union joins: `and` keeps lhs
      series whose key exists on the rhs, `unless` the complement,
      `or` is lhs plus the rhs series whose key lhs lacks.
    - 1:1 matching: a key matching more than one series on either side
      raises AT EXECUTION, Prometheus's many-to-many error, never a
      silent duplicate.
    - group_left/group_right (many-to-one): every many-side series joins
      its one-side partner; the listed extra labels are copied from the
      one side (_copy_group_extras) and the result re-signs. A duplicate
      one side raises at execution, Prometheus's "multiple matches for
      labels" error.

    The count windows behind both guards exist only to raise those
    errors; a side PROVABLY unique per key (_unique_per_match_key)
    skips its window and the sort + shuffle it costs."""
    key = _match_key(node.match)
    on = ["__k", *extra_keys]
    within = " within a step" if extra_keys else ""
    if node.op in ("and", "or", "unless"):
        left = lv.withColumn("__k", key)
        right = rv.withColumn("__k", key)
        if node.op == "and":
            out = left.join(right.select(*on).distinct(), on, "left_semi")
        elif node.op == "unless":
            out = left.join(right.select(*on).distinct(), on, "left_anti")
        else:
            extra = right.join(left.select(*on).distinct(), on, "left_anti")
            out = left.unionByName(extra)
        return out.select(*_vec_cols(extra_keys))
    wk = Window.partitionBy(*on)
    if node.group is None:
        left = lv.select(
            key.alias("__k"), "signature", "labels", *extra_keys,
            F.col("value").alias("__lv"),
        )
        right = rv.select(
            key.alias("__k"), *extra_keys, F.col("value").alias("__rv"))
        ok = None
        if not _unique_per_match_key(node.lhs, node.match):
            left = left.withColumn("__nl", F.count("*").over(wk))
            ok = F.col("__nl") == 1
        if not _unique_per_match_key(node.rhs, node.match):
            right = right.withColumn("__nr", F.count("*").over(wk))
            c = F.col("__nr") == 1
            ok = c if ok is None else (ok & c)
        a = F.col("__lv")
        return _binop_rows(
            left.join(right, on), node.op, node.bool_mode, a, F.col("__rv"),
            ["signature", "labels", *extra_keys], a, ok,
            f"PromQL vector matching is not one-to-one{within} (use "
            "on/ignoring to narrow the match key)",
        )
    gkind, extras = node.group
    many, one = (lv, rv) if gkind == "left" else (rv, lv)
    one_node = node.rhs if gkind == "left" else node.lhs
    one_s = one.select(
        key.alias("__k"), *extra_keys,
        F.col("labels").alias("__olabels"),
        F.col("value").alias("__ov"),
    )
    ok = None
    if not _unique_per_match_key(one_node, node.match):
        one_s = one_s.withColumn("__n1", F.count("*").over(wk))
        ok = F.col("__n1") == 1
    many_s = many.select(
        key.alias("__k"), *extra_keys, "labels", F.col("value").alias("__mv")
    )
    new_labels = _copy_group_extras(F.col("labels"), "__olabels", extras)
    a, b = (
        (F.col("__mv"), F.col("__ov"))
        if gkind == "left"
        else (F.col("__ov"), F.col("__mv"))
    )
    out = _binop_rows(
        many_s.join(one_s, on), node.op, node.bool_mode, a, b,
        [new_labels.alias("labels"), *extra_keys], a, ok,
        "PromQL many-to-one matching found multiple matches on the one "
        f"side{within} (narrow the on/ignoring key)",
    )
    return _resign(out, extra_keys)


def _eval_binop(node: BinOp, ctx: _Ctx):
    lk, lv = _eval(node.lhs, ctx)
    rk, rv = _eval(node.rhs, ctx)
    if node.op in ("and", "or", "unless"):
        if lk != "vector" or rk != "vector":
            raise ValueError(f"{node.op} requires two instant vectors")
        return ("vector", _vector_binop(node, lv, rv))
    if lk == "scalar" and rk == "scalar":
        return ("scalar", _scalar_binop(node.op, lv, rv, node.bool_mode))
    if lk == "vector" and rk == "vector":
        return ("vector", _vector_binop(node, lv, rv))
    if node.group is not None:
        raise ValueError(
            "group_left/group_right is only valid between two instant vectors"
        )
    vec, scalar, vec_left = (lv, rv, True) if lk == "vector" else (rv, lv, False)
    return ("vector", _vector_scalar(vec, node, F.lit(float(scalar)), vec_left))


def _scalar_binop(op: str, a: float, b: float, bool_mode: bool) -> float:
    if op in _CMP:
        return 1.0 if _CMP[op](a, b) else 0.0
    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "/":
        return a / b if b != 0 else math.inf if a > 0 else -math.inf if a < 0 else math.nan
    if op == "%":
        return math.fmod(a, b) if b != 0 else math.nan
    if op == "^":
        return a ** b
    if op == "atan2":
        return math.atan2(a, b)
    raise ValueError(f"unknown operator {op!r}")


# ------------------------------------------------------- range evaluation


def eval_range(
    samples: DataFrame,
    expr,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    """Step-range evaluation — the Grafana /query_range shape — for the
    TILED expression class, computed in ONE pass (no per-step replan,
    no repeated scans): the range [start, end] is tiled by step-width
    windows and every window evaluates independently. Returns
    [signature, labels, t_ms (window END, the evaluation timestamp),
    value].

    Range evaluation is the second of two SELECTION modes over one
    operator layer. What differs from eval_instant is selection only:
    - instant selector: last sample per window per series (no
      cross-window lookback carry — a window without samples emits no
      point, where Prometheus would carry up to the lookback);
    - EVERY range function with R = k*step (k a whole number up to
      RANGE_TILE_MAX_K — covers Grafana's $__rate_interval ~ 4x step;
      a non-multiple range or a larger fan-out raises loudly) selects
      the k left-open tiles its window covers, each window's range
      isolated (reset and smoothing state never leaks between windows;
      overlapping windows share samples via a bounded ≤k-way explode,
      still ONE scan), and runs the one implementation instant
      evaluation runs (_range_func) keyed by the window. Only rate
      keeps a per-mode convention: it divides by R here, by the
      covered span in an instant query (PARITY.md);
    - subqueries under <agg>_over_time when the grid step and the
      subquery range are whole multiples of the subquery step: the
      inner expression (the FULL tiled class) evaluates once as its
      own S-grid and fans into the outer windows —
      `max_over_time(rate(m[5m])[30m:5m])` as a panel;
    - `@`-pinned subtrees (every selector carries @, no time()): one
      instant evaluation at the anchors — start()/end() resolve to
      the RANGE bounds — fanned across the step grid (the constant
      reference line Grafana draws with `m @ end()`);
    - absent()/absent_over_time() markers and vector() per window, and
      scalar() operands as a per-window scalar relation;
    - scalar parameters (k, φ, bounds) must be compile-time constants.

    Everything above selection is the operator layer eval_instant
    uses, called with the window id as one more key
    (``extra_keys=("__w",)``): range functions (_range_func),
    aggregations (_aggregate), vector
    matching, set operators and vector–scalar ops (_vector_binop,
    _vector_scalar — a duplicate match key within a window raises the
    instant error, "within a step"), value transforms
    (_value_transform), label_replace/label_join (_relabel),
    timestamp() (_last_point), info() enrichment (anchored at the
    range end), histogram_quantile/histogram_fraction and the sort
    family (presentation only). Each side of a binary operator
    evaluates in its own single pass and the match is one keyed join
    per (key, window), so the error-ratio graph `sum by(k)(increase(a[s]))
    / on(k) sum by(k)(increase(b[s]))` costs two tiled passes + one
    series-grain join, never a per-step replan.
    """
    if isinstance(expr, str):
        expr = parse(expr)
    if step_ms <= 0 or end_ms < start_ms:
        raise ValueError("eval_range needs step_ms > 0 and end >= start")
    ctx = _Ctx(samples, end_ms, lookback_ms)
    per_win = _tiled_values(expr, start_ms, end_ms, step_ms, ctx)
    t_col = (F.lit(start_ms) + (F.col("__w") + 1) * F.lit(step_ms)).cast("long")
    return per_win.select("signature", "labels", t_col.alias("t_ms"), "value")


def _resolve_range_at(node, start_ms: int, end_ms: int):
    """Resolve every `@` anchor under range-query semantics — start()
    and end() are the RANGE's bounds, not the per-step time — and
    report whether the subtree is FULLY pinned: it contains at least
    one selector/subquery, every one carries `@` (directly, or through
    an enclosing pinned subquery), and no step-dependent call (time())
    appears. A fully pinned subtree has the same value at every step,
    so eval_range evaluates it ONCE as an instant query at its own
    anchors and fans the per-series result across the window grid —
    the semantics Grafana relies on when it emits `@` in range queries
    (VERDICT r7 next-round #6). Returns (rewritten_node, pinned)."""
    state = {"any": False, "unpinned": False, "step_dep": False}

    def rw(n, under_pinned: bool):
        if isinstance(n, Selector):
            state["any"] = True
            if n.at_ms is None:
                if not under_pinned:
                    state["unpinned"] = True
                return n
            at = (start_ms if n.at_ms == "start"
                  else end_ms if n.at_ms == "end" else n.at_ms)
            return dataclasses.replace(n, at_ms=at)
        if isinstance(n, Subquery):
            state["any"] = True
            at = n.at_ms
            if at is None and not under_pinned:
                state["unpinned"] = True
            if at is not None:
                at = (start_ms if at == "start"
                      else end_ms if at == "end" else at)
            # a pinned subquery anchors its whole inner expression —
            # inner selectors without @ stay relative to that anchor
            inner = rw(n.expr, under_pinned or at is not None)
            return dataclasses.replace(n, expr=inner, at_ms=at)
        if isinstance(n, Call):
            if n.func == "time":
                state["step_dep"] = True
            return dataclasses.replace(
                n, args=tuple(rw(a, under_pinned) for a in n.args)
            )
        if isinstance(n, Agg):
            return dataclasses.replace(
                n,
                expr=rw(n.expr, under_pinned),
                param=(rw(n.param, under_pinned)
                       if n.param is not None else None),
            )
        if isinstance(n, BinOp):
            return dataclasses.replace(
                n, lhs=rw(n.lhs, under_pinned), rhs=rw(n.rhs, under_pinned)
            )
        if isinstance(n, Unary):
            return dataclasses.replace(n, expr=rw(n.expr, under_pinned))
        return n  # Number / StringLit

    out = rw(node, False)
    pinned = state["any"] and not state["unpinned"] and not state["step_dep"]
    return out, pinned


def _tile_k(range_ms: int, step_ms: int) -> int:
    """Window fan-out factor for a range function in tiled range mode.
    The function range must be a whole multiple of the step: each
    sample then lands in exactly k = range/step consecutive windows —
    a bounded explode over the one scan, never a per-step rescan. The
    multiple is capped at RANGE_TILE_MAX_K so the shuffle cannot be
    multiplied unboundedly; past the cap we fail loudly rather than
    silently degrade."""
    if range_ms % step_ms != 0:
        raise ValueError(
            "tiled evaluation needs the function range to be "
            f"a whole multiple of the step ({range_ms}ms vs {step_ms}ms)"
        )
    k = range_ms // step_ms
    if k > RANGE_TILE_MAX_K:
        raise ValueError(
            f"tiled evaluation: range/step fan-out {k} exceeds "
            f"RANGE_TILE_MAX_K={RANGE_TILE_MAX_K} — widen the step or "
            "narrow the function range"
        )
    return int(k)


def _tiled_values(node, start_ms: int, end_ms: int, step_ms: int, ctx: _Ctx) -> DataFrame:
    """Per-(series, window) values for the tiled expression class:
    [signature, labels, __w, value] with __w the 0-based window index
    over (start, end] — one scan, one keyed shuffle."""
    n_tiles = -(-(end_ms - start_ms) // step_ms)

    node, pinned = _resolve_range_at(node, start_ms, end_ms)
    if pinned:
        # one instant pass at the (now numeric) anchors, then the
        # per-series result replicated across the window grid — a
        # narrow explode over an already-aggregated frame, never a
        # per-step rescan of the fact table
        inst = eval_instant(ctx.samples, node, end_ms, ctx.lookback_ms)
        if n_tiles <= 0:
            return inst.filter(F.lit(False)).select(
                "signature", "labels",
                F.lit(0).cast("long").alias("__w"), "value",
            )
        wins = F.sequence(
            F.lit(0).cast("long"), F.lit(int(n_tiles - 1)).cast("long")
        )
        return inst.select(
            "signature", "labels", F.explode(wins).alias("__w"), "value"
        )

    def tiles(sel: Selector, range_ms: int | None = None) -> DataFrame:
        if sel.at_ms is not None:
            # fully-pinned subtrees take the instant fast path above;
            # reaching here means a pinned selector is entangled with
            # step-varying evaluation in a shape the tiled class
            # cannot split (defensive — BinOp/Agg/Call all recurse)
            raise ValueError(
                "eval_range: @ selector mixed into a step-varying "
                "subtree the tiled evaluator cannot split"
            )
        k = 1 if range_ms is None else _tile_k(range_ms, step_ms)
        df = _base(
            sel, ctx,
            (F.col("timestamp") > start_ms - sel.offset_ms - (k - 1) * step_ms)
            & (F.col("timestamp") <= end_ms - sel.offset_ms),
        )
        # left-open tiles (start + w*step, start + (w+1)*step]
        win = F.floor(
            (F.col("timestamp") - F.lit(start_ms - sel.offset_ms) - F.lit(1))
            / F.lit(step_ms)
        )
        return _fan_out(df, win, k, n_tiles)

    if isinstance(node, Selector):
        if node.range_ms is not None:
            raise ValueError("eval_range: bare range selector — wrap in a function")
        return _last_point(tiles(node), "value", _W)
    if isinstance(node, Call) and node.func in _RANGE_FUNCS:
        def scalar(a) -> float:
            c = _const_scalar(a)
            if c is None:
                raise ValueError(f"{node.func}() expects a scalar argument")
            return c

        rng, params = _range_args(node, scalar)
        if isinstance(rng, Subquery):
            return _tiled_subquery(
                node.func, rng, params, start_ms, end_ms, step_ms, ctx)
        return _range_func(
            tiles(rng, rng.range_ms), node.func, params, start_ms,
            (F.col("__w") + 1) * F.lit(float(step_ms)), _W, rng.range_ms,
        )
    if (
        isinstance(node, Call)
        and node.func in ("absent", "absent_over_time")
        and len(node.args) == 1
    ):
        # per-window absence marker — the alert-graph shape ("draw 1
        # where the series is gone"). absent_over_time(sel[R]) asks
        # whether the selector has any raw point inside each window's
        # range, which is exactly what tiles() (with its k-fan-out for
        # R = k*step) yields; absent(X)
        # works over any tiled inner. One anti-join of the window
        # grid (n_tiles rows, driver-range) against the distinct
        # present windows — no extra scan of the fact table.
        arg = node.args[0]
        if node.func == "absent_over_time":
            if not (isinstance(arg, Selector) and arg.range_ms is not None):
                raise ValueError("absent_over_time() takes a range selector")
            inner = tiles(
                dataclasses.replace(arg, range_ms=None), arg.range_ms)
        else:
            inner = _tiled_values(arg, start_ms, end_ms, step_ms, ctx)
        present = inner.select("__w").distinct()
        allw = ctx.samples.sparkSession.range(max(int(n_tiles), 0)).select(
            F.col("id").cast("long").alias("__w")
        )
        return _unlabelled(
            allw.join(present, "__w", "left_anti"), F.lit(1.0), "__w")
    if isinstance(node, Call) and node.func == "info" and node.args:
        # info() in range mode: the tiled inner grid enriched per row
        # with the info metric's data labels — the info selection
        # anchors at the range END (the latest resource identity, the
        # Grafana panel semantics); __w passes straight through
        v = _tiled_values(node.args[0], start_ms, end_ms, step_ms, ctx)
        return _info_enrich(v, _info_selector(node), ctx, _W)
    if (
        isinstance(node, Call)
        and node.func == "timestamp"
        and len(node.args) == 1
        and isinstance(node.args[0], Selector)
        and node.args[0].range_ms is None
    ):
        # timestamp() per window: the last sample's own timestamp (in
        # seconds) — same grouped top-struct as the bare selector
        return _last_point(tiles(node.args[0]), "timestamp", _W)
    if isinstance(node, Call) and node.func in (
        "sort", "sort_desc", "sort_by_label", "sort_by_label_desc"
    ):
        return _tiled_values(_sort_operand(node), start_ms, end_ms, step_ms, ctx)
    if (
        isinstance(node, Call)
        and node.func == "histogram_quantile"
        and len(node.args) == 2
    ):
        phi = _const_scalar(node.args[0])
        if phi is None:
            raise ValueError("histogram_quantile expects a scalar φ")
        vec = _tiled_values(node.args[1], start_ms, end_ms, step_ms, ctx)
        return _histogram_quantile(float(phi), vec, extra_keys=_W)
    if (
        isinstance(node, Call)
        and node.func == "histogram_fraction"
        and len(node.args) == 3
    ):
        lo = _const_scalar(node.args[0])
        hi = _const_scalar(node.args[1])
        if lo is None or hi is None:
            raise ValueError("histogram_fraction expects scalar bounds")
        vec = _tiled_values(node.args[2], start_ms, end_ms, step_ms, ctx)
        return _histogram_fraction(float(lo), float(hi), vec, extra_keys=_W)
    if isinstance(node, Call) and node.func == "vector" and len(node.args) == 1:
        # a constant series present at EVERY step — the `or vector(0)`
        # no-data fallback every dashboard uses; n_tiles rows from a
        # driver range, no scan
        s = _const_scalar(node.args[0])
        if s is None:
            raise ValueError("eval_range: vector() expects a scalar literal")
        return _unlabelled(
            ctx.samples.sparkSession.range(max(int(n_tiles), 0)),
            F.lit(float(s)).cast("double"),
            F.col("id").cast("long").alias("__w"),
        )
    if isinstance(node, Call) and node.func in ("label_replace",
                                                "label_join"):
        v = _tiled_values(node.args[0], start_ms, end_ms, step_ms, ctx)
        return _relabel(v, node, _W)
    if (
        isinstance(node, Call)
        and node.func in _VALUE_FUNCS - _DATE_FUNCS
        and node.args
    ):
        # the date functions stay instant-only: their zero-arg forms
        # read the evaluation time, which the tiled class does not carry
        args = [_const_scalar(a) for a in node.args[1:]]
        if any(a is None for a in args):
            raise ValueError(f"{node.func}() bounds must be scalars")
        v = _tiled_values(node.args[0], start_ms, end_ms, step_ms, ctx)
        return _value_transform(v, node.func, args)
    if isinstance(node, Agg):
        param = node.param
        if param is not None and node.op != "count_values":
            param = _const_scalar(param)
            if param is None:
                raise ValueError(f"{node.op} expects a scalar parameter")
        per = _tiled_values(node.expr, start_ms, end_ms, step_ms, ctx)
        return _aggregate(per, node.op, node.by, node.without, param, _W)
    if isinstance(node, Unary):
        v = _tiled_values(node.expr, start_ms, end_ms, step_ms, ctx)
        return _value_transform(v, "-") if node.op == "-" else v
    if isinstance(node, BinOp):
        return _tiled_binop(node, start_ms, end_ms, step_ms, ctx)
    raise ValueError(
        "eval_range supports selectors, rate/increase/delta(m[step]), "
        "<agg>_over_time(m[step]), grouping aggregations, and binary "
        "operators composing those — got an unsupported shape"
    )


def _tiled_subquery(
    f: str, sq: Subquery, params: list[float],
    start_ms: int, end_ms: int, step_ms: int, ctx: _Ctx,
) -> DataFrame:
    """A subquery under <agg>_over_time in RANGE mode —
    `max_over_time(rate(m[5m])[30m:5m])` as a query_range panel. The
    inner expression evaluates ONCE as its own tiled grid at the
    subquery step S over [start-offset-R, end-offset]; because the grid
    step G is a multiple of S, every outer window's subquery tiles land
    on that same S-grid (the instant path's per-anchor tiling, shared),
    so inner tile j feeds the outer windows w with
    (w+1)·(G/S) < j+1 ≤ (w+1)·(G/S) + R/S — a bounded explode of
    ≤⌈(R/S)/(G/S)⌉ windows per inner value, series grain, never a
    per-step replan."""
    op = _subquery_op(f)
    if sq.at_ms is not None:
        raise ValueError(
            "eval_range: @ on a subquery inside a step-varying "
            "subtree the tiled evaluator cannot split"
        )
    S, R = sq.step_ms, sq.range_ms
    if step_ms % S or R % S:
        raise ValueError(
            "eval_range: subquery needs the grid step and the "
            f"subquery range to be whole multiples of the subquery "
            f"step ({step_ms}ms grid, {R}ms range vs {S}ms step)"
        )
    m, r = step_ms // S, R // S
    if -(-r // m) > RANGE_TILE_MAX_K:
        raise ValueError(
            f"eval_range: subquery window fan-out {-(-r // m)} "
            f"exceeds RANGE_TILE_MAX_K={RANGE_TILE_MAX_K}"
        )
    n_tiles = -(-(end_ms - start_ms) // step_ms)
    if n_tiles <= 0:
        return _unlabelled(
            ctx.samples.sparkSession.range(0), F.lit(0.0),
            F.col("id").cast("long").alias("__w"),
        )
    inner = _tiled_values(
        sq.expr, start_ms - sq.offset_ms - R, end_ms - sq.offset_ms, S, ctx)
    j = F.col("__w")
    w_lo = (F.floor((j - F.lit(int(r)) + F.lit(int(m)))
                    / F.lit(int(m))) - 1).cast("long")
    w_hi = (F.floor(j / F.lit(int(m))) - 1).cast("long")
    fanned = (
        inner.select(
            "signature", "labels",
            # the inner tile id is the pseudo-time last_over_time
            # orders by (the instant path's convention)
            F.col("__w").alias("timestamp"),
            "value", w_lo.alias("__lo"), w_hi.alias("__hi"),
        )
        .filter(
            (F.col("__hi") >= 0)
            & (F.col("__lo") < n_tiles)
            & (F.col("__lo") <= F.col("__hi"))
        )
        .select(
            "signature", "labels", "timestamp", "value",
            F.explode(
                F.sequence(
                    F.greatest(F.col("__lo"), F.lit(0).cast("long")),
                    F.least(F.col("__hi"),
                            F.lit(int(n_tiles - 1)).cast("long")),
                )
            ).alias("__w"),
        )
    )
    return _over_time(fanned, op, *params, extra_keys=_W)


def _const_scalar(node) -> float | None:
    """A compile-time scalar subtree (numbers and arithmetic over
    them), or None if the subtree touches samples."""
    if isinstance(node, Number):
        return node.value
    if isinstance(node, Unary):
        v = _const_scalar(node.expr)
        if v is None:
            return None
        return -v if node.op == "-" else v
    if isinstance(node, BinOp):
        a, b = _const_scalar(node.lhs), _const_scalar(node.rhs)
        if a is None or b is None:
            return None
        return _scalar_binop(node.op, a, b, node.bool_mode)
    return None


def _tiled_binop(
    node: BinOp, start_ms: int, end_ms: int, step_ms: int, ctx: _Ctx
) -> DataFrame:
    """Binary operators over per-window vectors: the scalar operand is
    a compile-time constant or a per-window scalar() relation, and
    vector operands match per (key, window) in _vector_binop."""

    def tiled(n) -> DataFrame:
        return _tiled_values(n, start_ms, end_ms, step_ms, ctx)

    def tiled_scalar(n):
        """The scalar operand as a Column over the vector side's rows:
        a literal, or scalar(X) as a per-window relation [__w, __sv] —
        the share-of-total graph `m / scalar(sum(m))`. Prometheus
        semantics: a window whose inner vector is not exactly one
        series yields NaN (and a window with no inner rows simply has
        no entry — the left join turns that into NaN too)."""
        c = _const_scalar(n)
        if c is not None:
            return F.lit(float(c)), None
        if isinstance(n, Call) and n.func == "scalar" and len(n.args) == 1:
            sv = tiled(n.args[0]).groupBy("__w").agg(
                F.when(F.count("*") == 1, F.first("value"))
                .otherwise(F.lit(float("nan"))).alias("__sv")
            )
            return F.coalesce(F.col("__sv"), F.lit(float("nan"))), sv
        return None, None

    if node.group is None:
        ls, lrel = tiled_scalar(node.lhs)
        rs, rrel = tiled_scalar(node.rhs)
        if ls is not None and rs is not None:
            raise ValueError("eval_range needs at least one vector operand")
        if ls is not None or rs is not None:
            if node.op in ("and", "or", "unless"):
                raise ValueError(f"{node.op} requires two instant vectors")
            vec_left = rs is not None
            vec = tiled(node.lhs if vec_left else node.rhs)
            rel = rrel if vec_left else lrel
            if rel is not None:
                vec = vec.join(rel, "__w", "left")
            return _vector_scalar(
                vec, node, rs if vec_left else ls, vec_left, _W)
    return _vector_binop(node, tiled(node.lhs), tiled(node.rhs), _W)
