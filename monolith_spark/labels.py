"""Label semantics: canonical signatures, series ids, matcher predicates.

The reference's series identity is its full label set, canonically
serialized sorted-by-key as ``k1=v1,k2=v2,...``
(/root/reference/src/indexer/sled_indexer.rs:275-289, golden test at
:197-205) and used as the exact-lookup key
(/root/reference/src/indexer/sled_indexer.rs:98-107). Queries use
*superset* semantics: a series matches iff its label set contains every
matcher pair (/root/reference/src/indexer/common.rs:13-21, verified by
/root/reference/tests/test_chunk.rs:45-57).

Divergences (documented in SURVEY.md §7.4):
- The reference corrupts signatures when label values contain ``,`` or
  ``=`` (/root/reference/src/indexer/sled_indexer.rs:291-319). We
  escape ``\\``, ``,`` and ``=`` with a backslash, so the signature is
  injective.
- Chunk-local AtomicU64 ids (/root/reference/src/chunk/chunk.rs:94) are
  replaced by a content hash (xxhash64 of the signature): stable across
  partitions/executors and idempotent under concurrent ingest — the
  get-or-create critical section disappears.

Every builder here takes column names and returns ONE parsed SQL
expression (JVM-side, codegen'd); no Python UDFs on the ingest or
query hot path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Ingest-row shape: the Spark mapping of one (labels, sample) pair from a
# Prometheus WriteRequest (/root/reference/src/proto/remote.rs:31-40).
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("timestamp", T.LongType(), False),  # unix ms (src/lib.rs:27)
        T.StructField("value", T.DoubleType(), False),  # f64 (src/lib.rs:28)
    ]
)

# Matcher types from the Prometheus proto
# (/root/reference/src/proto/types.rs:1184-1189). The reference drops
# everything to EQ (/root/reference/src/common/label.rs:19-24); we
# implement all four as a flagged extension (SURVEY.md §7.2 M4).
EQ = "EQ"
NEQ = "NEQ"
RE = "RE"
NRE = "NRE"


def sql_str_lit(s: str) -> str:
    """A Spark-SQL single-quoted string literal for ``s`` (backslash
    escaping — the default parser mode get_spark runs under)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_name(name: str, builder: str) -> str:
    """A column name as a backtick-quoted SQL identifier (embedded
    backticks doubled) — the one boundary every expression builder
    passes its column names through. A Column is refused: builders
    compose SQL text, so a caller holding a Column composes the
    ``*_sql`` body instead."""
    if not isinstance(name, str):
        raise TypeError(
            f"{builder}() takes a column name, not {type(name).__name__}"
        )
    return "`" + name.replace("`", "``") + "`"


def _escape_label(s: str) -> str:
    # Backslash first so escape characters are not double-escaped.
    return s.replace("\\", "\\\\").replace(",", "\\,").replace("=", "\\=")


def _escape_sql(e: str) -> str:
    # _escape_label over a Spark SQL string expression
    return (
        "replace(replace(replace(" + e +
        ", '\\\\', '\\\\\\\\'), ',', '\\\\,'), '=', '\\\\=')"
    )


def signature_sql_text(map_sql: str = "labels") -> str:
    """SQL text of the canonical signature over a map-typed SQL
    expression. Every builder here parses ONE SQL string — a fixed
    handful of py4j round trips, where composing Column objects costs
    one or more per node (~85 ms of socket chatter per signature, the
    §7.3 driver-time trap)."""
    return (
        "array_join(transform(array_sort(map_entries(" + map_sql + ")), "
        "e -> concat(" + _escape_sql("e.key") + ", '=', "
        + _escape_sql("e.value") + ")), ',')"
    )


def signature_expr(labels: str = "labels") -> Column:
    """Canonical signature of a label map column: sorted ``k=v`` joined
    by ``,``.

    Mirrors encode_labels (/root/reference/src/indexer/sled_indexer.rs:275-289)
    minus the storage-key prefix, plus escaping (see module docstring).
    The map_entries sort orders by key (keys are unique).
    """
    return F.expr(signature_sql_text(sql_name(labels, "signature_expr")))


def series_id_expr(labels: str = "labels") -> Column:
    """Stable 64-bit series id: xxhash64 of the canonical signature."""
    sig = signature_sql_text(sql_name(labels, "series_id_expr"))
    return F.expr(f"xxhash64({sig})")


def signature_sql(pairs: list[tuple[str, str]]) -> str:
    """DuckDB-SQL signature builder for oracle parity checks.

    ``pairs`` is ``[(label_key, sql_expr_for_value), ...]``; keys must be
    literal strings. Produces the same escaped ``k=v,...`` string the
    Spark expression yields, for DuckDB to evaluate on the raw tables.
    """

    def esc_sql(e: str) -> str:
        out = f"replace({e}, '\\', '\\\\')"
        out = f"replace({out}, ',', '\\,')"
        return f"replace({out}, '=', '\\=')"

    parts = [f"'{_escape_label(k)}=' || {esc_sql(v)}" for k, v in sorted(pairs)]
    return " || ',' || ".join(parts)


def _label_value_sql(map_sql: str, key: str) -> str:
    return f"try_element_at({map_sql}, {sql_str_lit(key)})"


def label_value(labels: str, key: str) -> Column:
    """Null-safe map lookup (ANSI-proof: missing key → NULL, not error)."""
    return F.expr(_label_value_sql(sql_name(labels, "label_value"), key))


def superset_predicate(labels: str, matchers: dict[str, str]) -> Column:
    """J4 contains-all-labels semantics: labels ⊇ matchers.

    The AND of per-label equality lookups — Catalyst folds this into one
    scan, replacing the reference's posting-list k-way sorted
    intersection (/root/reference/src/common/utils.rs:56-128).
    An empty matcher set matches every series.
    """
    col = sql_name(labels, "superset_predicate")
    return F.expr(" AND ".join(
        ["true"] + [f"({_label_value_sql(col, k)} = {sql_str_lit(v)})"
                    for k, v in matchers.items()]
    ))


@dataclass(frozen=True)
class LabelMatcher:
    """One Prometheus label matcher (name, type, value)."""

    name: str
    value: str
    type: str = EQ  # EQ | NEQ | RE | NRE


def matcher_predicate(labels: str, matchers: list["LabelMatcher"]) -> Column:
    """Full Prometheus matcher semantics (extension beyond the reference).

    - EQ: label present and equal.
    - NEQ: label absent or not equal (Prometheus treats a missing label
      as the empty string).
    - RE / NRE: fully-anchored regex on the label value ('' if absent).
    """
    col = sql_name(labels, "matcher_predicate")
    parts = []
    for m in matchers:
        val = f"coalesce({_label_value_sql(col, m.name)}, '')"
        pat = sql_str_lit(f"^(?:{m.value})$")
        if m.type == EQ:
            parts.append(f"{val} = {sql_str_lit(m.value)}")
        elif m.type == NEQ:
            parts.append(f"{val} != {sql_str_lit(m.value)}")
        elif m.type == RE:
            parts.append(f"{val} RLIKE {pat}")
        elif m.type == NRE:
            parts.append(f"NOT ({val} RLIKE {pat})")
        else:  # pragma: no cover
            raise ValueError(f"unknown matcher type {m.type!r}")
    return F.expr("(" + ") AND (".join(parts) + ")" if parts else "true")


def exact_signature_predicate(labels: str, full_labels: dict[str, str]) -> Column:
    """J5 exact label-set lookup: the whole (sorted, escaped) signature
    must equal the query's (/root/reference/src/indexer/sled_indexer.rs:98-107)."""
    sig = signature_sql_text(sql_name(labels, "exact_signature_predicate"))
    return F.expr(f"{sig} = {sql_str_lit(python_signature(full_labels))}")


def python_signature(labels: dict[str, str]) -> str:
    """Driver-side twin of signature_expr, for tests and point lookups."""
    return ",".join(
        f"{_escape_label(k)}={_escape_label(v)}" for k, v in sorted(labels.items())
    )


def regex_literal_set(pattern: str, cap: int = 64) -> set[str] | None:
    """The finite set of strings an ANCHORED regex matches, or None if
    the pattern isn't a pure literal alternation (Prometheus's
    FastRegexMatcher "set matches" analysis, from the public
    prometheus/common regexp optimization — re-derived, not ported).

    Handles literals, ``|`` alternation, ``(...)`` / ``(?:...)``
    groups (arbitrarily nested, concatenation = cross product), and
    single-character escapes of regex metachars (``\\.`` etc.). Any
    quantifier, class, dot, anchor or backreference → None, as does an
    expansion larger than ``cap`` (past that, postings stop being
    cheaper than a scan). Matchers use fully-anchored semantics
    (``^(?:pat)$``), so the set is exact, not a prefix heuristic.
    """
    METACHARS = set(".^$*+?{}[]|()\\")

    def parse_alt(i: int) -> tuple[set[str], int] | None:
        branches: set[str] = set()
        cur = parse_concat(i)
        if cur is None:
            return None
        vals, i = cur
        branches |= vals
        while i < len(pattern) and pattern[i] == "|":
            cur = parse_concat(i + 1)
            if cur is None:
                return None
            vals, i = cur
            branches |= vals
            if len(branches) > cap:
                return None
        return branches, i

    def parse_concat(i: int) -> tuple[set[str], int] | None:
        parts: set[str] = {""}
        while i < len(pattern) and pattern[i] not in "|)":
            c = pattern[i]
            if c == "(":
                j = i + 1
                if pattern.startswith("?:", j):
                    j += 2
                elif pattern.startswith("?", j):
                    return None  # lookarounds, named groups, flags
                sub = parse_alt(j)
                if sub is None:
                    return None
                vals, j = sub
                if j >= len(pattern) or pattern[j] != ")":
                    return None
                i = j + 1
            elif c == "\\":
                if i + 1 >= len(pattern):
                    return None
                nxt = pattern[i + 1]
                if nxt not in METACHARS:
                    return None  # \d, \w, \b... are classes/anchors
                vals = {nxt}
                i += 2
            elif c in METACHARS:
                return None  # quantifier/class/dot/anchor
            else:
                vals = {c}
                i += 1
            # a quantifier after ANY atom breaks literalness
            if i < len(pattern) and pattern[i] in "*+?{":
                return None
            parts = {a + b for a in parts for b in vals}
            if len(parts) > cap:
                return None
        return parts, i

    out = parse_alt(0)
    if out is None:
        return None
    vals, i = out
    return vals if i == len(pattern) else None
