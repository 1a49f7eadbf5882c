"""Manifest-style file pruning — evaluate predicates against per-file stats.

The reference surfaces this twice: PyIceberg's client-side scan planning
(``tbl.scan(row_filter=GreaterThanOrEqual(...))`` plans only matching data
files, ``PyIceberg - Getting Started.ipynb:151,168``) and Iceberg's
manifest evaluation over per-column ``lower_bounds``/``upper_bounds``/
``null_value_counts`` (``Iceberg - Getting Started.ipynb:367``, SURVEY §4
"file skipping"). The commit log records the same stats at write time, so
the engine can drop whole files from the scan BEFORE Spark opens them —
at 100 TB this is the difference between touching 3 files and 30 000.

Semantics are conservative: a file is pruned only when its stats PROVE no
row can match. Anything unprovable (unparsed predicate shapes, missing
stats, OR branches) keeps the file; the full predicate always re-applies
as a residual filter in the Spark plan (S13), so pruning can never change
results — only skip I/O.

The predicate mini-grammar (comparisons of a column vs a literal, combined
with AND/OR/parens) mirrors what Iceberg's manifest evaluator can use;
everything else falls through to "keep".

Like Iceberg's, the evaluation is keyed by FIELD ID, not by name: a
file's stats are keyed by the names its own schema version had when it
was written. :func:`bind` resolves each predicate column from the read
schema's name to its field id, then to the name and type that id has in
the file's schema version (a dotted struct path resolves its head the
same way and takes its leaf type from the struct type), so a rename, a
name swap or a dropped-and-re-added column never reads another column's
stats; a column the file's schema lacks binds to ``Unknown`` (keep).
Comparisons then run in that type's domain only — ``file_may_match``
requires the types, and a column without one never prunes: there is no
untyped, shape-guessing fallback. ``LakeTable._prune`` is the one caller.
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import re
from dataclasses import dataclass, replace as _dc_replace
from typing import Any, Union


@dataclass
class Comparison:
    col: str
    op: str  # = != < <= > >=
    value: Any  # int/float for numerics, str otherwise


@dataclass
class BoolOp:
    kind: str  # and | or
    left: "Node"
    right: "Node"


@dataclass
class InList:
    """``col IN (...)`` kept FLAT: evaluating it is one loop, not a
    left-deep OR tree — a generated 3000-value IN list used to recurse
    one ``file_may_match`` frame per value and crash scan planning with
    RecursionError instead of pruning (r12 review)."""

    col: str
    values: list[Any]


@dataclass
class Unknown:
    """A clause pruning cannot reason about — always evaluates to MAYBE."""


Node = Union[Comparison, BoolOp, InList, Unknown]


_INT_RE = re.compile(r"-?\d+$")


def _decode_literal(kind: str, raw: str) -> Any:
    """THE literal decoder (shared by comparisons and IN lists — r12
    review: two verbatim copies had already drifted risk). Integer-shaped
    numerics stay python ints: ``float(raw)`` rounds above 2^53, and a
    rounded literal made the '!='/dict equality refutations prune files
    whose true bigint value differs from the predicate's (snowflake-style
    64-bit IDs routinely exceed 2^53)."""
    if kind == "num":
        return int(raw) if _INT_RE.match(raw) else float(raw)
    return raw[1:-1].replace("''", "'")

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<lparen>\() | (?P<rparen>\)) | (?P<comma>,) |
        (?P<and>(?i:AND)\b) | (?P<or>(?i:OR)\b) | (?P<in>(?i:IN)\b) |
        (?P<op><=|>=|!=|<>|=|<|>) |
        (?P<str>'(?:[^']|'')*') |
        (?P<num>-?\d+(?:\.\d+)?(?:[eE]-?\d+)?) |
        (?P<ident>`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)


def _tokenize(s: str) -> list[tuple[str, str]] | None:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip():
                return None  # unrecognized input → no pruning
            break
        pos = m.end()
        for kind, val in m.groupdict().items():
            if val is not None:
                out.append((kind, val))
                break
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse_or(self) -> Node:
        left = self.parse_and()
        while self.peek() and self.peek()[0] == "or":
            self.take()
            left = BoolOp("or", left, self.parse_and())
        return left

    def parse_and(self) -> Node:
        left = self.parse_atom()
        while self.peek() and self.peek()[0] == "and":
            self.take()
            left = BoolOp("and", left, self.parse_atom())
        return left

    def parse_atom(self) -> Node:
        t = self.peek()
        if t is None:
            return Unknown()
        if t[0] == "lparen":
            self.take()
            inner = self.parse_or()
            if self.peek() and self.peek()[0] == "rparen":
                self.take()
                return inner
            return Unknown()
        if t[0] == "ident":
            ident = self.take()[1].strip("`")
            op_t = self.peek()
            if op_t is not None and op_t[0] == "in":
                return self._parse_in_list(ident)
            if op_t is not None and op_t[0] == "ident" \
                    and op_t[1].lower() == "is":
                return self._parse_is_null(ident)
            if op_t is None or op_t[0] != "op":
                return Unknown()
            op = self.take()[1]
            if op == "<>":
                op = "!="
            val_t = self.peek()
            if val_t is None or val_t[0] not in ("num", "str"):
                return Unknown()
            kind, raw = self.take()
            return Comparison(ident, op, _decode_literal(kind, raw))
        # anything else (functions, IS NULL, NOT IN, ...) → unknown clause
        self.take()
        return Unknown()

    def _parse_is_null(self, ident: str) -> Node:
        """``col IS [NOT] NULL`` → Comparison with op isnull/notnull
        (value unused) — decidable from the per-file null counts."""
        self.take()  # IS
        nxt = self.peek()
        negate = False
        if nxt is not None and nxt[0] == "ident" and nxt[1].lower() == "not":
            self.take()
            negate = True
            nxt = self.peek()
        if nxt is None or nxt[0] != "ident" or nxt[1].lower() != "null":
            return Unknown()
        self.take()
        return Comparison(ident, "notnull" if negate else "isnull", None)

    def _parse_in_list(self, ident: str) -> Node:
        """``col IN (v1, v2, ...)`` → a FLAT InList node: evaluation
        checks each value as an equality (min/max AND dictionary
        skipping both apply per value) in one loop rather than a
        per-value recursion frame."""
        self.take()  # IN
        if self.peek() is None or self.peek()[0] != "lparen":
            return Unknown()
        self.take()
        values: list[Any] = []
        while True:
            v = self.peek()
            if v is None or v[0] not in ("num", "str"):
                return Unknown()
            kind, raw = self.take()
            values.append(_decode_literal(kind, raw))
            nxt = self.peek()
            if nxt is not None and nxt[0] == "comma":
                self.take()
                continue
            if nxt is not None and nxt[0] == "rparen":
                self.take()
                return InList(ident, values)
            return Unknown()


def _depth_ok(node: Node, limit: int = 200) -> bool:
    """Iterative BoolOp-depth check: ``file_may_match`` recurses one
    frame per BoolOp, so a 1000+-clause AND/OR chain would crash scan
    planning with RecursionError instead of degrading to keep-all (r12
    review — IN lists are flat now, this guards the remaining chains)."""
    stack = [(node, 1)]
    while stack:
        n, d = stack.pop()
        if d > limit:
            return False
        if isinstance(n, BoolOp):
            stack.append((n.left, d + 1))
            stack.append((n.right, d + 1))
    return True


def parse_predicate(sql: str) -> Node:
    toks = _tokenize(sql)
    if toks is None or not toks:
        return Unknown()
    p = _Parser(toks)
    try:
        node = p.parse_or()  # paren nesting recurses — keep on overflow
    except RecursionError:
        return Unknown()
    if p.i != len(p.toks):
        return Unknown()
    if not _depth_ok(node):
        return Unknown()  # conservative: residual filter still applies
    return node


_TEMPORAL_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}"
    r"([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:\d{2})?)?$"
)


def _parse_temporal(s: str):
    """Parse a date/timestamp-shaped string; None when not temporal."""
    if not _TEMPORAL_RE.match(s):
        return None
    try:
        return _dt.datetime.fromisoformat(s.replace(" ", "T"))
    except ValueError:
        return None


def _num(s: str):
    """Exact numeric parse: integer-shaped text stays a python int so
    comparisons against 64-bit IDs beyond 2^53 are exact (python
    int-vs-float comparison is exact, so mixed pairs stay sound)."""
    return int(s) if _INT_RE.match(s.strip()) else float(s)


_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "double",
                  "float", "decimal"}
_TEMPORAL_TYPES = {"timestamp", "timestamp_ntz", "date"}
_BOOL_WORDS = {"true": True, "false": False}


def _parse_bool(v: Any):
    if isinstance(v, bool):
        return v
    return _BOOL_WORDS.get(str(v).strip().lower())


def _coerce(stat: str, value: Any, op: str,
            ctype: str | None) -> tuple[Any, Any] | None:
    """Bring a stringified stat and a literal into the comparison domain
    of the column's type ``ctype`` (the normalized base of the file
    schema's Spark simpleString: ``decimal(10,2)`` → ``decimal``).
    None → conservative keep, also for a column with no known type."""
    if ctype in _NUMERIC_TYPES:
        try:
            fs = _num(stat)
        except ValueError:
            return None
        if isinstance(value, bool):
            return None
        if isinstance(value, (int, float)):
            return fs, value
        try:
            # quoted literal on a numeric column: Spark casts the
            # literal — numeric compare is the true semantics
            return fs, _num(str(value))
        except ValueError:
            return None  # uncastable literal → Spark yields no match,
            # but proving that needs ANSI-off null semantics — keep
    if ctype == "string":
        if isinstance(value, str):
            return stat, value  # exact: Spark compares strings
        # non-string literal → Spark casts the COLUMN (numeric/temporal
        # domain); the stats are LEXICOGRAPHIC bounds, which do not
        # bound the cast domain (r12 review: lex ['1000','999'] wrongly
        # refuted x = 1000) → conservative keep
        return None
    if ctype in _TEMPORAL_TYPES:
        ts = _parse_temporal(stat)
        tv = _parse_temporal(str(value))
        if ts is None or tv is None:
            return None
        if (ts.tzinfo is None) != (tv.tzinfo is None):
            return None  # mixed awareness: unknown session-tz cast
        if ctype == "date":
            # Spark casts the string literal to DATE — truncating any
            # time-of-day — when compared against a date column
            # (verified: date '2024-06-15' matches = '2024-06-15
            # 12:00:00'). Comparing at datetime granularity would see
            # stat 00:00 < literal 12:00 and wrongly prune the file
            # (r12 ADVICE). Offset-suffixed literals depend on the
            # session tz → conservative keep.
            if tv.tzinfo is not None:
                return None
            tv = _dt.datetime(tv.year, tv.month, tv.day)
        return ts, tv
    if ctype == "boolean":
        if op not in ("=", "!="):
            return None
        bs, bv = _parse_bool(stat), _parse_bool(value)
        if bs is None or bv is None:
            return None
        return bs, bv
    # binary / arrays / maps / structs: stats are python reprs, never
    # in Spark's comparison domain → never prune
    return None


def _cmp_maybe_match(op: str, lo: str | None, hi: str | None,
                     value: Any, ctype: str | None) -> bool:
    """Can ANY row in [lo, hi] satisfy ``col op value``? Missing bound →
    unbounded on that side → maybe. NaN literals are never decidable
    from ordered bounds (every comparison with NaN is unordered — a
    ``k <= NaN`` conjunct must not refute the file, r12 review)."""
    if isinstance(value, float) and value != value:
        return True
    if op in ("=",):
        if lo is not None:
            c = _coerce(lo, value, "=", ctype)
            if c is not None and c[0] > c[1]:
                return False
        if hi is not None:
            c = _coerce(hi, value, "=", ctype)
            if c is not None and c[0] < c[1]:
                return False
        return True
    if op in ("<", "<="):
        if lo is None:
            return True
        c = _coerce(lo, value, op, ctype)
        if c is None:
            return True
        return c[0] < c[1] if op == "<" else c[0] <= c[1]
    if op in (">", ">="):
        if hi is None:
            return True
        c = _coerce(hi, value, op, ctype)
        if c is None:
            return True
        return c[0] > c[1] if op == ">" else c[0] >= c[1]
    # != can only be refuted when lo == hi == value (single-valued file)
    if op == "!=":
        if lo is not None and hi is not None and lo == hi:
            c = _coerce(lo, value, op, ctype)
            if c is not None and c[0] == c[1]:
                return False
        return True
    return True


# ------------------------------------------------------------- bloom index
# Per-file bloom filters for equality skipping on HIGH-cardinality STRING
# columns (uuids, urls, content hashes) — where the dictionary index's
# complete-distinct-set cap gives up. String-only by design: stats and
# dict entries stringify native values, which is exactly the coercion
# hazard the temporal advice fixed; a bloom is hash-exact with no "maybe"
# escape, so it only covers columns where Spark's own equality IS exact
# string equality. The Delta bloom-filter-index / Iceberg puffin analog.

_BLOOM_K = 6  # hash count; with the default 8192 bits, ~1% FPR at ~1k keys


def _bloom_hashes(value: str, m: int):
    return _bloom_hashes_cached(value, m)


@_functools.lru_cache(maxsize=65536)
def _bloom_hashes_cached(value: str, m: int) -> tuple[int, ...]:
    """Memoized probe positions: planning an equality over 30k files
    probes the SAME (value, m) pair per file — without the cache that is
    6 MD5 digests per file per literal on the driver, every query (r12
    review)."""
    import hashlib

    return tuple(
        int.from_bytes(
            hashlib.md5(f"{i}:{value}".encode()).digest()[:8], "big") % m
        for i in range(_BLOOM_K)
    )


@_functools.lru_cache(maxsize=8192)
def _bloom_bits(b64: str) -> bytes:
    """Memoized base64 decode — the bit array is immutable commit-log
    metadata, re-decoded per (file, probe) without the cache."""
    import base64

    return base64.b64decode(b64)


def bloom_encode(values, m: int) -> str:
    """Write-side: fold an iterable of strings into a base64 bit array.
    ``m`` rounds UP to a multiple of 8: the decode side can only recover
    the bit count from the byte length, so encoding with a non-aligned
    modulus would hash to different positions than the probe — systematic
    false negatives (wrong pruning), the one failure a bloom must never
    have."""
    import base64

    m = max(8, (m + 7) // 8 * 8)
    bits = bytearray(m // 8)
    for v in values:
        for h in _bloom_hashes(v, m):
            bits[h >> 3] |= 1 << (h & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def bloom_may_contain(b64: str, value: str) -> bool:
    """False ⇒ the value is PROVABLY absent from the file (no bloom false
    negatives); True means maybe."""
    raw = _bloom_bits(b64)
    m = len(raw) * 8
    return all(
        raw[h >> 3] & (1 << (h & 7)) for h in _bloom_hashes(value, m)
    )


def _dict_may_match(op: str, vals: list[str], value: Any,
                    ctype: str | None) -> bool | None:
    """Evaluate an equality-family comparison against a file's COMPLETE
    distinct-value set (no nulls; null rows never satisfy = or != anyway).
    Returns None when the op isn't dictionary-decidable."""
    if op not in ("=", "!="):
        return None
    def _eq(stat: str) -> bool | None:
        # None propagates UP as undecidable: an uncomparable dict value
        # is not PROVABLY unequal, so '=' must not prune on its account.
        c = _coerce(stat, value, op, ctype)
        if c is None:
            return None
        return c[0] == c[1]
    if op == "=":
        results = [_eq(s) for s in vals]
        if any(r is True for r in results):
            return True
        if any(r is None for r in results):
            return None  # some value MIGHT equal under a cast → keep
        return False
    # !=: refuted only when the file holds exactly {value}, provably
    return not (len(vals) == 1 and _eq(vals[0]) is True)


def file_may_match(node: Node, lower: dict[str, str], upper: dict[str, str],
                   partition_values: dict[str, str | None],
                   dicts: dict[str, list[str]] | None = None,
                   null_counts: dict[str, int] | None = None,
                   rows: int | None = None,
                   blooms: dict[str, str] | None = None,
                   *, types: dict[str, str]) -> bool:
    """Conservative manifest evaluation of one file: False ⇒ provably
    zero matching rows in it. ``node`` must already be BOUND to the
    file's schema (:func:`bind`): its columns are the names the file's
    stats are keyed by, and ``types`` (required) maps each of them to
    its Spark simpleString in the file's schema. A column with no type
    never prunes — there is no untyped, shape-guessing fallback.
    Partition-dir values act as exact single-value bounds for their
    column (pass the HIVE-DECODED values — escaped ``%XX`` text compared
    raw wrongly pruned its own partition; a ``None`` value is the
    null-sentinel dir: no comparison can match it); ``dicts``
    (complete per-file distinct sets, the dictionary data-skipping
    index) decide = / != exactly where min/max can only rule out
    ranges; ``null_counts`` + ``rows`` decide IS [NOT] NULL (a file with
    zero nulls in the column cannot satisfy IS NULL; an all-null file
    cannot satisfy IS NOT NULL) — the same use Iceberg makes of its
    per-column null_value_counts."""
    if isinstance(node, Unknown):
        return True
    if isinstance(node, BoolOp):
        l = file_may_match(node.left, lower, upper, partition_values,
                           dicts, null_counts, rows, blooms, types=types)
        r = file_may_match(node.right, lower, upper, partition_values,
                           dicts, null_counts, rows, blooms, types=types)
        return (l and r) if node.kind == "and" else (l or r)
    if isinstance(node, InList):
        # flat loop — one frame for the whole list, however long
        return any(
            file_may_match(Comparison(node.col, "=", v), lower, upper,
                           partition_values, dicts, null_counts, rows,
                           blooms, types=types)
            for v in node.values
        )
    assert isinstance(node, Comparison)
    ctype = _norm_type(types.get(node.col))
    if node.op in ("isnull", "notnull"):
        nc = (null_counts or {}).get(node.col)
        if nc is None:
            return True  # no stats → maybe
        if node.op == "isnull":
            return nc > 0
        return rows is None or nc < rows
    if node.col in partition_values:
        pv = partition_values[node.col]
        if pv is None:
            # __HIVE_DEFAULT_PARTITION__: the column is NULL in every
            # row, and NULL satisfies no comparison
            return False
        return _cmp_maybe_match(node.op, pv, pv, node.value, ctype)
    if dicts and node.col in dicts:
        d = _dict_may_match(node.op, dicts[node.col], node.value, ctype)
        if d is not None:
            return d
    # bloom: '=' on a string literal only — a miss proves absence; any hit
    # or non-string literal falls through to the min/max bounds
    if (blooms and node.col in blooms and node.op == "="
            and isinstance(node.value, str)
            and not bloom_may_contain(blooms[node.col], node.value)):
        return False
    return _cmp_maybe_match(
        node.op, lower.get(node.col), upper.get(node.col), node.value, ctype
    )


def _norm_type(t: str | None) -> str | None:
    """Spark simpleString → the base type the coercion switches on
    (``decimal(10,2)`` → ``decimal``)."""
    if t is None:
        return None
    return t.strip().lower().split("(", 1)[0]


# ------------------------------------------------------- field-id binding

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _stats_bound(file_type: str, read_type: str) -> bool:
    """Do stats recorded under ``file_type`` bound the values a read
    sees under ``read_type``? Only when the read cast keeps every value:
    the same type, or integral widening. Any other change (int → string
    compares lexicographically, decimal narrowing rounds) moves values
    out of the stats' domain."""
    if file_type == read_type:
        return True
    f, r = _norm_type(file_type), _norm_type(read_type)
    return (f in _INTEGRAL and r in _INTEGRAL
            and _INTEGRAL.index(f) <= _INTEGRAL.index(r))


def stat_value(stat: str, file_type: str, read_type: str) -> Any:
    """A file's stringified bound as a value of the column's comparison
    domain (number, string, datetime), or None when the stats do not
    bound the values a read under ``read_type`` sees
    (:func:`_stats_bound`) or the type has no order here."""
    if not _stats_bound(file_type, read_type):
        return None
    t = _norm_type(file_type)
    if t in _NUMERIC_TYPES:
        try:
            return _num(stat)
        except ValueError:
            return None
    if t == "string":
        return stat
    if t in _TEMPORAL_TYPES:
        return _parse_temporal(stat)
    return None


def _struct_field_type(t: str, name: str) -> str | None:
    """Type of field ``name`` in a ``struct<a:int,b:decimal(10,2)>``
    simpleString; None when ``t`` is not a struct or lacks the field."""
    if not (t.startswith("struct<") and t.endswith(">")):
        return None
    depth, start, body = 0, 0, t[7:-1] + ","
    for i, ch in enumerate(body):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            n, _, ft = body[start:i].partition(":")
            if n == name:
                return ft
            start = i + 1
    return None


def bind(node: Node, read_fields: list, file_fields: list
         ) -> tuple[Node, dict[str, str]]:
    """Bind a predicate over the READ schema's column names to one file
    schema: ``(node, types)`` for :func:`file_may_match`, keyed the way
    that schema's files key their stats. Fields are matched by field id
    (objects with ``id``/``name``/``type``), so a rename or a dropped
    and re-added column never reads another column's stats. A dotted
    path ``s.x`` resolves its head ``s`` the same way and takes the
    leaf type from the struct type, which must be unchanged between the
    two schemas. A column the file schema lacks, or whose type changed
    out of its stats' domain, becomes :class:`Unknown` (keep)."""
    by_name = {f.name: f for f in read_fields}
    by_id = {f.id: f for f in file_fields}
    types: dict[str, str] = {}

    def stat_key(col: str) -> str | None:
        f, path = by_name.get(col), []
        if f is None:
            head, _, rest = col.partition(".")
            f, path = by_name.get(head), rest.split(".")
        old = by_id.get(f.id) if f is not None else None
        if old is None:
            return None
        t = old.type
        if path:
            if old.type != f.type:
                return None
            for leaf in path:
                t = _struct_field_type(t, leaf)
                if t is None:
                    return None
        elif not _stats_bound(old.type, f.type):
            return None
        key = ".".join([old.name, *path])
        types[key] = t
        return key

    def walk(n: Node) -> Node:
        if isinstance(n, BoolOp):
            return BoolOp(n.kind, walk(n.left), walk(n.right))
        if isinstance(n, (Comparison, InList)):
            key = stat_key(n.col)
            return Unknown() if key is None else _dc_replace(n, col=key)
        return n

    return walk(node), types
