"""Maplibre-style JSON expression DSL compiled to Catalyst Columns.

Reference semantics reproduced exactly (KotobaMedia/mvt-wrangler):
  - operator table:        /root/reference/src/filtering/data.rs:76-137
  - compile + literals:    /root/reference/src/filtering/expression_compiler.rs:132-328
  - value model (oneof):   expression_compiler.rs:47-96 (floats carried as their
                           Rust Display string "to maintain precision and enable
                           hashing")
  - truthiness:            expression_compiler.rs:99-108
  - comparison ladder:     /root/reference/src/filtering/executor.rs:200-235
    (null==null, null<everything; bool/bool; int/int; float/float and int/float
    as f64 with parse-fail→0.0; string/string; ANY OTHER MIX compares the
    Display strings — so 1 == "1" is true via string compare)
  - `in` membership is EXACT-TYPED (HashSet over the value enum — no coercion;
    Number(1) ∉ {Float("1")}): expression_compiler.rs:232-243, executor.rs:132-135
  - string ops coerce via Display (Null → "null"): executor.rs:138-165
  - regex-capture: no-match or absent group → Null (falsy, in-list matchable):
    executor.rs:153-165

The compiler targets Catalyst instead of a Rust enum tree: every DSL node
lowers to built-in pyspark.sql.functions column expressions (JVM-side,
whole-stage codegen — no Python in the hot path). Each runtime value records
the kinds it can take (a string tag: NULL or STRING; a literal: its one
kind), and the type cascades emit only the arms those kinds can reach — the
tree the driver builds is already the one Catalyst would fold it down to.

Value kinds: NULL=0 STRING=1 NUMBER=2 FLOAT=3 BOOL=4 (arrays exist only as
compile-time `in`-list / literal values, never as column data).

Known, documented divergences from the reference (exact in the pure-Python
evaluator `tests/oracle/expr_oracle.py`, approximated in columns):
  - regex-capture of a *participating-but-empty* group vs a non-participating
    group: Spark's regexp_extract can't distinguish; we return String("") when
    the pattern matches and the group index exists, Null otherwise.
  - NaN in float comparisons: Rust's partial_cmp fallback treats NaN-vs-x as
    Equal; Spark orders NaN last. Filter data never carries NaN.
  - Rust vs Java regex dialects: patterns pass through unchanged; both are
    perl-compatible for the common subset (the reference's own fixtures use
    only `^ $ . * ? () []` constructs, identical in both).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL, STRING, NUMBER, FLOAT, BOOL, ARRAY = 0, 1, 2, 3, 4, 5

_KNOWN_OPS = {
    "==", "!=", "<", ">", "<=", ">=",
    "any", "all", "none", "not", "!",
    "in", "not-in", "starts-with", "ends-with", "regex-match",
    "regex-capture", "boolean", "string", "literal", "tag", "key", "type",
}
# DOC-PARITY ops: /root/reference/FILTERING.md:25-26 documents `not-in`
# (membership) and `string` (casting), but the reference IMPLEMENTATION
# rejects both (src/filtering/data.rs:112-137 from_str -> "Unknown
# operator"). A user following the doc writes them, so this compiler
# accepts them: `not-in` is the exact-typed negation of `in`, and `string`
# casts via the same Display used by the string ops (Null -> "null").


class ExpressionCompileError(ValueError):
    """Raised at compile time — mirrors the reference's anyhow errors."""


def rust_f64_display(x: float) -> str:
    """Rust `f64::Display` formatting (shortest round-trip, never scientific).

    Python repr() is also shortest-round-trip but uses exponent notation and
    keeps a trailing `.0`; Rust prints 2.0 as "2" and 1e20 as
    "100000000000000000000".
    """
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    r = repr(x)
    if "e" in r or "E" in r:
        # expand exponent notation without changing the digits
        from decimal import Decimal

        r = format(Decimal(r), "f")
    if r.endswith(".0"):
        r = r[:-2]
    return r


# ---------------------------------------------------------------------------
# Compile-time (literal) values — mirrors ExpressionValue
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Lit:
    """A compile-time ExpressionValue: kind + payload.

    Floats store (display_string, parsed_f64) — parse of the display string
    with parse-fail→0.0 happens once here, like the reference does per
    comparison (executor.rs:214).
    """

    kind: int
    s: str | None = None
    i: int | None = None
    fs: str | None = None
    b: bool | None = None
    arr: tuple["Lit", ...] | None = None

    @property
    def f(self) -> float:
        try:
            return float(self.fs)
        except (TypeError, ValueError):
            return 0.0

    def display(self) -> str:
        if self.kind == NULL:
            return "null"
        if self.kind == STRING:
            return self.s
        if self.kind == NUMBER:
            return str(self.i)
        if self.kind == FLOAT:
            return self.fs
        if self.kind == BOOL:
            return "true" if self.b else "false"
        return "[" + ", ".join(v.display() for v in self.arr) + "]"

    def truthy(self) -> bool:
        if self.kind == NULL:
            return False
        if self.kind == STRING:
            return self.s != ""
        if self.kind == NUMBER:
            return self.i != 0
        if self.kind == FLOAT:
            return self.fs not in ("0", "0.0")
        if self.kind == BOOL:
            return self.b
        return len(self.arr) > 0


def lit_from_json(v: Any) -> Lit:
    """ExpressionValue::from_json_value (expression_compiler.rs:58-75)."""
    if v is None:
        return Lit(NULL)
    if isinstance(v, bool):
        return Lit(BOOL, b=v)
    if isinstance(v, int):
        return Lit(NUMBER, i=v)
    if isinstance(v, float):
        # serde_json prints non-integer numbers with their JSON text; for a
        # Python float the equivalent canonical form is the shortest
        # round-trip with a ".0" kept for integral values ("2.0" not "2"),
        # matching serde_json::Number::to_string.
        r = repr(v)
        return Lit(FLOAT, fs=r)
    if isinstance(v, str):
        return Lit(STRING, s=v)
    if isinstance(v, (list, tuple)):
        return Lit(ARRAY, arr=tuple(lit_from_json(x) for x in v))
    raise ExpressionCompileError(f"Unsupported literal: {v!r}")


# ---------------------------------------------------------------------------
# Runtime (column) values: a bundle of per-kind columns
# ---------------------------------------------------------------------------

# every kind a typed tag struct's `t` field may hold; ARRAY (never column
# data) stands for the values no ladder arm names, so a typed value keeps
# each arm's runtime test and the ladder's own fallback
ALL_KINDS = frozenset((NULL, STRING, NUMBER, FLOAT, BOOL, ARRAY))


class CVal:
    """A column-valued ExpressionValue: the kinds it can take at runtime, a
    kind column, and the per-kind payloads those kinds read.

    `kinds` is known at compile time, so `display`, `truthy`, `_cmp` and
    `_in_member_test` emit only the arms of kinds (or kind pairs) that can
    occur: a one-kind value has no `t` test and no other payload. Dead arms
    were folded by Catalyst anyway — results are the same, the driver just
    builds (and the analyzer walks) a fraction of the tree.
    """

    __slots__ = ("kinds", "t", "s", "i", "f", "fs", "b")

    def __init__(self, kinds: frozenset, t: Column | None = None, s: Column | None = None,
                 i: Column | None = None, f: Column | None = None,
                 fs: Column | None = None, b: Column | None = None):
        self.kinds, self.t = kinds, t
        self.s, self.i, self.f, self.fs, self.b = s, i, f, fs, b

    @staticmethod
    def from_lit(v: Lit) -> "CVal":
        """One kind; only that kind's payload is built."""
        if v.kind == STRING:
            return CVal(frozenset((STRING,)), s=F.lit(v.s).cast("string"))
        if v.kind == NUMBER:
            return CVal(frozenset((NUMBER,)), i=F.lit(v.i).cast("long"))
        if v.kind == FLOAT:
            return CVal(frozenset((FLOAT,)), f=F.lit(v.f).cast("double"),
                        fs=F.lit(v.fs).cast("string"))
        if v.kind == BOOL:
            return CVal(frozenset((BOOL,)), b=F.lit(v.b).cast("boolean"))
        return CVal(frozenset((v.kind,)))

    @staticmethod
    def from_string_col(c: Column) -> "CVal":
        """A nullable string column (map<string,string> tag lookup): NULL or
        STRING. No kind column — the kind is NULL exactly when `c` is."""
        return CVal(frozenset((NULL, STRING)), s=c)

    @staticmethod
    def from_bool_col(c: Column) -> "CVal":
        return CVal(frozenset((BOOL,)), b=c)

    @staticmethod
    def from_value_struct(c: Column) -> "CVal":
        """Typed tag struct `struct<t,s,i,f,fs,b>` (MVT Value oneof analog).

        A NULL struct (missing map key) is kind NULL.
        """
        return CVal(
            ALL_KINDS,
            t=F.coalesce(c.getField("t"), F.lit(NULL)),
            s=c.getField("s"),
            i=c.getField("i"),
            f=c.getField("f"),
            fs=c.getField("fs"),
            b=c.getField("b"),
        )

    def is_(self, k: int, kinds: frozenset | None = None) -> Column | bool:
        """The test `kind == k` for a value known to be one of `kinds`
        (default: all its kinds) — a Python bool when `kinds` decides it."""
        kinds = self.kinds if kinds is None else kinds
        if k not in kinds:
            return False
        if len(kinds) == 1:
            return True
        if self.t is None:  # string column: NULL exactly when s is null
            return self.s.isNull() if k == NULL else self.s.isNotNull()
        return self.t == k

    def _by_kind(self, arms: list, default: Column) -> Column:
        """CASE over the kind, in `arms` order [(kind, payload -> Column)],
        with only the reachable arms; the last reachable kind is the ELSE."""
        left = set(self.kinds)
        out = None
        for k, arm in arms:
            if k not in left:
                continue
            if len(left) == 1:
                return arm() if out is None else out.otherwise(arm())
            out = (F if out is None else out).when(self.is_(k, frozenset(left)), arm())
            left.discard(k)
        if out is None:
            return default
        return out.otherwise(default)

    def display(self) -> Column:
        """Rust Display coercion (expression_compiler.rs:111-125)."""
        return self._by_kind([
            (NULL, lambda: F.lit("null")),
            (STRING, lambda: self.s),
            (NUMBER, lambda: self.i.cast("string")),
            (FLOAT, lambda: self.fs),
            (BOOL, lambda: F.when(self.b, F.lit("true")).otherwise(F.lit("false"))),
        ], F.lit(None))

    def truthy(self) -> Column:
        """to_bool (expression_compiler.rs:99-108)."""
        return self._by_kind([
            (NULL, lambda: F.lit(False)),
            (STRING, lambda: self.s != ""),
            (NUMBER, lambda: self.i != 0),
            (FLOAT, lambda: (self.fs != "0") & (self.fs != "0.0")),
            (BOOL, lambda: self.b),
        ], F.lit(False))


Val = Union[Lit, CVal]


def _as_cval(v: Val) -> CVal:
    return CVal.from_lit(v) if isinstance(v, Lit) else v


def _bool_val(v: Val) -> Column:
    """Truthiness of an evaluated node as a Column (or folds for literals)."""
    if isinstance(v, Lit):
        return F.lit(v.truthy())
    return v.truthy()


def _and(x: Column | bool, y: Column | bool) -> Column | bool:
    """`x & y` where either side may be a compile-time bool."""
    if x is False or y is False:
        return False
    if x is True:
        return y
    if y is True:
        return x
    return x & y


_ORD_OPS = {
    "==": lambda c: c == 0,
    "!=": lambda c: c != 0,
    "<": lambda c: c < 0,
    ">": lambda c: c > 0,
    "<=": lambda c: c <= 0,
    ">=": lambda c: c >= 0,
}


def _cmp(a: Val, b: Val, op: str) -> Column:
    """compare_values coercion ladder (executor.rs:200-235) as one cascade.

    Emits a boolean Column directly, one branch per type pair — only for
    the pairs the operands' kinds allow; the last reachable pair is the
    ELSE, so a string tag vs a string literal is one null test and one
    string compare.
    """
    if isinstance(a, Lit) and isinstance(b, Lit):
        return F.lit(_ORD_OPS[op](_compare_lits(a, b)))
    ca, cb = _as_cval(a), _as_cval(b)

    def o(x: Column, y: Column) -> Column:
        if op == "==":
            return x == y
        if op == "!=":
            return x != y
        if op == "<":
            return x < y
        if op == ">":
            return x > y
        if op == "<=":
            return x <= y
        return x >= y

    const = {"==": (True, False, False), "!=": (False, True, True),
             "<": (False, True, False), ">": (False, False, True),
             "<=": (True, True, False), ">=": (True, False, True)}[op]
    eq_r, lt_r, gt_r = const  # result when ordering is Equal / Less / Greater
    # (kind of a, kind of b) per rung — None matches any kind
    ladder = [
        (NULL, NULL, lambda: F.lit(eq_r)),
        (NULL, None, lambda: F.lit(lt_r)),
        (None, NULL, lambda: F.lit(gt_r)),
        (BOOL, BOOL, lambda: o(ca.b.cast("int"), cb.b.cast("int"))),
        (NUMBER, NUMBER, lambda: o(ca.i, cb.i)),
        (FLOAT, FLOAT, lambda: o(ca.f, cb.f)),
        (NUMBER, FLOAT, lambda: o(ca.i.cast("double"), cb.f)),
        (FLOAT, NUMBER, lambda: o(ca.f, cb.i.cast("double"))),
        (STRING, STRING, lambda: o(ca.s, cb.s)),
    ]
    left = {(x, y) for x in ca.kinds for y in cb.kinds}
    out = None
    for ka, kb, arm in ladder:
        hit = {p for p in left if ka in (None, p[0]) and kb in (None, p[1])}
        if not hit:
            continue
        if hit == left:
            return arm() if out is None else out.otherwise(arm())
        cond = _and(ca.is_(ka, frozenset(x for x, _ in left)) if ka is not None else True,
                    cb.is_(kb, frozenset(y for _, y in left)) if kb is not None else True)
        out = (F if out is None else out).when(cond, arm())
        left -= hit
    rest = o(ca.display(), cb.display())
    return rest if out is None else out.otherwise(rest)


def _compare_lits(a: Lit, b: Lit) -> int:
    """Compile-time constant fold of the same ladder (-1/0/1)."""
    if a.kind == NULL and b.kind == NULL:
        return 0
    if a.kind == NULL:
        return -1
    if b.kind == NULL:
        return 1
    if a.kind == BOOL and b.kind == BOOL:
        return (a.b > b.b) - (a.b < b.b)
    if a.kind == NUMBER and b.kind == NUMBER:
        return (a.i > b.i) - (a.i < b.i)
    if a.kind in (NUMBER, FLOAT) and b.kind in (NUMBER, FLOAT):
        x = float(a.i) if a.kind == NUMBER else a.f
        y = float(b.i) if b.kind == NUMBER else b.f
        if x != x or y != y or x == y:  # NaN -> Equal (partial_cmp fallback)
            return 0
        return 1 if x > y else -1
    if a.kind == STRING and b.kind == STRING:
        xa, xb = a.s.encode(), b.s.encode()
        return (xa > xb) - (xa < xb)
    da, db = a.display().encode(), b.display().encode()
    return (da > db) - (da < db)


def _in_member_test(c: CVal, member: Lit) -> Column | bool:
    """Exact-typed membership (HashSet equality on the enum — no coercion);
    False at compile time when `c` cannot take the member's kind."""
    if member.kind == ARRAY:
        return False  # arrays never equal column data (no array columns)
    test = c.is_(member.kind)
    if test is False or member.kind == NULL:
        return test
    col, val = {STRING: (c.s, member.s), NUMBER: (c.i, member.i),
                FLOAT: (c.fs, member.fs), BOOL: (c.b, member.b)}[member.kind]
    return _and(test, col == val)


# ---------------------------------------------------------------------------
# Evaluation context (column bindings)
# ---------------------------------------------------------------------------

@dataclass
class ColumnContext:
    """Column bindings for the three context ops (executor.rs:10-40).

    tags: either a map<string,string> column (graft data) or a
    map<string, struct<t,s,i,f,fs,b>> column (typed MVT-style tags) —
    set typed=True for the latter.
    key / geom_type: nullable string columns (None -> DSL Null).
    """

    tags: Column | None = None
    key: Column | None = None
    geom_type: Column | None = None
    typed: bool = False

    def tag(self, name: str) -> Val:
        if self.tags is None:
            return Lit(NULL)
        looked = F.element_at(self.tags, F.lit(name))
        if self.typed:
            return CVal.from_value_struct(looked)
        return CVal.from_string_col(looked)


# ---------------------------------------------------------------------------
# The compiler
# ---------------------------------------------------------------------------

def _ensure_args(op: str, args: list, n: int) -> None:
    if len(args) != n:
        raise ExpressionCompileError(f"{op}: expected {n} arguments, got {len(args)}")


def compile_value(expr: Any, ctx: ColumnContext) -> Val:
    """Compile a DSL node to a value (Lit or CVal). Mirrors compile()."""
    if isinstance(expr, list):
        if not expr:
            raise ExpressionCompileError("Expression array cannot be empty")
        op = expr[0]
        if not isinstance(op, str):
            raise ExpressionCompileError("First element must be operator string")
        if op not in _KNOWN_OPS:
            raise ExpressionCompileError(f"Unknown operator: {op}")
        return _compile_op(op, expr[1:], ctx)
    if isinstance(expr, dict):
        raise ExpressionCompileError("Object expressions are not supported")
    return lit_from_json(expr)  # bare JSON scalar auto-literal


def _compile_op(op: str, args: list, ctx: ColumnContext) -> Val:
    if op in ("==", "!=", "<", ">", "<=", ">="):
        _ensure_args(op, args, 2)
        a = compile_value(args[0], ctx)
        b = compile_value(args[1], ctx)
        return CVal.from_bool_col(_cmp(a, b, op))

    if op in ("any", "all", "none"):
        vals = [_bool_val(compile_value(a, ctx)) for a in args]
        if op == "any":  # 0 args -> false (executor.rs:99-107)
            return CVal.from_bool_col(_or_all(vals))
        if op == "none":  # NOT OR (executor.rs:117-125)
            return CVal.from_bool_col(~_or_all(vals))
        out = F.lit(True)  # all: 0 args -> true (executor.rs:108-116)
        for v in vals:
            out = out & v
        return CVal.from_bool_col(out)

    if op in ("not", "!"):
        _ensure_args(op, args, 1)
        return CVal.from_bool_col(~_bool_val(compile_value(args[0], ctx)))

    if op in ("in", "not-in"):
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        members = compile_value(args[1], ctx)
        if not (isinstance(members, Lit) and members.kind == ARRAY):
            raise ExpressionCompileError("In operator requires an array of values")
        if isinstance(v, Lit):
            hit = F.lit(v in set(members.arr))
        else:
            hit = F.lit(False)
            for m in set(members.arr):
                test = _in_member_test(v, m)
                if test is not False:
                    hit = hit | test
        return CVal.from_bool_col(~hit if op == "not-in" else hit)

    if op in ("starts-with", "ends-with"):
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        if not isinstance(args[1], str):
            raise ExpressionCompileError(f"{op} requires string argument")
        pat = args[1]
        if isinstance(v, Lit):
            d = v.display()
            return CVal.from_bool_col(F.lit(d.startswith(pat) if op == "starts-with" else d.endswith(pat)))
        d = _as_cval(v).display()
        return CVal.from_bool_col(F.startswith(d, F.lit(pat)) if op == "starts-with" else F.endswith(d, F.lit(pat)))

    if op == "regex-match":
        _ensure_args(op, args, 2)
        v = compile_value(args[0], ctx)
        pattern = args[1]
        if not isinstance(pattern, str):
            raise ExpressionCompileError("RegexMatch requires string pattern")
        _validate_regex(pattern)
        d = _as_cval(v).display()
        return CVal.from_bool_col(d.rlike(pattern))

    if op == "regex-capture":
        if len(args) < 3:
            raise ExpressionCompileError(f"regex-capture: expected at least 3 arguments, got {len(args)}")
        v = compile_value(args[0], ctx)
        pattern, group = args[1], args[2]
        if not isinstance(pattern, str):
            raise ExpressionCompileError("RegexCapture requires string pattern")
        if not isinstance(group, int) or isinstance(group, bool) or group < 0:
            raise ExpressionCompileError("RegexCapture requires numeric group index")
        compiled = _validate_regex(pattern)
        if group > compiled.groups:
            return Lit(NULL)  # absent group -> Null (executor.rs:159-161)
        d = _as_cval(v).display()
        extracted = F.regexp_extract(d, pattern, group)
        # no-match -> Null (Spark's regexp_extract returns "" for both
        # no-match and an empty capture; rlike disambiguates the former)
        return CVal.from_string_col(F.when(d.rlike(pattern), extracted).otherwise(F.lit(None)))

    if op == "boolean":
        _ensure_args(op, args, 1)
        v = compile_value(args[0], ctx)
        if isinstance(v, Lit):
            return Lit(BOOL, b=v.truthy())
        return CVal.from_bool_col(v.truthy())

    if op == "string":
        _ensure_args(op, args, 1)
        v = compile_value(args[0], ctx)
        if isinstance(v, Lit):
            return Lit(STRING, s=v.display())
        return CVal.from_string_col(_as_cval(v).display())

    if op == "literal":
        _ensure_args(op, args, 1)
        return lit_from_json(args[0])

    if op == "tag":
        _ensure_args(op, args, 1)
        if not isinstance(args[0], str):
            raise ExpressionCompileError("Tag operator requires string argument")
        return ctx.tag(args[0])

    if op == "key":
        _ensure_args(op, args, 0)
        if ctx.key is None:
            return Lit(NULL)
        return CVal.from_string_col(ctx.key)

    if op == "type":
        _ensure_args(op, args, 0)
        if ctx.geom_type is None:
            return Lit(NULL)
        return CVal.from_string_col(ctx.geom_type)

    raise ExpressionCompileError(f"Unknown operator: {op}")


def _or_all(vals: list[Column]) -> Column:
    out = F.lit(False)
    for v in vals:
        out = out | v
    return out


def _validate_regex(pattern: str):
    """Compile-time regex validation (invalid pattern -> compile error)."""
    try:
        return re.compile(pattern)
    except re.error as e:
        raise ExpressionCompileError(f"Invalid regex pattern '{pattern}': {e}") from e


def compile_expr(expr: Any, ctx: ColumnContext) -> Column:
    """Compile a DSL expression to a boolean Column (evaluate_bool analog)."""
    return _bool_val(compile_value(expr, ctx))


def validate_expr(expr: Any) -> None:
    """Driver-side structural validation WITHOUT building Columns.

    Same checks as compile (operator table, arity, regex validity, literal
    shape — expression_compiler.rs:330-350 + per-op argument rules); usable
    before any SparkSession exists (program load happens at CLI parse time,
    mirroring src/lib.rs:51-60).
    """
    if isinstance(expr, dict):
        raise ExpressionCompileError("Object expressions are not supported")
    if not isinstance(expr, list):
        lit_from_json(expr)
        return
    if not expr:
        raise ExpressionCompileError("Expression array cannot be empty")
    op = expr[0]
    if not isinstance(op, str):
        raise ExpressionCompileError("First element must be operator string")
    if op not in _KNOWN_OPS:
        raise ExpressionCompileError(f"Unknown operator: {op}")
    args = expr[1:]
    if op in ("==", "!=", "<", ">", "<=", ">="):
        _ensure_args(op, args, 2)
        validate_expr(args[0]); validate_expr(args[1])
    elif op in ("any", "all", "none"):
        for a in args:
            validate_expr(a)
    elif op in ("not", "!", "boolean", "string"):
        _ensure_args(op, args, 1)
        validate_expr(args[0])
    elif op in ("in", "not-in"):
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        inner = args[1]
        ok = isinstance(inner, list) and len(inner) == 2 and inner[0] == "literal" \
            and isinstance(inner[1], list)
        if not ok:
            raise ExpressionCompileError("In operator requires an array of values")
    elif op in ("starts-with", "ends-with"):
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError(f"{op} requires string argument")
    elif op == "regex-match":
        _ensure_args(op, args, 2)
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError("RegexMatch requires string pattern")
        _validate_regex(args[1])
    elif op == "regex-capture":
        if len(args) < 3:
            raise ExpressionCompileError(
                f"regex-capture: expected at least 3 arguments, got {len(args)}")
        validate_expr(args[0])
        if not isinstance(args[1], str):
            raise ExpressionCompileError("RegexCapture requires string pattern")
        if not isinstance(args[2], int) or isinstance(args[2], bool) or args[2] < 0:
            raise ExpressionCompileError("RegexCapture requires numeric group index")
        _validate_regex(args[1])
    elif op == "literal":
        _ensure_args(op, args, 1)
        lit_from_json(args[0])
    elif op == "tag":
        _ensure_args(op, args, 1)
        if not isinstance(args[0], str):
            raise ExpressionCompileError("Tag operator requires string argument")
    elif op in ("key", "type"):
        _ensure_args(op, args, 0)


# ---------------------------------------------------------------------------
# Typed tag value helpers (MVT Value oneof analog as a Spark struct)
# ---------------------------------------------------------------------------

VALUE_STRUCT_DDL = "struct<t:int,s:string,i:bigint,f:double,fs:string,b:boolean>"
TYPED_TAGS_DDL = f"map<string,{VALUE_STRUCT_DDL}>"


def tv_string(s: str) -> dict:
    return {"t": STRING, "s": s, "i": None, "f": None, "fs": None, "b": None}


def tv_number(i: int) -> dict:
    """int/uint/sint MVT values all land on Number (expression_compiler.rs:81-86)."""
    return {"t": NUMBER, "s": None, "i": i, "f": None, "fs": None, "b": None}


def tv_float(x: float) -> dict:
    """float/double MVT values carry their Rust Display string."""
    return {"t": FLOAT, "s": None, "i": None, "f": x, "fs": rust_f64_display(x), "b": None}


def tv_bool(b: bool) -> dict:
    return {"t": BOOL, "s": None, "i": None, "f": None, "fs": None, "b": b}
