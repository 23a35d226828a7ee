"""MQL metadata-expression → Spark SQL expression compiler.

``PredicateCompiler.compile`` returns the text of one boolean SQL
expression over a table's columns. The engine splices it into the one
SQL statement it compiles per query; ``DataFrame.where`` accepts it
as it is.

Mirrors the semantics of the reference's twin predicate implementations
(SQL: metacat/common/meta_dnf.py:100-304; Python:
metacat/mql/meta_evaluator.py:17-238), most importantly:

- missing key ⇒ predicate is FALSE (meta_evaluator.py:112-117). Spark's
  three-valued NULL logic gives this for free: a comparison against a
  NULL shredded column yields NULL, which a filter drops — including
  under negation (``NOT NULL`` is NULL).
- regex ops ``~ ~* !~ !~*`` use SEARCH semantics (re.search,
  meta_evaluator.py:199) — Spark ``RLIKE`` already searches.
- ``date(...)`` constants expand to 24-hour-interval logic
  (mql10.py:1052-1082,1129-1163).
- ``array[all] CMP v`` ≡ ``!(array[any] INV-CMP v)`` (mql10.py:999-1027);
  we use ``forall``/``exists`` higher-order functions directly.
- ``const in meta.key``: array containment; for string consts on scalar
  string keys it degrades to substring search (mql10.py:1094-1127).

Typing: shredded keys compile to their typed columns (JVM codegen,
min/max-skippable). Unshredded keys fall back to ``get_json_object``
over the JSON metadata column with a cast driven by the literal's type
(the reference types literals the same way, meta_dnf.py:110-122).

Literals are written into the text (``lit``), typed as ``F.lit`` types
them, and identifiers are backticked (``ident``); no value from a query
can change the statement's shape.
"""

from __future__ import annotations

import math
from typing import Optional

from .mql.ast import (ArrayAll, ArrayAny, ArrayLen, Cmp, Const, ConstIn,
                      InRange, InSet, JsonPathExists, MetaAnd, MetaAttr,
                      MetaNot, MetaOr, ObjectAttr, Present, Subscript)
from .schema import MetaSchema


class CompileError(Exception):
    pass


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(v) -> str:
    """``v`` as a SQL literal of the type ``F.lit(v)`` has. A string
    holding a quote, a backslash, ``${`` (which session variable
    substitution would expand) or a non-printable character is written
    as its UTF-8 bytes in hex, cast back to STRING: the same value
    under either ``spark.sql.parser.escapedStringLiterals`` mode, and
    folded to a plain literal before pushdown."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return f"CAST('{v}' AS DOUBLE)"     # 'nan', 'inf', '-inf'
        return f"({v!r}D)" if v < 0 else f"{v!r}D"
    s = str(v)
    if "'" in s or "\\" in s or "${" in s or not s.isprintable():
        return f"CAST(X'{s.encode().hex()}' AS STRING)"
    return f"'{s}'"


# serialized JSON text of an array or object value
_STRUCTURED = lit(r"^\s*[\[\{]")


def _path(key: str, tail: str = "") -> str:
    return lit(f"$['{key}']{tail}")


class PredicateCompiler:
    """Compiles meta expressions against one table's schema.

    attributes: plain-column whitelist (object attributes).
    meta: MetaSchema for shredded dotted keys.
    json_column: JSON fallback column (None = no fallback available).
    """

    def __init__(self, meta: MetaSchema, attributes: dict,
                 json_column: Optional[str] = "metadata",
                 variant_column: Optional[str] = None):
        self.meta = meta
        self.attributes = attributes
        self.json_column = json_column
        # Spark 4 VariantType path: when set, unshredded keys use
        # try_variant_get over a parsed-variant column (binary-encoded,
        # typed extraction) instead of get_json_object string probing
        self.variant_column = variant_column

    # ------------------------------------------------------------ helpers
    def _variant(self, path: str, vtype: str) -> str:
        return (f"try_variant_get({ident(self.variant_column)}, {path}, "
                f"'{vtype}')")

    def _json(self, path: str) -> str:
        return f"get_json_object({ident(self.json_column)}, {path})"

    def _scalar_column(self, key: str) -> tuple[str, str]:
        """Resolve a dotted key to (SQL expression, mtype)."""
        mk = self.meta.get(key)
        if mk is not None:
            return ident(mk.column), mk.mtype
        if self.variant_column is not None:
            # a placeholder: only _typed() knows the type to extract
            return "NULL", f"variant:{key}"
        if self.json_column is None:
            raise CompileError(f"unknown metadata key {key!r}")
        # schema-on-read fallback; untyped until use-site casts
        return self._json(_path(key)), "json"

    def _attr_column(self, name: str) -> tuple[str, str]:
        if name not in self.attributes:
            raise CompileError(f"unknown attribute {name!r}")
        return ident(name), self.attributes[name]

    _VARIANT_TYPES = {"int": "bigint", "float": "double",
                      "datetime": "double", "date": "double",
                      "bool": "boolean", "str": "string"}

    def _typed(self, col: str, coltype: str, const: Const) -> str:
        """Cast a json-fallback column per the literal's type."""
        if coltype.startswith("variant:"):
            return self._variant(_path(coltype[len("variant:"):]),
                                 self._VARIANT_TYPES.get(const.kind,
                                                         "string"))
        if coltype != "json":
            if coltype == "timestamp" and const.kind in ("datetime", "date",
                                                         "int", "float"):
                # NTZ timestamps can't cast straight to double; go via
                # TIMESTAMP (identity under the UTC session timezone)
                return f"CAST(CAST({col} AS TIMESTAMP) AS DOUBLE)"
            return col
        # try_cast: schema-on-read values are mixed-type by nature —
        # under Spark 4's default ANSI mode a plain cast of a
        # non-numeric string THROWS instead of excluding the row;
        # try_cast yields NULL like the row evaluator's TypeError →
        # None path (review r6)
        if const.kind in ("int", "float", "datetime", "date"):
            return f"try_cast({col} AS DOUBLE)"
        if const.kind == "bool":
            return f"try_cast({col} AS BOOLEAN)"
        return col

    def _cmp(self, col: str, op: str, const: Const) -> str:
        if const.kind == "date":
            lo, hi = lit(const.value), lit(const.value_end)
            date_ops = {"=": f"({col} >= {lo} AND {col} < {hi})",
                        "!=": f"({col} < {lo} OR {col} >= {hi})",
                        ">": f"({col} >= {hi})", ">=": f"({col} >= {lo})",
                        "<": f"({col} < {lo})", "<=": f"({col} < {hi})"}
            if op not in date_ops:
                raise CompileError(f"op {op!r} not valid for date()")
            return date_ops[op]
        if op in ("=", "==", "!=", "<", "<=", ">", ">="):
            return f"({col} {'=' if op == '==' else op} {lit(const.value)})"
        if op in ("~", "~*", "!~", "!~*"):
            pat = str(const.value)
            if op.endswith("*"):
                pat = "(?i)" + pat
            matched = f"({col} RLIKE {lit(pat)})"
            # negated regex on a missing key must stay NULL → false
            return f"(NOT {matched})" if op.startswith("!") else matched
        if op == "like":
            # SQL LIKE (%/_ wildcards) — reserved-but-unimplemented in
            # the reference (grammar/common.py CMPOP); full-match
            # semantics like PostgreSQL LIKE would have had
            return f"({col} LIKE {lit(str(const.value))})"
        raise CompileError(f"unknown comparison op {op!r}")

    @staticmethod
    def _values(col: str, mtype: str) -> str:
        """The array of elements [any]/[all] iterate over."""
        if mtype.endswith("[]"):
            return col
        if mtype.startswith("map<"):
            return f"map_values({col})"
        raise CompileError(f"[any]/[all] over non-array type {mtype}")

    def _json_array(self, key: str, const: Const) -> str:
        """Unshredded array access with element type from the literal
        (per-use element typing, SURVEY §7.3)."""
        elem = {"int": "bigint", "float": "double", "bool": "boolean",
                "datetime": "double", "date": "double"}.get(const.kind,
                                                            "string")
        if self.variant_column is not None:
            return self._variant(_path(key), f"array<{elem}>")
        return f"from_json({self._json(_path(key))}, 'array<{elem}>')"

    # ------------------------------------------------------------ compile
    def compile(self, exp) -> str:
        if isinstance(exp, (MetaOr, MetaAnd)):
            op = " OR " if isinstance(exp, MetaOr) else " AND "
            return "(" + op.join(self.compile(c) for c in exp.children) + ")"
        if isinstance(exp, MetaNot):
            return f"(NOT {self.compile(exp.child)})"
        if isinstance(exp, Cmp):
            return self._compile_cmp(exp)
        if isinstance(exp, (InRange, InSet)):
            return self._compile_member(exp)
        if isinstance(exp, Present):
            col, mtype = self._scalar_column(exp.key)
            if mtype.startswith("variant:"):
                col = self._variant(_path(exp.key), "variant")
            return f"({col} IS {'NULL' if exp.negated else 'NOT NULL'})"
        if isinstance(exp, ConstIn):
            return self._compile_const_in(exp)
        if isinstance(exp, JsonPathExists):
            if self.variant_column is not None:
                # variant mode: probe the same path over the variant
                # column (extraction as variant — any present value,
                # whatever its type, is non-null)
                return (f"({self._variant(lit(exp.path), 'variant')} "
                        f"IS NOT NULL)")
            if self.json_column is None:
                raise CompileError("no JSON column for exists()")
            return f"({self._json(lit(exp.path))} IS NOT NULL)"
        raise CompileError(f"cannot compile {exp!r}")

    def _scalar(self, s, const: Const, test) -> str:
        """``test`` (SQL of a value → SQL of a boolean) applied to the
        scalar ``s``, typed by ``const``: once for a plain value, per
        element (``exists``/``forall``) for ``[any]``/``[all]``."""
        if isinstance(s, (MetaAttr, ObjectAttr)):
            col, mtype = (self._scalar_column(s.key) if isinstance(
                s, MetaAttr) else self._attr_column(s.name))
            return test(self._typed(col, mtype, const))
        if isinstance(s, (ArrayAny, ArrayAll)):
            vals = self._values(*self._meta_array(s.key, const))
            fn = "exists" if isinstance(s, ArrayAny) else "forall"
            return f"{fn}({vals}, x -> {test('x')})"
        if isinstance(s, Subscript):
            return test(self._subscript_column(s, const))
        if isinstance(s, ArrayLen):
            col, _ = self._meta_array(s.key, const)
            return test(f"CASE WHEN {col} IS NULL THEN CAST(NULL AS INT) "
                        f"ELSE size({col}) END")
        raise CompileError(f"bad scalar {s!r}")

    def _compile_cmp(self, exp: Cmp) -> str:
        return self._scalar(exp.scalar, exp.const,
                            lambda c: self._cmp(c, exp.op, exp.const))

    def _meta_array(self, key: str, const: Const) -> tuple[str, str]:
        mk = self.meta.get(key)
        if mk is not None:
            return ident(mk.column), mk.mtype
        if self.json_column is None and self.variant_column is None:
            raise CompileError(f"unknown metadata key {key!r}")
        return self._json_array(key, const), (
            "bigint[]" if const.kind == "int" else
            "double[]" if const.kind in ("float", "datetime", "date") else
            "boolean[]" if const.kind == "bool" else "str[]")

    def _subscript_column(self, s: Subscript, const: Const) -> str:
        mk = self.meta.get(s.key)
        if mk is not None:
            idx = s.index
            if isinstance(idx, int) and idx >= 0:
                # MQL subscripts are 0-based python-style
                # (meta_evaluator.py:91-98); element_at is 1-based
                idx += 1
            return f"try_element_at({ident(mk.column)}, {lit(idx)})"
        tail = f"[{s.index}]" if isinstance(s.index, int) else f".{s.index}"
        if self.variant_column is not None:
            return self._variant(_path(s.key, tail),
                                 self._VARIANT_TYPES.get(const.kind,
                                                         "string"))
        if self.json_column is None:
            raise CompileError(f"unknown metadata key {s.key!r}")
        return self._typed(self._json(_path(s.key, tail)), "json", const)

    def _compile_member(self, exp) -> str:
        """``in lo:hi`` ranges and ``in (v, ...)`` value sets."""
        if isinstance(exp, InRange):
            lo, hi = exp.lo, exp.hi
            if (lo.kind == "date") != (hi.kind == "date"):
                raise CompileError("range endpoints must both be date()")
            top = (f"< {lit(hi.value_end)}" if hi.kind == "date"
                   else f"<= {lit(hi.value)}")
            e = self._scalar(exp.scalar, lo, lambda c: (
                f"({c} >= {lit(lo.value)} AND {c} {top})"))
        else:
            if any(v.kind == "date" for v in exp.values):
                raise CompileError("date() not supported in value sets")
            values = ", ".join(lit(v.value) for v in exp.values)
            e = self._scalar(exp.scalar, exp.values[0],
                             lambda c: f"({c} IN ({values}))")
        return f"(NOT {e})" if exp.negated else e

    def _compile_const_in(self, exp: ConstIn) -> str:
        mk = self.meta.get(exp.key)
        const = exp.const
        value = lit(const.value)
        if mk is None:
            if self.json_column is None and self.variant_column is None:
                raise CompileError(f"unknown metadata key {exp.key!r}")
            e = f"array_contains({self._json_array(exp.key, const)}, {value})"
            if const.kind == "str":
                scalar = (self._variant(_path(exp.key), "string")
                          if self.variant_column is not None
                          else self._json(_path(exp.key)))
                # substring semantics apply to SCALAR string values
                # only: for array/object values get_json_object
                # returns the serialized JSON text, and a bare rlike
                # over it would report containment for elements that
                # merely appear in the serialization (review r6) —
                # the row evaluator (and the reference, which probes
                # scalar SQL text) say False there
                e = (f"({e} OR ((NOT ({scalar} RLIKE {_STRUCTURED}))"
                     f" AND ({scalar} RLIKE {lit(str(const.value))})))")
            else:
                # scalar equality for non-string consts: `5 in k` on
                # a SCALAR value k=5 is True in the row evaluator and
                # on shredded keys; the array coercion alone yielded
                # NULL and silently dropped the row (review r6)
                if self.variant_column is not None:
                    scalar = self._variant(_path(exp.key),
                                           self._VARIANT_TYPES.get(
                                               const.kind, "string"))
                else:
                    scalar = self._typed(self._json(_path(exp.key)),
                                         "json", const)
                e = f"({e} OR ({scalar} = {value}))"
        else:
            col = ident(mk.column)
            if mk.is_array:
                e = f"array_contains({col}, {value})"
            elif mk.is_map:
                e = f"array_contains(map_values({col}), {value})"
            elif mk.mtype == "str" and const.kind == "str":
                # scalar string: substring-search semantics
                # (mql10.py:1094-1127)
                e = f"({col} RLIKE {lit(str(const.value))})"
            else:
                e = f"({col} = {value})"
        return f"(NOT {e})" if exp.negated else e
