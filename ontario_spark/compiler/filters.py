"""SPARQL expression → Spark Column compiler.

Replaces the reference's tuple-at-a-time FILTER interpreter
(``ontario/operators/nonblocking/Xfilter.py``: operator tables :14-41,
``evaluateComplexExpression`` :123-193, EBV rules ``evaluateEBV``
:203-242, coercion ``extractValue`` :326-353) with Column expressions
that stay inside whole-stage codegen.

Semantics notes:
- Unbound (NULL) operands make comparisons NULL; a NULL filter drops
  the row — matching SPARQL's "error → row eliminated".
- EBV (Effective Boolean Value) is applied to bare terms in logical
  positions: booleans pass through, numerics test != 0, strings test
  length > 0 (per SPARQL 1.1 §17.2.2).
- xsd:date/dateTime literals are cast to timestamp so they compare
  against parquet timestamp columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ontario_spark.sinks import term_kind
from ontario_spark.sparql.ast import ExistsExpr, Expr, Term

_CMP = {"=", "!=", "<", ">", "<=", ">="}
_ARITH = {"+", "-", "*", "/"}

# result-type tables for EBV of function-valued expressions (§17.2.2)
_STRING_VALUED_OPS = {
    "str", "ucase", "lcase", "concat", "replace", "substr", "strbefore",
    "strafter", "encode_for_uri", "md5", "sha1", "sha256", "sha384",
    "sha512", "lang", "strlang", "uuid", "struuid", "bnode", "tz",
    "timezone", "iri", "uri", "group_concat",
}
_NUMERIC_VALUED_OPS = {
    "strlen", "abs", "ceil", "floor", "round", "year", "month", "day",
    "hours", "minutes", "seconds", "rand",
}


class FilterCompileError(Exception):
    pass


def unwrap(e):
    """Strip parser 'ident' wrappers to reach a bare Term (or None)."""
    while isinstance(e, Expr) and e.op == "ident":
        e = e.args[0]
    return e if isinstance(e, Term) else None


def unwrap_const(e):
    """Like ``unwrap`` but ONLY for constant terms: a VARIABLE argument
    returns None. Call sites that need a compile-time constant (regex
    patterns, datatype IRIs, separators) must use this — plain
    ``unwrap`` also returns variable Terms, and treating ?pat as the
    constant string 'pat' silently matches the wrong thing (round-5
    review fix)."""
    t = unwrap(e)
    return t if t is not None and not t.is_var else None


class ExprCompiler:
    """Compiles Expr trees against a variable-resolution function
    ``resolve(var) -> Column`` (the BFrame provides it, handling keyed
    vars) and a ``dtype(var) -> str|None`` probe for EBV decisions."""

    def __init__(
        self,
        resolve,
        dtype=lambda v: None,
        has_col=lambda c: False,
        exists_col=None,
    ):
        self.resolve = resolve
        self.dtype = dtype
        # has_col: does the underlying frame carry this raw column?
        # Used to find SERVICE term-fidelity side columns (var__lang /
        # var__dt / var__type) so LANG()/DATATYPE() answer from the
        # remote SPARQL-JSON metadata when it's present.
        self.has_col = has_col
        # exists_col(node) -> boolean Column for an expression-position
        # ExistsExpr — the engine supplies it after attaching one mark
        # column per node (query.py _mark_exists); None in contexts
        # that cannot evaluate pattern marks (ORDER BY, SERVICE-local
        # filters, ...). HAVING supplies marks computed over the
        # grouped solutions (round-9).
        self.exists_col = exists_col

    def _exists(self, e: ExistsExpr) -> Column:
        if self.exists_col is None:
            raise FilterCompileError(
                "EXISTS is not supported in this expression position"
            )
        col = self.exists_col(e)
        return ~col if e.negated else col

    # --- public ---------------------------------------------------------

    def boolean(self, e) -> Column:
        """Compile in boolean context (FILTER/HAVING root)."""
        return self._ebv(e)

    def value(self, e) -> Column:
        """Compile in value context (BIND, ORDER BY, comparisons)."""
        if isinstance(e, Term):
            return self._term(e)
        return self._expr(e)

    # --- internals ------------------------------------------------------

    def _term(self, t: Term) -> Column:
        if t.is_var:
            return self.resolve(t.value)
        if t.is_iri:
            return F.lit(t.value)
        # literal
        if t.datatype and t.datatype.rsplit("#", 1)[-1] in ("date", "dateTime"):
            return F.lit(t.value).cast("timestamp")
        return F.lit(t.py if t.py is not None else t.value)

    def _ebv(self, e) -> Column:
        if isinstance(e, ExistsExpr):
            return self._exists(e)  # already xsd:boolean
        if isinstance(e, Term):
            if e.is_var:
                dt = self.dtype(e.value)
                col = self.resolve(e.value)
                if dt == "boolean":
                    return col
                if dt in ("string", None):
                    return F.length(col) > 0
                return col != F.lit(0)
            if e.kind == "literal":
                if isinstance(e.py, bool):
                    return F.lit(e.py)
                if isinstance(e.py, (int, float)):
                    return F.lit(e.py != 0)
                return F.lit(len(e.value) > 0)
            raise FilterCompileError(f"no EBV for IRI {e.value}")
        op = e.op
        if op == "ident":
            return self._ebv(e.args[0])
        if op == "&&":
            return self._ebv(e.args[0]) & self._ebv(e.args[1])
        if op == "||":
            return self._ebv(e.args[0]) | self._ebv(e.args[1])
        if op == "!":
            return ~self._ebv(e.args[0])
        if op in _CMP or op in (
            "regex", "contains", "strstarts", "strends", "bound", "isiri",
            "isuri", "isblank", "isliteral", "sameterm", "langmatches", "in",
            "isnumeric",
        ):
            return self._expr(e)
        if op == "if":
            return F.when(self._ebv(a[0]), self._ebv(a[1])).otherwise(
                self._ebv(a[2])
            )
        if op == "coalesce":
            return F.coalesce(*[self._ebv(x) for x in a])
        # EBV of a function-valued expression follows the function's
        # RESULT type (§17.2.2): string-valued → length > 0,
        # numeric-valued → != 0. The old blanket `expr != 0` both
        # crashed under Spark 4's default ANSI mode for strings AND got
        # string EBV wrong (round-5 review fix).
        if op in _STRING_VALUED_OPS:
            return F.length(self._expr(e)) > 0
        if op in _NUMERIC_VALUED_OPS or op in _ARITH or op == "neg":
            return self._expr(e) != F.lit(0)
        # unknown result type: numeric test when the value parses as a
        # number, string-length EBV otherwise (ANSI-safe via try_cast)
        v = self._expr(e)
        num = v.cast("string").try_cast("double")
        return F.when(num.isNotNull(), num != F.lit(0.0)).otherwise(
            F.length(v.cast("string")) > 0
        )

    def _expr(self, e) -> Column:
        if isinstance(e, ExistsExpr):
            return self._exists(e)
        if isinstance(e, Term):
            return self._term(e)
        op = e.op
        a = e.args
        if op == "ident":
            return self._expr(a[0])
        if op in ("&&", "||", "!"):
            return self._ebv(e)
        if op in _CMP:
            l, r = self.value(a[0]), self.value(a[1])
            # date/dateTime literal on either side → cast the var side too
            return {
                "=": l == r, "!=": l != r, "<": l < r,
                ">": l > r, "<=": l <= r, ">=": l >= r,
            }[op]
        if op in _ARITH:
            l, r = self.value(a[0]), self.value(a[1])
            return {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[op]
        if op == "neg":
            return -self.value(a[0])
        if op == "in":
            return self.value(a[0]).isin([self.value(x) for x in a[1:]])
        # --- builtin functions (reference set: services.py:1259-1325) ---
        if op == "bound":
            return self.value(a[0]).isNotNull()
        if op == "str":
            return self.value(a[0]).cast("string")
        if op == "ucase":
            return F.upper(self.value(a[0]))
        if op == "lcase":
            return F.lower(self.value(a[0]))
        if op == "strlen":
            return F.length(self.value(a[0]))
        if op == "contains":
            return self.value(a[0]).contains(self.value(a[1]))
        if op == "strstarts":
            return self.value(a[0]).startswith(self.value(a[1]))
        if op == "strends":
            return self.value(a[0]).endswith(self.value(a[1]))
        if op == "regex":
            pattern = unwrap_const(a[1])
            flags = unwrap_const(a[2]) if len(a) > 2 else None
            if len(a) > 2 and flags is None:
                raise FilterCompileError("REGEX flags must be a constant literal")
            if pattern is None:
                # dynamic pattern (a variable / computed expression):
                # evaluate per row — JVM-side regexp_like accepts a
                # pattern COLUMN (round-5 review fix: the variable's
                # NAME was previously matched as the pattern)
                pat_col = self.value(a[1]).cast("string")
                if flags is not None and "i" in flags.value:
                    pat_col = F.concat(F.lit("(?i)"), pat_col)
                return F.regexp_like(self.value(a[0]).cast("string"), pat_col)
            pat = pattern.value
            if flags is not None and "i" in flags.value:
                pat = "(?i)" + pat
            return self.value(a[0]).rlike(pat)
        if op == "replace":
            pat, rep = unwrap_const(a[1]), unwrap_const(a[2])
            if pat is not None and rep is not None:
                return F.regexp_replace(self.value(a[0]), pat.value, rep.value)
            # dynamic pattern/replacement: per-row columns (regexp_replace
            # accepts Column arguments)
            return F.regexp_replace(
                self.value(a[0]).cast("string"),
                self.value(a[1]).cast("string"),
                self.value(a[2]).cast("string"),
            )
        if op == "substr":
            start = self.value(a[1])
            length = self.value(a[2]) if len(a) > 2 else F.lit(1 << 30)
            return self.value(a[0]).substr(start, length)
        if op == "concat":
            return F.concat(*[self.value(x).cast("string") for x in a])
        if op == "abs":
            return F.abs(self.value(a[0]))
        if op in ("ceil", "floor", "round"):
            return getattr(F, op)(self.value(a[0]))
        if op in ("year", "month", "day"):
            return getattr(F, op)(self.value(a[0]))
        if op == "if":
            return F.when(self._ebv(a[0]), self.value(a[1])).otherwise(self.value(a[2]))
        if op == "coalesce":
            return F.coalesce(*[self.value(x) for x in a])
        if op == "sameterm":
            return self.value(a[0]) == self.value(a[1])
        if op == "langmatches":
            # first arg is typically LANG(?x), which compiles to the
            # remote side column when present (see "lang" below) or to
            # a dedicated lang column. LANGMATCHES(x, "*") → x != ''.
            tag = unwrap_const(a[1])
            lv = F.lower(self.value(a[0]))
            if tag is None:
                # dynamic range expression: evaluate RFC 4647 basic
                # filtering per row, including the "*" wildcard
                rng_col = F.lower(self.value(a[1]))
                return F.when(
                    rng_col == "*", F.length(lv) > 0
                ).otherwise(
                    (lv == rng_col)
                    | lv.startswith(F.concat(rng_col, F.lit("-")))
                )
            if tag.value == "*":
                return F.length(lv) > 0
            # RFC 4647 basic filtering (SPARQL §17.4.3.1): the range
            # matches the tag itself OR any tag extending it with
            # subtags — "en" matches "en" and "en-US".
            rng = tag.value.lower()
            return (lv == F.lit(rng)) | lv.startswith(rng + "-")
        if op == "lang":
            # SERVICE results carry the SPARQL-JSON xml:lang per cell
            # as a side column; LANG() of a plain literal is "" (SPARQL
            # §17.4.2.6). For local vars, no per-cell lang exists — the
            # value itself acts as the tag (dedicated-lang-column
            # pattern).
            v = unwrap(a[0])
            if v is not None and v.is_var and self.has_col(f"{v.value}__lang"):
                return F.coalesce(F.col(f"{v.value}__lang"), F.lit(""))
            return self.value(a[0])
        if op in ("isiri", "isuri", "isblank", "isliteral"):
            kind = {"isblank": "bnode", "isliteral": "literal"}.get(op, "uri")
            return term_kind(self.value(a[0])) == kind
        if op == "datatype":
            v = unwrap(a[0])
            if v is not None and v.is_var and self.has_col(f"{v.value}__dt"):
                # SERVICE results: answer from the SPARQL-JSON term
                # metadata — explicit datatype wins; lang-tagged →
                # rdf:langString; plain literal → xsd:string; uri/bnode
                # → NULL (SPARQL type error → row filtered)
                ty = F.col(f"{v.value}__type")
                return F.when(
                    ty.isin("uri", "bnode"), F.lit(None).cast("string")
                ).otherwise(
                    F.coalesce(
                        F.col(f"{v.value}__dt"),
                        F.when(
                            F.col(f"{v.value}__lang").isNotNull(),
                            F.lit(
                                "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
                            ),
                        ),
                        F.when(
                            F.col(v.value).isNotNull(),
                            F.lit("http://www.w3.org/2001/XMLSchema#string"),
                        ),
                    )
                )
            # Native column type → xsd datatype IRI (the reference's
            # Xfilter DATATYPE works on annotated RDF terms; here the
            # engine-internal representation IS the native type, so the
            # Spark dtype is the authority). IRIs have no datatype →
            # NULL (SPARQL type error → row filtered).
            dt = self.dtype(v.value) if v is not None and v.is_var else None
            xsd = "http://www.w3.org/2001/XMLSchema#"
            base = (dt or "string").split("(")[0]
            mapped = {
                "tinyint": "integer", "smallint": "integer",
                "int": "integer", "bigint": "integer",
                "float": "float", "double": "double",
                "decimal": "decimal", "boolean": "boolean",
                "date": "date", "timestamp": "dateTime",
                "timestamp_ntz": "dateTime", "string": "string",
            }.get(base)
            if mapped is None:
                raise FilterCompileError(
                    f"DATATYPE() unsupported for column type {dt!r}"
                )
            col = self.value(a[0])
            is_iri = term_kind(col) == "uri"
            lit = F.lit(xsd + mapped)
            if mapped == "string":
                return F.when(col.isNotNull() & ~is_iri, lit)
            return F.when(col.isNotNull(), lit)
        if op in ("strbefore", "strafter"):
            sub_t = unwrap_const(a[1])
            s = self.value(a[0]).cast("string")
            if sub_t is not None:
                if sub_t.value == "":  # SPARQL §17.4.3.4 empty-pattern edges
                    return F.lit("") if op == "strbefore" else s
                pos = F.instr(s, sub_t.value)
                if op == "strbefore":
                    hit = F.substring_index(s, sub_t.value, 1)
                else:
                    hit = s.substr(pos + len(sub_t.value), F.lit(1 << 30))
                return F.when(pos > 0, hit).otherwise("")
            # dynamic needle (variable / computed): per-row instr
            sub = self.value(a[1]).cast("string")
            pos = F.call_function("instr", s, sub)
            empty = F.length(sub) == 0
            if op == "strbefore":
                hit = s.substr(F.lit(1), pos - 1)
                return F.when(empty, F.lit("")).when(pos > 0, hit).otherwise("")
            hit = s.substr(pos + F.length(sub), F.lit(1 << 30))
            return F.when(empty, s).when(pos > 0, hit).otherwise("")
        if op == "encode_for_uri":
            # url_encode is form-encoding; patch the two RFC 3986
            # divergences SPARQL cares about (space → %20, keep '~')
            enc = F.url_encode(self.value(a[0]).cast("string"))
            return F.replace(
                F.replace(enc, F.lit("+"), F.lit("%20")),
                F.lit("%7E"), F.lit("~"),
            )
        if op in ("md5", "sha1"):
            return getattr(F, op)(self.value(a[0]).cast("string").cast("binary"))
        if op in ("sha256", "sha384", "sha512"):
            return F.sha2(
                self.value(a[0]).cast("string").cast("binary"), int(op[3:])
            )
        if op in ("hours", "minutes", "seconds"):
            fn = {"hours": F.hour, "minutes": F.minute, "seconds": F.second}[op]
            return fn(self.value(a[0]))
        if op == "isnumeric":
            # try_cast, NOT cast: under Spark 4's default ANSI mode a
            # plain cast THROWS on non-numeric input — the exact values
            # this function exists to test (round-5 review fix)
            return self.value(a[0]).try_cast("double").isNotNull()
        if op in ("iri", "uri"):
            return self.value(a[0]).cast("string")
        if op == "now":
            return F.current_timestamp()
        if op == "strdt":
            # STRDT(lexical, dtIRI): the engine's internal term
            # representation IS the native Spark type, so "construct a
            # typed literal" = cast the lexical form to the native type
            # of a known xsd datatype; unknown datatypes keep the
            # lexical string. BIND additionally records the IRI in the
            # var__dt side column so DATATYPE() answers it (query.py).
            dt_iri = unwrap(a[1])
            if dt_iri is None or not dt_iri.is_iri:
                raise FilterCompileError("STRDT needs a constant datatype IRI")
            xsd = "http://www.w3.org/2001/XMLSchema#"
            local = (
                dt_iri.value[len(xsd):]
                if dt_iri.value.startswith(xsd)
                else None
            )
            cast = {
                "integer": "bigint", "int": "int", "long": "bigint",
                "decimal": "decimal(18,6)", "double": "double",
                "float": "float", "boolean": "boolean", "date": "date",
                "dateTime": "timestamp", "string": "string",
            }.get(local or "")
            s = self.value(a[0]).cast("string")
            return s.cast(cast) if cast else s
        if op == "strlang":
            # value is the lexical form; BIND records the tag in the
            # var__lang side column so LANG()/DATATYPE() see it
            tag = unwrap_const(a[1])
            if tag is None:
                raise FilterCompileError("STRLANG needs a constant language tag")
            return self.value(a[0]).cast("string")
        if op in ("uuid", "struuid"):
            # non-deterministic per call site (SPARQL §17.4.2.3-4)
            u = F.expr("uuid()")
            return F.concat(F.lit("urn:uuid:"), u) if op == "uuid" else u
        if op == "bnode":
            # §17.4.2.9: the 1-arg form maps EQUAL labels within one
            # solution to the SAME blank node, distinct solutions to
            # distinct nodes. The per-row nonce must therefore be
            # shared by every BNODE(label) in the row — uuid() is
            # fresh per EXPRESSION instance and would break sameTerm
            # (BNODE(?x), BNODE(?x)); monotonically_increasing_id()
            # instances agree per row within a stage (partition index +
            # row position), giving a shared nonce. (Caveat: BINDs
            # separated by a shuffle could renumber — acceptable for
            # the common same-group case.) 0-arg BNODE() is fresh per
            # call per solution → uuid() is exactly right there.
            if a:
                return F.concat(
                    F.lit("_:b"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            self.value(a[0]).cast("string"),
                            F.monotonically_increasing_id().cast("string"),
                        )
                    ),
                )
            return F.concat(F.lit("_:b"), F.expr("uuid()"))
        if op == "rand":
            return F.rand()
        if op in ("tz", "timezone"):
            v = unwrap(a[0])
            dt = self.dtype(v.value) if v is not None and v.is_var else None
            if dt in ("timestamp", "timestamp_ntz", "date"):
                # native temporal columns are session-zone instants —
                # the original lexical zone is not stored → UTC
                z = F.when(self.value(a[0]).isNotNull(), F.lit("Z"))
            elif v is not None and not v.is_var and v.kind == "literal":
                # constant literal: read the zone off the ORIGINAL
                # lexical form — _term casts typed dateTime literals to
                # timestamp, whose string rendering drops the zone
                z = F.regexp_extract(
                    F.lit(v.value), r"(Z|[+-]\d{2}:\d{2})$", 1
                )
            else:
                z = F.regexp_extract(
                    self.value(a[0]).cast("string"),
                    r"(Z|[+-]\d{2}:\d{2})$", 1,
                )
            if op == "tz":
                return z  # simple literal; "" when no zone (§17.4.5.8)
            # TIMEZONE → canonical xsd:dayTimeDuration; a zoneless
            # dateTime is a type error → NULL → row filtered (§17.4.5.7)
            sign = F.when(z.startswith("-"), F.lit("-")).otherwise(F.lit(""))
            hh = F.regexp_extract(z, r"^[+-](\d{2}):", 1).cast("int")
            mm = F.regexp_extract(z, r":(\d{2})$", 1).cast("int")
            dur = F.when(
                (hh == 0) & (mm == 0), F.lit("PT0S")
            ).otherwise(
                F.concat(
                    sign,
                    F.lit("PT"),
                    F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(F.lit("")),
                    F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
                )
            )
            return F.when(z == "Z", F.lit("PT0S")).when(z.rlike("^[+-]"), dur)
        raise FilterCompileError(f"unsupported operator {op!r}")


_AGG_FUNS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}


def is_aggregate(e) -> bool:
    from ontario_spark.sparql.ast import expr_has_aggregate

    return expr_has_aggregate(e)


def compile_aggregate(
    e: Expr, vc: ExprCompiler, star_cols: "list[Column] | None" = None
) -> Column:
    """SPARQL aggregate → Spark aggregate Column. SUM/AVG use the
    decimal-cast pattern for deterministic distributed addition.
    ``star_cols`` (the in-scope variables' value columns) enables
    COUNT(DISTINCT *) = distinct SOLUTIONS, not plain row count."""
    DEC = "decimal(18,6)"
    name = e.op[len("agg_"):]
    distinct = name.endswith("_distinct")
    if distinct:
        name = name[: -len("_distinct")]
    arg = e.args[0]
    star = isinstance(arg, Term) and arg.is_iri and arg.value == "*"
    col = None if star else vc.value(arg)
    if name == "count":
        if star:
            if distinct:
                if not star_cols:
                    raise FilterCompileError(
                        "COUNT(DISTINCT *) needs frame context"
                    )
                return F.countDistinct(F.struct(*star_cols))
            return F.count(F.lit(1))
        return F.countDistinct(col) if distinct else F.count(col)
    if name == "sum":
        agg = F.sum_distinct if distinct else F.sum
        return agg(col.cast(DEC)).cast("double")
    if name == "avg":
        if distinct:
            return F.sum_distinct(col.cast(DEC)).cast("double") / F.countDistinct(col)
        return F.sum(col.cast(DEC)).cast("double") / F.count(col)
    if name == "min":
        return F.min(col)
    if name == "max":
        return F.max(col)
    if name == "sample":
        return F.first(col)
    if name == "group_concat":
        sep_t = unwrap_const(e.args[1]) if len(e.args) > 1 else None
        if len(e.args) > 1 and sep_t is None:
            raise FilterCompileError("GROUP_CONCAT separator must be a literal")
        sep = sep_t.value if sep_t is not None else " "
        # sorted for deterministic output (SPARQL leaves order
        # unspecified; distributed collect_list order is not stable)
        collect = F.collect_set if distinct else F.collect_list
        return F.concat_ws(sep, F.sort_array(collect(col.cast("string"))))
    raise FilterCompileError(f"unsupported aggregate {name}")
