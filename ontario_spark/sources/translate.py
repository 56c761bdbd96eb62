"""Star → native remote-query translators: SQL dialects, MongoDB
aggregation pipelines, Cypher.

Re-expresses the reference's per-source pushdown wrappers — semantics,
not code:

- SQL: ``ontario/wrappers/sparqltosql.py`` (predicate→column
  ``extract_cols`` :368-403, constant objects → equality predicates
  ``get_cond_sql`` :411-444, ``IS NOT NULL`` guards, multi-map
  self-joins ``join_condition`` :446-481) and its MySQL/Drill
  specializations (``wrappers/mysql/sparql2sql.py``,
  ``wrappers/drill/sparql2drill.py`` — dialects differ mainly in
  identifier quoting).
- MongoDB: ``ontario/wrappers/mongodb/sparql2mongo.py`` ($match for
  constants/not-null :209-241, $project :194-207, array fields →
  $unwind :144-180).
- Cypher: ``ontario/wrappers/neo4j/sparql2cypher.py``
  (``translate_4_col`` :285-343 — MATCH on the class label, WHERE on
  constants, RETURN property aliases).

The translated query projects RAW key columns for template-valued
terms (aliased ``var__k0..``), mirroring the engine-internal KEYED
representation (``ontario_spark.compiler.frame``): URI strings are
never shipped over the wire, and the fetched DataFrame joins other
stars on native keys. FILTER pushdown into the remote dialect is
intentionally not replicated — filters run Spark-side after the
(already column- and row-pruned) fetch.

Executors are injected callables (``query → list[row dict]``), so the
translators are testable without any database server; Spark's own JDBC
connector remains the production path for SQL sources.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ontario_spark.catalog.model import (
    CONSTANT,
    REFERENCE,
    TEMPLATE,
    TripleMap,
)
from ontario_spark.planner.decomposer import Star
from ontario_spark.sparql.ast import Expr, Term, Triple
from ontario_spark.sparql.parser import RDF_TYPE


class TranslateError(Exception):
    pass


# --- output contract -----------------------------------------------------


@dataclass(frozen=True)
class ColSpec:
    """One projected output column of a translated query."""

    out: str  # column name in the result rows (var or var__kN)
    var: str  # SPARQL variable it (partially) binds
    kind: str  # REFERENCE | TEMPLATE | CONSTANT
    template: str | None = None  # raw template when kind == TEMPLATE
    key_index: int = 0


# --- SQL dialects --------------------------------------------------------


@dataclass(frozen=True)
class Dialect:
    name: str
    quote: str  # identifier quote char
    str_cast: str  # type name for CAST(col AS ...)
    # MySQL's default sql_mode treats backslash as the string escape
    # char, so a data-derived value ending in '\' would escape the
    # closing quote (malformed SQL / injection). ANSI engines (DuckDB,
    # Postgres, Drill) treat backslash literally in standard strings.
    backslash_escapes: bool = False

    def ident(self, name: str) -> str:
        q = self.quote
        return f"{q}{name.replace(q, q + q)}{q}"

    def lit(self, value) -> str:
        if isinstance(value, bool):
            return "TRUE" if value else "FALSE"
        if isinstance(value, (int, float)):
            return repr(value)
        s = str(value)
        if self.backslash_escapes:
            s = s.replace("\\", "\\\\")
        return "'" + s.replace("'", "''") + "'"

    def in_list(self, expr: str, vals: list) -> str:
        """Render ``expr IN (…)`` over pushed-down key/lexical values.
        Default: literal per value — engines with implicit coercion
        (MySQL, DuckDB) compare a numeric column against string
        lexemes fine."""
        return f"{expr} IN ({', '.join(self.lit(v) for v in vals)})"


# canonical integer lexeme: round-trips str(int(s)) == s, so rendering
# it as a numeric literal cannot change which rows match
_CANON_INT = re.compile(r"^-?(0|[1-9][0-9]*)$")


class _DerbyDialect(Dialect):
    """Apache Derby: standard quoting, but NO implicit cross-type
    coercion — ``BIGINT_col IN ('7')`` and ``CAST(BIGINT AS VARCHAR)``
    are both errors (42818 / 42846). Remote-frame key columns travel
    through the engine as string lexemes (``df_to_bframe``'s lexical
    convention), so a bound-join IN-list against a numeric Derby
    column must be re-rendered: when every pushed lexeme is a
    CANONICAL integer the values print as numeric literals (exact —
    canonical lexemes round-trip; a non-canonical key like '007'
    cannot equal any BIGINT's string form anyway, and mixed lists
    fall back to quoted strings, correct for VARCHAR targets)."""

    def in_list(self, expr: str, vals: list) -> str:
        if all(
            isinstance(v, str) and _CANON_INT.match(v) for v in vals
        ):
            return f"{expr} IN ({', '.join(v for v in vals)})"
        return super().in_list(expr, vals)


MYSQL = Dialect("mysql", "`", "CHAR", backslash_escapes=True)
ANSI = Dialect("ansi", '"', "VARCHAR")  # DuckDB, Postgres, ...
DRILL = Dialect("drill", "`", "VARCHAR")
# CHAR str_cast: Derby refuses numeric→VARCHAR casts outright
DERBY = _DerbyDialect("derby", '"', "CHAR")

DIALECTS = {d.name: d for d in (MYSQL, ANSI, DRILL, DERBY)}


# --- FILTER pushdown into remote dialects --------------------------------


@dataclass(frozen=True)
class RemoteCond:
    """One sargable condition on a SPARQL variable, pushable into a
    remote dialect. ``op``: '=','!=','<','<=','>','>=' with a Python
    value, 'like' with a %-pattern, or 'in' with a tuple of observed
    build-side join keys (bound-join pushdown — the reference's
    NestedHashJoinFilter posture for wrapper sources). For 'in' on a
    template-keyed variable, ``tpl`` carries the build side's template
    SHAPE: raw keys only compare validly when the remote map's template
    has the same shape."""

    op: str
    value: object
    tpl: str | None = None


def tpl_shape(raw: str) -> str:
    return re.sub(r"\{[^{}]+\}", "{}", raw)


_CMP_OPS = {"=", "!=", "<", "<=", ">", ">="}
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "!=": "!="}


def _regex_to_like(rx: str) -> str | None:
    """Simple-regex → LIKE pattern (reference:
    ``wrappers/sparqltosql.py:523-544`` converts REGEX filters to LIKE).
    Handles ^/$ anchors, literal characters, and '.*'; any other regex
    metacharacter → None (not convertible; the filter stays Spark-side
    only)."""
    body, prefix, suffix = rx, "%", "%"
    if body.startswith("^"):
        body, prefix = body[1:], ""
    if body.endswith("$") and not body.endswith("\\$"):
        body, suffix = body[:-1], ""
    out: list[str] = []
    i = 0
    while i < len(body):
        if body[i : i + 2] == ".*":
            out.append("%")
            i += 2
            continue
        ch = body[i]
        if ch in "\\^$.|?*+()[]{}%_":
            return None
        out.append(ch)
        i += 1
    return prefix + "".join(out) + suffix


def _term_value(t: Term):
    return t.py if t.py is not None else t.value


def extract_remote_conds(exprs: list) -> dict[str, list[RemoteCond]]:
    """Pull the sargable conjuncts out of FILTER expressions:
    ``?v OP literal`` comparisons, CONTAINS/STRSTARTS/STRENDS, and
    simple REGEX (→ LIKE). Everything extracted is ALSO still applied
    Spark-side after the fetch — pushdown only prunes rows at the
    source, so dialect coercion quirks can never change the final
    answer, and non-sargable filters simply don't push."""
    out: dict[str, list[RemoteCond]] = {}

    def conjuncts(e):
        if isinstance(e, Expr) and e.op == "&&":
            for a in e.args:
                yield from conjuncts(a)
        else:
            yield e

    def add(var: str, cond: RemoteCond) -> None:
        out.setdefault(var, []).append(cond)

    from ontario_spark.compiler.filters import unwrap

    for expr in exprs:
        for c in conjuncts(expr):
            if not isinstance(c, Expr) or len(c.args) < 2:
                continue
            a, b = unwrap(c.args[0]), unwrap(c.args[1])
            if a is None or b is None:
                continue
            if c.op in _CMP_OPS:
                if a.is_var and not b.is_var and not b.is_iri:
                    add(a.value, RemoteCond(c.op, _term_value(b)))
                elif b.is_var and not a.is_var and not a.is_iri:
                    add(b.value, RemoteCond(_FLIP[c.op], _term_value(a)))
            elif c.op in ("contains", "strstarts", "strends"):
                if a.is_var and not b.is_var:
                    s = str(b.value)
                    # backslash-bearing constants stay Spark-side: LIKE
                    # strips backslashes a second time at match (MySQL),
                    # so a pushed pattern would over-prune — and dropped
                    # rows never reach the local re-check
                    if s and "%" not in s and "_" not in s and "\\" not in s:
                        pat = {
                            "contains": f"%{s}%",
                            "strstarts": f"{s}%",
                            "strends": f"%{s}",
                        }[c.op]
                        add(a.value, RemoteCond("like", pat))
            elif c.op == "regex" and len(c.args) == 2:
                if a.is_var and not b.is_var:
                    pat = _regex_to_like(str(b.value))
                    if pat is not None and "\\" not in pat:
                        add(a.value, RemoteCond("like", pat))
    return out


def _cond_sql(expr: str, c: RemoteCond, d: Dialect) -> str:
    if c.op == "like":
        return f"{expr} LIKE {d.lit(c.value)}"
    op = "<>" if c.op == "!=" else c.op
    return f"{expr} {op} {d.lit(c.value)}"


def _cond_mongo(c: RemoteCond) -> dict:
    ops = {"=": "$eq", "!=": "$ne", "<": "$lt", "<=": "$lte",
           ">": "$gt", ">=": "$gte"}
    if c.op in ops:
        return {ops[c.op]: c.value}
    if c.op == "in":
        return {"$in": list(c.value)}
    # inline DOTALL: SQL LIKE's % crosses newlines, but a bare '.'
    # does not — without (?s) a value like 'xyz\nabc' is over-pruned at
    # the source and nothing Spark-side can restore it (round-5 review
    # fix; (?s) works in both PCRE/Mongo and Python's re stand-in)
    parts = [re.escape(p) for p in str(c.value).split("%")]
    return {"$regex": "(?s)^" + ".*".join(parts) + "$"}


def _star_triples(tm: TripleMap, star: Star) -> list[Triple]:
    """Triples of the star this map can answer (class checks resolved
    statically)."""
    out = []
    for t in star.triples:
        if not t.p.is_iri:
            raise TranslateError("variable predicates not translatable")
        if t.p.value == RDF_TYPE:
            continue
        if t.p.value in tm.pom:
            out.append(t)
    return out


def star_sql(
    maps: list[TripleMap],
    star: Star,
    dialect: Dialect = ANSI,
    conditions: dict[str, list[RemoteCond]] | None = None,
) -> tuple[str, list[ColSpec]]:
    """One star (one alternative: maps self-joined on the shared subject
    template) → a single SQL statement + the output column contract.

    Reference behaviors reproduced: table alias per map, subject keys
    joined across maps (``join_condition``), constant objects →
    equality predicates (``get_cond_sql``), NOT NULL guards on every
    projected/joined column, and sargable FILTER
    pushdown (``conditions``, reference ``get_filters``/``REGEX→LIKE``
    :585-634) applied to REFERENCE-bound variables — a selective
    FILTER prunes at the source instead of shipping the whole table.
    """
    d = dialect
    alias = {tm.name: f"t{i}" for i, tm in enumerate(maps)}
    select: list[str] = []
    where: list[str] = []
    specs: list[ColSpec] = []
    # var → (expr_cols, kind, tpl) of its FIRST binding site
    bound: dict[str, tuple[list[tuple[str, str]], str, str | None]] = {}
    ref_exprs: dict[str, str] = {}  # REFERENCE-bound var → SQL expr
    key_exprs: dict[str, tuple[str, str]] = {}  # keyed var → (expr, tpl shape)

    def qcol(tm: TripleMap, col: str) -> str:
        return f"{alias[tm.name]}.{d.ident(col)}"

    def bind(var: str, expr_cols: list[tuple[str, str]], kind: str, tpl: str | None):
        """expr_cols: [(sql_expr, out_name)]. A REPEATED variable
        becomes an equality constraint: same-kind REFERENCEs equate
        their expressions, same-shape TEMPLATEs equate EVERY key
        column; mixed kinds or differing shapes raise (round-5 review
        fix — previously only the first key column was equated and
        kinds were never checked, silently matching wrong rows; the
        Mongo/Cypher translators already raise here)."""
        if var in bound:
            p_cols, p_kind, p_tpl = bound[var]
            if kind == REFERENCE and p_kind == REFERENCE:
                where.append(f"{p_cols[0][0]} = {expr_cols[0][0]}")
            elif (
                kind == TEMPLATE
                and p_kind == TEMPLATE
                and tpl is not None
                and p_tpl is not None
                and tpl_shape(tpl) == tpl_shape(p_tpl)
                and len(p_cols) == len(expr_cols)
            ):
                for (pe, _), (ne, _) in zip(p_cols, expr_cols):
                    where.append(f"{pe} = {ne}")
            else:
                raise TranslateError(
                    f"repeated variable ?{var} with mixed term kinds or "
                    "template shapes is not SQL-translatable"
                )
            return
        bound[var] = (expr_cols, kind, tpl)
        if kind == REFERENCE:
            ref_exprs[var] = expr_cols[0][0]
        elif kind == TEMPLATE and len(expr_cols) == 1 and tpl:
            key_exprs[var] = (expr_cols[0][0], tpl_shape(tpl))
        for i, (expr, out) in enumerate(expr_cols):
            select.append(f"{expr} AS {d.ident(out)}")
            specs.append(ColSpec(out, var, kind, tpl, i))

    # subject: keys from the first map; others join on key equality
    base = maps[0]
    if base.subject.kind == TEMPLATE:
        scols = list(base.subject.template.columns)
        if star.subject.is_var:
            v = star.subject.value
            bind(
                v,
                [(qcol(base, c), f"{v}__k{i}") for i, c in enumerate(scols)],
                TEMPLATE,
                base.subject.value,
            )
            for c in scols:
                where.append(f"{qcol(base, c)} IS NOT NULL")
        else:
            keys = base.subject.template.extract(star.subject.value)
            if keys is None:
                where.append("1 = 0")
            else:
                for c, v in zip(scols, keys):
                    where.append(
                        f"CAST({qcol(base, c)} AS {d.str_cast}) = {d.lit(v)}"
                    )
        for tm in maps[1:]:
            if tm.subject.kind != TEMPLATE:
                raise TranslateError("self-join maps must share a subject template")
            for c0, c1 in zip(scols, tm.subject.template.columns):
                where.append(f"{qcol(base, c0)} = {qcol(tm, c1)}")
    else:  # REFERENCE subject
        if star.subject.is_var:
            v = star.subject.value
            bind(v, [(qcol(base, base.subject.value), v)], REFERENCE, None)
            where.append(f"{qcol(base, base.subject.value)} IS NOT NULL")
        else:
            where.append(
                f"{qcol(base, base.subject.value)} = {d.lit(star.subject.value)}"
            )
        # maps[1:] join on subject equality — without it the comma
        # cross join below is a cartesian product (round-5 review fix)
        for tm in maps[1:]:
            if tm.subject.kind != REFERENCE:
                raise TranslateError("self-join maps must share a subject kind")
            where.append(
                f"{qcol(base, base.subject.value)} = "
                f"{qcol(tm, tm.subject.value)}"
            )

    # predicate-object patterns, each against the first map providing it
    for t in star.triples:
        if not t.p.is_iri:
            raise TranslateError("variable predicates not translatable")
        if t.p.value == RDF_TYPE:
            continue
        tm = next((m for m in maps if t.p.value in m.pom), None)
        if tm is None:
            raise TranslateError(f"predicate {t.p.value} not in maps")
        om = tm.pom[t.p.value]
        if om.kind == REFERENCE:
            expr = qcol(tm, om.value)
            if t.o.is_var:
                bind(t.o.value, [(expr, t.o.value)], REFERENCE, None)
                where.append(f"{expr} IS NOT NULL")
            else:
                val = t.o.py if (not t.o.is_iri and t.o.py is not None) else t.o.value
                where.append(f"{expr} = {d.lit(val)}")
        elif om.kind == TEMPLATE:
            tcols = list(om.template.columns)
            if t.o.is_var:
                v = t.o.value
                bind(
                    v,
                    [(qcol(tm, c), f"{v}__k{i}") for i, c in enumerate(tcols)],
                    TEMPLATE,
                    om.value,
                )
                for c in tcols:
                    where.append(f"{qcol(tm, c)} IS NOT NULL")
            else:
                keys = om.template.extract(t.o.value)
                if keys is None:
                    where.append("1 = 0")
                else:
                    for c, v in zip(tcols, keys):
                        where.append(
                            f"CAST({qcol(tm, c)} AS {d.str_cast}) = {d.lit(v)}"
                        )
        else:  # CONSTANT object map
            if t.o.is_var:
                specs.append(ColSpec("", t.o.value, CONSTANT, om.value))
            else:
                # satisfiable when the map constant equals EITHER the
                # query literal's lexical form or its typed Python form
                # (round-5 review fix: Cypher compared t.o.py, SQL only
                # t.o.value — same query answered differently per
                # backend)
                forms = {t.o.value} | (
                    {str(t.o.py)} if t.o.py is not None else set()
                )
                if om.value not in forms:
                    where.append("1 = 0")

    for var, conds in (conditions or {}).items():
        expr = ref_exprs.get(var)
        keyed = key_exprs.get(var)
        for c in conds:
            if c.op == "in":
                vals = list(c.value)
                if not vals:
                    continue
                if c.tpl is None and expr is not None:
                    where.append(d.in_list(expr, vals))
                elif keyed is not None and c.tpl == keyed[1]:
                    where.append(d.in_list(keyed[0], vals))
            elif expr is not None:
                where.append(_cond_sql(expr, c, d))

    tables = ", ".join(
        f"{d.ident(tm.source.table)} {alias[tm.name]}" for tm in maps
    )
    sql = "SELECT " + (", ".join(select) if select else "1")
    sql += f" FROM {tables}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    return sql, specs


# --- MongoDB aggregation pipeline ---------------------------------------


def _mongo_field(path: str) -> str:
    """Reference path → Mongo dotted field (array markers dropped —
    $unwind stages handle iteration)."""
    return path.replace("[*]", "")


def _coerce(lex: str):
    """Template-extracted lexical → likely stored type (reference
    compares against the stored value; documents store numbers as
    numbers)."""
    if lex.lstrip("+-").isdigit():
        return int(lex)
    return lex


def star_mongo(
    tm: TripleMap,
    star: Star,
    conditions: dict[str, list[RemoteCond]] | None = None,
) -> tuple[list[dict], list[ColSpec]]:
    """One star over one collection → aggregation pipeline + column
    contract. Stage order: $match (non-array predicates) → $unwind per
    array prefix → $match (array-element predicates) → $project
    (reference :144-241). ``conditions`` (sargable
    FILTERs on REFERENCE-bound variables) land in the $match stages —
    comparison operators directly, LIKE patterns as anchored $regex."""
    triples = _star_triples(tm, star)
    pre: dict[str, dict | object] = {}
    post: dict[str, dict | object] = {}
    unwinds: list[str] = []
    project: dict[str, str] = {}
    specs: list[ColSpec] = []
    bound: dict[str, str] = {}
    ref_paths: dict[str, str] = {}  # REFERENCE-bound var → source path

    def match_into(path: str, cond):
        tgt = post if "[*]" in path else pre
        f = _mongo_field(path).replace("/", ".")
        if f not in tgt:
            tgt[f] = cond
            return
        # Merge instead of overwrite: a star can constrain one path
        # with BOTH a constant equality and a pushed operator dict
        # (e.g. ?c ex:name "bob" . ?c ex:name ?n + FILTER on ?n) —
        # dropping either would let extra rows through remotely with
        # nothing re-checking the constant Spark-side. Scalars become
        # {'$eq': v} so the two merge; contradictory equalities
        # collapse to an unsatisfiable match.
        cur = tgt[f]
        cur_d = dict(cur) if isinstance(cur, dict) else {"$eq": cur}
        new_d = dict(cond) if isinstance(cond, dict) else {"$eq": cond}
        if "$eq" in cur_d and "$eq" in new_d and cur_d["$eq"] != new_d["$eq"]:
            tgt[f] = {"$in": []}
            return
        cur_d.update(new_d)
        tgt[f] = cur_d

    def want_unwind(path: str):
        cur = []
        for seg in path.split("/"):
            cur.append(seg)
            if seg.endswith("[*]"):
                p = _mongo_field("/".join(cur)).replace("/", ".")
                if p not in unwinds:
                    unwinds.append(p)

    def all_into(path: str, val):
        # Constant object over a MULTI-VALUED reference path (round 12;
        # reference sparql2mongo.py:144-180, the maxnumofobj>1 $all
        # sequence): match the INTACT array at document level — Mongo's
        # `field: v` on an array means "contains v", and several
        # constants on one path merge into $all. Unwinding first would
        # demand a SINGLE element equal every constant (unsatisfiable
        # for two distinct values), and a lone constant would multiply
        # sibling bindings once per array element.
        f = _mongo_field(path).replace("/", ".")
        cur = pre.get(f)
        if cur is None:
            pre[f] = {"$all": [val]}
        elif isinstance(cur, dict):
            alls = cur.setdefault("$all", [])
            if val not in alls:
                alls.append(val)
        else:
            pre[f] = {"$eq": cur, "$all": [val]}

    def bind(var: str, path: str, out: str, kind: str, tpl: str | None, ki: int = 0):
        f = _mongo_field(path).replace("/", ".")
        if var in bound and ki == 0:
            # repeated var: equality via $expr is out of scope; reference
            # also restricts to distinct vars per star
            raise TranslateError("repeated object variable not supported for mongo")
        bound[var] = f
        if kind == REFERENCE:
            ref_paths[var] = path
        project[out] = "$" + f
        specs.append(ColSpec(out, var, kind, tpl, ki))

    # subject
    if tm.subject.kind == TEMPLATE:
        scols = list(tm.subject.template.columns)
        if star.subject.is_var:
            v = star.subject.value
            for i, c in enumerate(scols):
                want_unwind(c)
                bind(v, c, f"{v}__k{i}", TEMPLATE, tm.subject.value, i)
                match_into(c, {"$exists": True, "$ne": None})
        else:
            keys = tm.subject.template.extract(star.subject.value)
            if keys is None:
                pre["__none__"] = {"$exists": True}
            else:
                for c, val in zip(scols, keys):
                    # array-path key columns need the $unwind even for
                    # constant matches — a document-level match has the
                    # wrong cardinality and the post-$match path would
                    # otherwise never resolve (round-5 review fix)
                    want_unwind(c)
                    match_into(c, _coerce(val))
    else:
        if star.subject.is_var:
            want_unwind(tm.subject.value)
            bind(star.subject.value, tm.subject.value, star.subject.value, REFERENCE, None)
            match_into(tm.subject.value, {"$exists": True, "$ne": None})
        else:
            want_unwind(tm.subject.value)
            match_into(tm.subject.value, star.subject.value)

    for t in triples:
        om = tm.pom[t.p.value]
        if om.kind == REFERENCE:
            if t.o.is_var:
                want_unwind(om.value)
                bind(t.o.value, om.value, t.o.value, REFERENCE, None)
                match_into(om.value, {"$exists": True, "$ne": None})
            else:
                val = t.o.py if (not t.o.is_iri and t.o.py is not None) else t.o.value
                if "[*]" in om.value:
                    all_into(om.value, val)
                else:
                    match_into(om.value, val)
        elif om.kind == TEMPLATE:
            tcols = list(om.template.columns)
            if t.o.is_var:
                for i, c in enumerate(tcols):
                    want_unwind(c)
                    bind(t.o.value, c, f"{t.o.value}__k{i}", TEMPLATE, om.value, i)
                    match_into(c, {"$exists": True, "$ne": None})
            else:
                keys = om.template.extract(t.o.value)
                if keys is None:
                    pre["__none__"] = {"$exists": True}
                else:
                    for c, val in zip(tcols, keys):
                        want_unwind(c)
                        match_into(c, _coerce(val))
        else:
            if t.o.is_var:
                specs.append(ColSpec("", t.o.value, CONSTANT, om.value))
            else:
                # lexical OR typed form may equal the map constant
                # (backend parity with star_sql/star_cypher)
                forms = {t.o.value} | (
                    {str(t.o.py)} if t.o.py is not None else set()
                )
                if om.value not in forms:
                    pre["__none__"] = {"$exists": True}

    for var, conds in (conditions or {}).items():
        path = ref_paths.get(var)
        if path is None:
            continue  # template/keyed vars: filter stays Spark-side
        for c in conds:
            if c.op == "in" and (c.tpl is not None or not c.value):
                continue  # keyed/empty IN: stays Spark-side for mongo
            match_into(path, _cond_mongo(c))

    pipeline: list[dict] = []
    if pre:
        pipeline.append({"$match": pre})
    for u in unwinds:
        pipeline.append({"$unwind": "$" + u})
    if post:
        pipeline.append({"$match": post})
    if project:
        pipeline.append({"$project": {**project, "_id": 0}})
    return pipeline, specs


# --- Cypher --------------------------------------------------------------


def star_cypher(
    tm: TripleMap,
    star: Star,
    conditions: dict[str, list[RemoteCond]] | None = None,
) -> tuple[str, list[ColSpec]]:
    """One star over one node label → Cypher. Properties come from
    REFERENCE maps; TEMPLATE key columns are projected as properties
    (relationship traversal — the reference's ``relationprops`` — is
    modeled as key-property projection here; cross-star joins happen
    Spark-side on those keys)."""
    label = (tm.subject_class or tm.name).rsplit("/", 1)[-1].rsplit("#", 1)[-1]
    where: list[str] = []
    ret: list[str] = []
    specs: list[ColSpec] = []

    def prop(col: str) -> str:
        return f"n.{col}"

    def clit(value) -> str:
        """Cypher string literal: backslash escaping (Cypher strings use
        ``\\``-escapes, unlike SQL's doubled quotes) so quote-bearing
        constants emit well-formed — not injectable — Cypher."""
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, (int, float)):
            return repr(value)
        return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"

    ref_props: dict[str, str] = {}  # REFERENCE-bound var → property expr
    bound_vars: set[str] = set()

    def bind(var: str, cols: list[str], kind: str, tpl: str | None):
        if var in bound_vars:
            # same posture as the mongo translator: per-row equality of
            # two projections is not expressible in the emitted subset
            raise TranslateError("repeated variable not supported for cypher")
        bound_vars.add(var)
        if kind == REFERENCE:
            ref_props[var] = prop(cols[0])
        for i, c in enumerate(cols):
            out = f"{var}__k{i}" if kind == TEMPLATE else var
            ret.append(f"{prop(c)} AS {out}")
            specs.append(ColSpec(out, var, kind, tpl, i))
            where.append(f"{prop(c)} IS NOT NULL")

    def cond_cypher(expr: str, c: RemoteCond) -> str | None:
        if c.op == "in":
            if c.tpl is not None or not c.value:
                return None
            return f"{expr} IN [{', '.join(clit(v) for v in c.value)}]"
        if c.op != "like":
            return f"{expr} {'<>' if c.op == '!=' else c.op} {clit(c.value)}"
        s = str(c.value)
        core = s.strip("%")
        if "%" in core:
            return None  # multi-wildcard: stays Spark-side
        if s.startswith("%") and s.endswith("%"):
            return f"{expr} CONTAINS {clit(core)}"
        if s.endswith("%"):
            return f"{expr} STARTS WITH {clit(core)}"
        if s.startswith("%"):
            return f"{expr} ENDS WITH {clit(core)}"
        return f"{expr} = {clit(core)}"

    if tm.subject.kind == TEMPLATE:
        if star.subject.is_var:
            bind(star.subject.value, list(tm.subject.template.columns), TEMPLATE, tm.subject.value)
        else:
            keys = tm.subject.template.extract(star.subject.value)
            if keys is None:
                # constant URI this map can never produce: unsatisfiable
                # (SQL emits 1=0, mongo an impossible $match — without
                # this the MATCH would return EVERY node)
                where.append("false")
            else:
                for c, v in zip(tm.subject.template.columns, keys):
                    where.append(f"toString({prop(c)}) = {clit(v)}")
    else:
        if star.subject.is_var:
            bind(star.subject.value, [tm.subject.value], REFERENCE, None)
        else:
            where.append(f"{prop(tm.subject.value)} = {clit(star.subject.value)}")

    for t in _star_triples(tm, star):
        om = tm.pom[t.p.value]
        if om.kind == REFERENCE:
            if t.o.is_var:
                bind(t.o.value, [om.value], REFERENCE, None)
            else:
                val = t.o.py if (not t.o.is_iri and t.o.py is not None) else t.o.value
                where.append(f"{prop(om.value)} = {clit(val)}")
        elif om.kind == TEMPLATE:
            if t.o.is_var:
                bind(t.o.value, list(om.template.columns), TEMPLATE, om.value)
            else:
                keys = om.template.extract(t.o.value)
                if keys is None:
                    where.append("false")
                else:
                    for c, v in zip(om.template.columns, keys):
                        where.append(f"toString({prop(c)}) = {clit(v)}")
        else:
            if t.o.is_var:
                if t.o.value in bound_vars:
                    raise TranslateError(
                        "repeated variable not supported for cypher"
                    )
                bound_vars.add(t.o.value)
                specs.append(ColSpec("", t.o.value, CONSTANT, om.value))
            elif om.value != (
                t.o.py
                if (not t.o.is_iri and t.o.py is not None)
                else t.o.value
            ):
                # CONSTANT map vs mismatching constant object:
                # unsatisfiable (parity with SQL 1=0 / mongo __none__)
                where.append("false")

    for var, conds in (conditions or {}).items():
        expr = ref_props.get(var)
        if expr is None:
            continue  # template/keyed vars: filter stays Spark-side
        for c in conds:
            rendered = cond_cypher(expr, c)
            if rendered is not None:
                where.append(rendered)

    q = f"MATCH (n:{label})"
    if where:
        q += " WHERE " + " AND ".join(dict.fromkeys(where))
    q += " RETURN " + (", ".join(ret) if ret else "1")
    return q, specs


# --- remote SPARQL -------------------------------------------------------


def _sparql_term(t: Term) -> str:
    if t.is_var:
        return f"?{t.value}"
    if t.is_iri:
        return f"<{t.value}>"
    # ECHAR-escape control characters too: SPARQL forbids raw
    # newline/CR/tab inside quoted strings (parity with
    # pushdown.sparql_value_term)
    lex = (
        t.value.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    if t.datatype:
        return f'"{lex}"^^<{t.datatype}>'
    if t.lang:
        return f'"{lex}"@{t.lang}'
    if isinstance(t.py, bool):
        return "true" if t.py else "false"
    if isinstance(t.py, (int, float)):
        return str(t.py)
    return f'"{lex}"'


def star_sparql_text(star: Star) -> tuple[str, list[ColSpec]]:
    """Re-serialize a star as SPARQL text for a remote endpoint
    (reference: each LeafOperator re-serializes its subquery,
    ``mediator/Tree.getInfoIO:219-257``). All bindings come back
    lexical (SPARQL-JSON), so every var is a LEXICAL column."""
    variables = sorted(star.variables())
    patterns = " ".join(
        f"{_sparql_term(t.s)} {_sparql_term(t.p)} {_sparql_term(t.o)} ."
        for t in star.triples
    )
    head = " ".join(f"?{v}" for v in variables) if variables else "*"
    q = f"SELECT {head} WHERE {{ {patterns} }}"
    return q, [ColSpec(v, v, REFERENCE, None) for v in variables]


# --- fetched rows → BindingsFrame ---------------------------------------


def df_to_bframe(df, specs: list[ColSpec]):
    """Lift an already-distributed DataFrame of remote results (e.g. a
    Spark-JDBC fetch — ``sources/jdbc.py``) into a BFrame: project the
    contract columns cast to string (the engine's lexical convention),
    attach template/constant metadata. No driver round-trip."""
    from pyspark.sql import functions as F

    from ontario_spark.catalog.model import Template
    from ontario_spark.compiler.frame import KEYED, LEXICAL, BFrame, TermMeta

    real = [s for s in specs if s.out]
    consts = [s for s in specs if not s.out]
    if real:
        # TEMPLATE columns are raw join keys — cast to string so the
        # template-format/extract machinery and §10.2 masks see one
        # type regardless of the remote driver's integer width. Plain
        # literal (REF) columns KEEP the remote schema's native type
        # (round 11): a remote-served ?bal must surface as the same
        # double the lake-served star yields, not its lexical form —
        # the two paths must be indistinguishable to the query.
        df = df.select(
            *[
                (
                    F.col(s.out).cast("string")
                    if s.kind == TEMPLATE
                    else F.col(s.out)
                ).alias(s.out)
                for s in real
            ]
        )
    else:
        # zero projected columns (all-constant star, e.g. an ASK-shaped
        # probe): KEEP the remote row count — select() drops columns
        # but not rows, so an unsatisfied star stays empty instead of
        # fabricating one phantom row
        df = df.select()
    meta: dict[str, TermMeta] = {}
    for s in real:
        if s.kind == TEMPLATE:
            if s.var not in meta:
                meta[s.var] = TermMeta(KEYED, Template(s.template))
        else:
            meta[s.var] = TermMeta(LEXICAL)
    for s in consts:
        df = df.withColumn(s.var, F.lit(s.template))
        meta[s.var] = TermMeta(LEXICAL)
    return BFrame(df, meta)


def rows_to_bframe(spark, rows: list[dict], specs: list[ColSpec]):
    """Build a BFrame from driver-side remote rows according to the
    column contract (KEYED vars keep their template metadata so
    downstream joins still run on raw keys)."""
    from ontario_spark.data import local_frame

    real = [s for s in specs if s.out]
    cols = [s.out for s in real]
    data = [tuple(r.get(c) for c in cols) for r in rows]

    # Per-column type from the VALUES the executor returned (round 11):
    # the production DataFrame path (sources/jdbc.py) carries the
    # remote schema's real types, so the driver-side rows path must
    # not flatten everything to string — a projected remote NUMERIC
    # (e.g. ?bal served by the Drill/MySQL seam) has to surface as a
    # number, and join keys keep the integer type the lake side has.
    # All-NULL columns fall back to string (the untyped unknown).
    import datetime
    from decimal import Decimal

    def col_type(i: int) -> str:
        t = "missing"
        for row in data:
            v = row[i]
            if v is None:
                continue
            if isinstance(v, bool):
                c = "boolean"
            elif isinstance(v, int):
                c = "long"
            elif isinstance(v, (float, Decimal)):
                c = "double"
            elif isinstance(v, datetime.datetime):
                c = "timestamp"
            else:
                c = "string"
            # numeric widening (long+double → double); any other mix,
            # or any string, collapses to string
            if t == "missing":
                t = c
            elif {t, c} == {"long", "double"}:
                t = "double"
            elif t != c:
                t = "string"
            if t == "string":
                break
        return "string" if t == "missing" else t

    def coerce(v, t):
        if v is None:
            return None
        if t == "double" and isinstance(v, (int, Decimal)) and not isinstance(v, bool):
            return float(v)
        if t == "string" and not isinstance(v, str):
            return str(v)
        return v

    types = [col_type(i) for i in range(len(cols))]
    data = [
        tuple(coerce(v, t) for v, t in zip(row, types)) for row in data
    ]
    schema = ", ".join(f"{c} {t}" for c, t in zip(cols, types))
    # no projected columns: still one row per REMOTE row (never a
    # fabricated singleton — an empty remote answer must stay empty)
    return df_to_bframe(local_frame(spark, data, schema), specs)
