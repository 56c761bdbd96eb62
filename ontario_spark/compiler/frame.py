"""BindingsFrame: a DataFrame of SPARQL solution mappings + per-variable
term metadata.

The reference streams Python dicts between operator processes
(SURVEY.md §1.1); here a binding set is a DataFrame whose columns are
the SPARQL variables. The twist that matters at 100 TB: variables bound
from URI TEMPLATES are kept as their underlying NATIVE KEY COLUMNS
(``var__k0..kN``) instead of formatted URI strings. Joins between stars
whose templates share the same literal skeleton run directly on the
integer keys — no string materialization, smaller shuffle payloads, and
parquet min/max stats stay usable. Lexical URIs are only produced at
projection time (reference contrast: tuple-level Python URI building in
``ontario/wrappers/spark/sparql2spark.py:189-229``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontario_spark.catalog.model import Template

LEXICAL = "lexical"
KEYED = "keyed"

# Mask-decomposition joins materialize 2^L x 2^R (left-nullable x
# right-nullable shared vars) group pairs; past this many pairs the
# plan-size cost outweighs the hash-join benefit and the join falls
# back to ONE condition join (correct, but the OR-form condition can
# only hash-join on the never-null keys).
_COMPAT_GROUP_CAP = 16

_SIDE_SUFFIXES = ("__type", "__lang", "__dt")

# expression-position EXISTS mark columns (query.py _mark_exists)
_EX_MARK = re.compile(r"^__ex\d+$")


def _subsets(xs: list[str]):
    for r in range(len(xs) + 1):
        for c in combinations(xs, r):
            yield frozenset(c)


def _and(conds: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, conds)


def _lex_unify(left: "BFrame", right: "BFrame", v: str) -> tuple["BFrame", "BFrame"]:
    """Materialize ``v`` on both frames and, on a native dtype
    mismatch, compare on the lexical string form — the engine-wide
    join convention and the only ANSI-safe choice (a native
    string=long comparison THROWS CAST_INVALID_INPUT under Spark 4's
    default ANSI mode)."""
    left, right = left.materialize(v), right.materialize(v)
    if left.df.schema[v].dataType != right.df.schema[v].dataType:
        left = BFrame(
            left.df.withColumn(v, F.col(v).cast("string")),
            left.meta,
            left.maybe_null,
        )
        right = BFrame(
            right.df.withColumn(v, F.col(v).cast("string")),
            right.meta,
            right.maybe_null,
        )
    return left, right


@dataclass(frozen=True)
class TermMeta:
    kind: str  # LEXICAL | KEYED
    template: Template | None = None

    @property
    def nkeys(self) -> int:
        return len(self.template.columns) if self.template else 0


def key_cols(var: str, n: int) -> list[str]:
    return [f"{var}__k{i}" for i in range(n)]


@dataclass
class BFrame:
    df: DataFrame
    meta: dict[str, TermMeta]
    # Variables that MAY be unbound (NULL) in some solution — set where
    # unboundness structurally arises (OPTIONAL-only vars, UNION
    # padding, VALUES UNDEF, expression BINDs, subquery heads) and
    # propagated by every operator. A join whose shared var is in this
    # set takes the §10.2 compatibility path (unbound matches anything
    # and the merge takes the bound side); all other shared vars keep
    # the plain equi-join fast path, so scan-to-scan star joins never
    # pay for the tracking.
    maybe_null: frozenset[str] = field(default_factory=frozenset)

    @property
    def variables(self) -> set[str]:
        return set(self.meta)

    def cols_for(self, var: str) -> list[str]:
        m = self.meta[var]
        return key_cols(var, m.nkeys) if m.kind == KEYED else [var]

    def lexical_expr(self, var: str) -> Column:
        """Column producing the lexical form of ``var`` (formats keyed
        vars through their template; null keys → null, so OPTIONAL-
        produced unbound stays unbound)."""
        m = self.meta[var]
        if m.kind == LEXICAL:
            return F.col(var)
        kcols = key_cols(var, m.nkeys)
        formatted = m.template.format(
            col=lambda name: F.col(kcols[list(m.template.columns).index(name)])
        )
        notnull = F.lit(True)
        for k in kcols:
            notnull = notnull & F.col(k).isNotNull()
        return F.when(notnull, formatted)

    def materialize(self, var: str) -> "BFrame":
        """Convert a keyed var to its lexical string column."""
        m = self.meta[var]
        if m.kind == LEXICAL:
            return self
        df = self.df.withColumn(var, self.lexical_expr(var)).drop(
            *key_cols(var, m.nkeys)
        )
        meta = dict(self.meta)
        meta[var] = TermMeta(LEXICAL)
        return BFrame(df, meta, self.maybe_null)

    def ensure_var(self, var: str) -> "BFrame":
        """Add ``var`` as an unbound (null string) column if missing —
        union alignment (reference: Xunion.differentVariables pads with
        '', ``Xunion.py:83-133``; we use NULL = SPARQL unbound)."""
        if var in self.meta:
            return self
        df = self.df.withColumn(var, F.lit(None).cast("string"))
        meta = dict(self.meta)
        meta[var] = TermMeta(LEXICAL)
        return BFrame(df, meta, self.maybe_null | {var})

    def join(self, other: "BFrame", how: str = "inner") -> "BFrame":
        """Join on shared variables. Keyed⋈keyed with same template
        shape joins on raw keys (replaces Xgjoin/SymmetricHashJoin —
        Spark's shuffled-hash/sort-merge with AQE already provides the
        adaptive, spilling behavior the reference hand-built,
        ``Xgjoin.py:51-266``). how='left_outer' replaces Xgoptional."""
        left, right = self, other
        shared = sorted(left.variables & right.variables)
        if not shared:
            if how == "left_outer":
                # LeftJoin with disjoint domains: every pairing is
                # compatible → Ω1 × Ω2, and Ω1 bare when Ω2 is empty —
                # exactly a TRUE-condition left outer join (arises e.g.
                # for OPTIONAL over a failed SERVICE SILENT's identity)
                return BFrame(
                    left.df.join(right.df, F.lit(True), "left_outer"),
                    {**left.meta, **right.meta},
                    left.maybe_null | right.maybe_null | right.variables,
                )
            if how != "inner":
                raise ValueError(f"{how} join without shared variables unsupported")
            return BFrame(
                left.df.crossJoin(right.df),
                {**left.meta, **right.meta},
                left.maybe_null | right.maybe_null,
            )
        loose = [
            v
            for v in shared
            if v in left.maybe_null or v in right.maybe_null
        ]
        if loose:
            return left._join_compat(right, how, shared, loose)
        on: list[str] = []
        for v in shared:
            lm, rm = left.meta[v], right.meta[v]
            if (
                lm.kind == KEYED
                and rm.kind == KEYED
                and lm.template.same_shape(rm.template)
            ):
                on.extend(key_cols(v, lm.nkeys))
            else:
                left, right = _lex_unify(left, right, v)
                on.append(v)
        # SPARQL-JSON term side columns (var__type/__lang/__dt from
        # SERVICE frames) are physical df columns outside meta; when
        # BOTH sides carry them for a shared var the join would emit
        # duplicate names and a later LANG()/DATATYPE() reference would
        # be ambiguous. Left's metadata wins (matches the meta merge).
        dup_side = [
            f"{v}{suf}"
            for v in shared
            for suf in ("__type", "__lang", "__dt")
            if f"{v}{suf}" in left.df.columns and f"{v}{suf}" in right.df.columns
        ]
        rdf = right.df.drop(*dup_side) if dup_side else right.df
        df = left.df.join(rdf, on=on, how=how)
        meta = {**right.meta, **left.meta}  # left rep wins for shared vars
        flags = left.maybe_null | right.maybe_null
        if how == "left_outer":
            flags |= right.variables - set(shared)
        return BFrame(df, meta, flags)

    def _join_compat(
        self, other: "BFrame", how: str, shared: list[str], loose: list[str]
    ) -> "BFrame":
        """Pattern⋈pattern join under FULL SPARQL §10.2 compatibility,
        taken whenever a shared variable can be unbound (``loose`` =
        shared ∩ maybe_null of either side). Two solutions are
        compatible iff every variable bound in BOTH agrees, so an
        unbound side constrains nothing and the merged solution takes
        the bound side's value — a plain equi-join (NULL matches
        nothing) computes a different, smaller answer.

        Plan shape — built for scale, not a nested loop: rows split by
        their NULL-mask over the loose vars (2^L × 2^R group pairs, L/R
        = loose vars nullable on that side, typically 1); each pair
        joins with a pure EQUI condition on the never-null shared vars
        plus the loose vars bound in both masks (hash-joinable — the
        all-bound bulk pair IS the old equi-join), or a cross join for
        a dom-disjoint pair (the spec's cardinality, not an accident);
        the merged binding is ``coalesce(left, right)``; parts
        bag-union. Above ``_COMPAT_GROUP_CAP`` pairs the join falls
        back to ONE OR-form condition join (still correct; Spark can
        hash-join it only on the never-null keys). Loose vars compare
        on lexical string forms — the engine-wide convention, and the
        only ANSI-safe choice (native string=long comparisons throw
        under Spark 4). LeftJoin (OPTIONAL) unions the per-mask inner
        parts with each left group's rows that matched NO right group
        (chained anti-joins over the right's mask partition).

        Term-fidelity side columns (``v__type/__lang/__dt``) of a
        loose var follow the side whose VALUE the merge took; rows
        taking a side with no side columns get NULL (unknown), never a
        stale tag. Reference contrast: Ontario's Xgjoin probes Python
        dicts where a missing key is naturally a wildcard
        (``Xgjoin.py:118-166``); the NULL-mask decomposition is how
        the same semantics stays hash-partitioned on DataFrames."""
        assert how in ("inner", "left_outer"), how
        left, right = self, other
        loose_set = set(loose)
        for v in loose:
            left, right = _lex_unify(left, right, v)
        # never-null shared vars join as always: raw keys when the
        # templates share a shape, lexical strings otherwise
        pairs: list[tuple[str, str]] = []
        for v in shared:
            if v in loose_set:
                continue
            lm, rm = left.meta[v], right.meta[v]
            if (
                lm.kind == KEYED
                and rm.kind == KEYED
                and lm.template.same_shape(rm.template)
            ):
                pairs.extend((c, c) for c in key_cols(v, lm.nkeys))
            else:
                left, right = _lex_unify(left, right, v)
                pairs.append((v, v))
        # rename every right column colliding with a left column; the
        # ones not consumed below are dropped (left wins — the same
        # convention the equi-join path applies to side columns)
        ren = {c: f"__rj_{c}" for c in right.df.columns if c in left.df.columns}
        rdf = right.df
        for old, new in ren.items():
            rdf = rdf.withColumnRenamed(old, new)
        eq_pairs = [(lc, ren.get(rc, rc)) for lc, rc in pairs]

        def _side_owner(c: str) -> str | None:
            for suf in _SIDE_SUFFIXES:
                if c.endswith(suf) and c[: -len(suf)] in loose_set:
                    return c[: -len(suf)]
            return None

        inner_sel: list[Column] = []
        bare_sel: list[Column] = []
        for c in left.df.columns:
            v = _side_owner(c)
            if c in loose_set:
                inner_sel.append(F.coalesce(F.col(c), F.col(ren[c])).alias(c))
                bare_sel.append(F.col(c))
            elif v is not None:
                lval = F.when(F.col(v).isNotNull(), F.col(c))
                inner_sel.append(
                    (lval.otherwise(F.col(ren[c])) if c in ren else lval).alias(c)
                )
                bare_sel.append(F.col(c))
            else:
                inner_sel.append(F.col(c))
                bare_sel.append(F.col(c))
        for c in right.df.columns:
            if c in ren:
                continue
            v = _side_owner(c)
            if v is not None:
                inner_sel.append(F.when(F.col(v).isNull(), F.col(c)).alias(c))
            else:
                inner_sel.append(F.col(c))
            bare_sel.append(
                F.lit(None).cast(right.df.schema[c].dataType).alias(c)
            )

        meta = {**right.meta, **left.meta}
        flags = (left.maybe_null | right.maybe_null) - set(shared)
        flags |= {
            v for v in loose if v in left.maybe_null and v in right.maybe_null
        }
        if how == "left_outer":
            flags |= right.variables - set(shared)
            flags |= {v for v in loose if v in left.maybe_null}

        l_nullable = [v for v in loose if v in left.maybe_null]
        r_nullable = [v for v in loose if v in right.maybe_null]
        if (1 << len(l_nullable)) * (1 << len(r_nullable)) > _COMPAT_GROUP_CAP:
            conds = [F.col(a) == F.col(b) for a, b in eq_pairs]
            conds += [
                F.col(v).isNull()
                | F.col(ren[v]).isNull()
                | (F.col(v) == F.col(ren[v]))
                for v in loose
            ]
            return BFrame(
                left.df.join(rdf, _and(conds), how).select(*inner_sel),
                meta,
                flags,
            )

        def _filter_mask(df, cols_nullable, name_of, mask):
            for v in cols_nullable:
                c = name_of(v)
                df = df.filter(
                    F.col(c).isNull() if v in mask else F.col(c).isNotNull()
                )
            return df

        parts: list[DataFrame] = []
        for lmask in _subsets(l_nullable):
            lsub = _filter_mask(left.df, l_nullable, lambda v: v, lmask)
            rem = lsub
            for rmask in _subsets(r_nullable):
                rsub = _filter_mask(rdf, r_nullable, lambda v: ren[v], rmask)
                keys = list(eq_pairs) + [
                    (v, ren[v])
                    for v in loose
                    if v not in lmask and v not in rmask
                ]
                if keys:
                    cond = _and([F.col(a) == F.col(b) for a, b in keys])
                    parts.append(lsub.join(rsub, cond, "inner").select(*inner_sel))
                    if how == "left_outer":
                        rsel = rsub.select(*sorted({b for _, b in keys}))
                        rem = rem.join(rsel, cond, "left_anti")
                else:
                    parts.append(lsub.crossJoin(rsub).select(*inner_sel))
                    if how == "left_outer":
                        probe = rsub.limit(1).select(F.lit(1).alias("__exists"))
                        rem = rem.join(F.broadcast(probe), F.lit(True), "left_anti")
            if how == "left_outer":
                parts.append(rem.select(*bare_sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return BFrame(out, meta, flags)

    def restrict(
        self, other: "BFrame", how: str, minus: bool = False
    ) -> "BFrame":
        """Semi/anti join on shared variables: EXISTS → 'left_semi',
        NOT EXISTS / MINUS → 'left_anti' (SPARQL 1.1, beyond the
        reference). Keyed vars with matching templates compare on raw
        keys, like ``join``. With no shared variables the right side
        acts as a global emptiness probe (EXISTS of a disjoint pattern).

        When a shared var can be unbound on either side
        (``maybe_null``), the §10.2 compatibility semantics apply via
        ``_restrict_compat``: an unbound var constrains nothing, and —
        with ``minus=True`` (SPARQL §8.3.3 MINUS, vs NOT EXISTS) — a
        solution pair with NO variable bound on both sides has
        disjoint domains and removes nothing."""
        assert how in ("left_semi", "left_anti")
        left, right = self, other
        shared = sorted(left.variables & right.variables)
        if not shared:
            probe = right.df.limit(1).select(F.lit(1).alias("__exists"))
            return BFrame(
                left.df.join(F.broadcast(probe), F.lit(True), how),
                left.meta,
                left.maybe_null,
            )
        loose = [
            v
            for v in shared
            if v in left.maybe_null or v in right.maybe_null
        ]
        if loose:
            return left._restrict_compat(right, how, shared, loose, minus)
        on: list[str] = []
        for v in shared:
            lm, rm = left.meta[v], right.meta[v]
            if (
                lm.kind == KEYED
                and rm.kind == KEYED
                and lm.template.same_shape(rm.template)
            ):
                on.extend(key_cols(v, lm.nkeys))
            else:
                left, right = _lex_unify(left, right, v)
                on.append(v)
        # no dedup on the right: semi/anti joins never multiply rows,
        # so Spark needs only the join columns (column-pruned scan)
        rcols = [c for v in shared for c in right.cols_for(v)]
        df = left.df.join(right.df.select(*rcols), on=on, how=how)
        return BFrame(df, left.meta, left.maybe_null)

    def _restrict_compat(
        self,
        other: "BFrame",
        how: str,
        shared: list[str],
        loose: list[str],
        minus: bool,
    ) -> "BFrame":
        """Semi/anti join under §10.2 compatibility (see
        ``_join_compat`` for the mask-decomposition rationale). Left
        rows split by NULL-mask over the nullable shared vars; per
        mask the vars bound on the left are the probe keys.

        anti: a left row drops iff SOME right row is compatible —
        chained anti-joins over the right's mask partition, each on
        the vars bound in BOTH masks; a pair with NO such var is
        dom-disjoint: under MINUS it removes nothing (§8.3.3), under
        NOT EXISTS it removes everything when that right group is
        non-empty (emptiness probe).

        semi: a left row survives iff ANY right group matches — an OR
        that chained semi-joins cannot express (they AND), so the
        group's DISTINCT key tuples probe each right group, the
        matched key sets bag-union + dedup, and ONE final equi
        semi-join keeps bag multiplicity exact."""
        left, right = self, other
        loose_set = set(loose)
        for v in loose:
            left, right = _lex_unify(left, right, v)
        pairs_by_var: dict[str, list[tuple[str, str]]] = {}
        for v in shared:
            if v in loose_set:
                pairs_by_var[v] = [(v, v)]
                continue
            lm, rm = left.meta[v], right.meta[v]
            if (
                lm.kind == KEYED
                and rm.kind == KEYED
                and lm.template.same_shape(rm.template)
            ):
                pairs_by_var[v] = [(c, c) for c in key_cols(v, lm.nkeys)]
            else:
                left, right = _lex_unify(left, right, v)
                pairs_by_var[v] = [(v, v)]
        rename: dict[str, str] = {}
        for v in shared:
            for _, rc in pairs_by_var[v]:
                rename[rc] = f"__rr_{rc}"
        rdf = right.df.select(
            *[F.col(rc).alias(nn) for rc, nn in rename.items()]
        )
        l_nullable = [v for v in loose if v in left.maybe_null]
        r_nullable = [v for v in loose if v in right.maybe_null]
        if (1 << len(l_nullable)) * (1 << len(r_nullable)) > _COMPAT_GROUP_CAP:
            conds = []
            for v in shared:
                eq = _and(
                    [
                        F.col(lc) == F.col(rename[rc])
                        for lc, rc in pairs_by_var[v]
                    ]
                )
                if v in loose_set:
                    eq = F.col(v).isNull() | F.col(rename[v]).isNull() | eq
                conds.append(eq)
            cond = _and(conds)
            if minus:
                overlap = [
                    F.col(v).isNotNull() & F.col(rename[v]).isNotNull()
                    if v in loose_set
                    else F.lit(True)
                    for v in shared
                ]
                cond = cond & reduce(lambda a, b: a | b, overlap)
            return BFrame(
                left.df.join(rdf, cond, how), left.meta, left.maybe_null
            )

        def _rgroup(rmask):
            out = rdf
            for v in r_nullable:
                c = rename[v]
                out = out.filter(
                    F.col(c).isNull() if v in rmask else F.col(c).isNotNull()
                )
            return out

        parts: list[DataFrame] = []
        for lmask in _subsets(l_nullable):
            lsub = left.df
            for v in l_nullable:
                lsub = lsub.filter(
                    F.col(v).isNull() if v in lmask else F.col(v).isNotNull()
                )
            bound_l = [v for v in shared if v not in lmask]
            if how == "left_anti":
                rem = lsub
                for rmask in _subsets(r_nullable):
                    keys = [
                        (lc, rename[rc])
                        for v in bound_l
                        if v not in rmask
                        for lc, rc in pairs_by_var[v]
                    ]
                    if not keys and minus:
                        continue  # dom-disjoint: MINUS removes nothing
                    rsub = _rgroup(rmask)
                    if keys:
                        rem = rem.join(
                            rsub.select(*sorted({b for _, b in keys})),
                            _and([F.col(a) == F.col(b) for a, b in keys]),
                            "left_anti",
                        )
                    else:
                        probe = rsub.limit(1).select(F.lit(1).alias("__exists"))
                        rem = rem.join(
                            F.broadcast(probe), F.lit(True), "left_anti"
                        )
                parts.append(rem)
            else:
                klcols = [lc for v in bound_l for lc, _ in pairs_by_var[v]]
                if not klcols:
                    probe = rdf.limit(1).select(F.lit(1).alias("__exists"))
                    parts.append(
                        lsub.join(F.broadcast(probe), F.lit(True), "left_semi")
                    )
                    continue
                dk = lsub.select(*klcols).dropDuplicates()
                matched = None
                for rmask in _subsets(r_nullable):
                    rsub = _rgroup(rmask)
                    keys = [
                        (lc, rename[rc])
                        for v in bound_l
                        if v not in rmask
                        for lc, rc in pairs_by_var[v]
                    ]
                    if keys:
                        m = dk.join(
                            rsub.select(*sorted({b for _, b in keys})),
                            _and([F.col(a) == F.col(b) for a, b in keys]),
                            "left_semi",
                        )
                    else:
                        probe = rsub.limit(1).select(F.lit(1).alias("__exists"))
                        m = dk.join(F.broadcast(probe), F.lit(True), "left_semi")
                    matched = m if matched is None else matched.unionByName(m)
                parts.append(
                    lsub.join(matched.dropDuplicates(), klcols, "left_semi")
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return BFrame(out, left.meta, left.maybe_null)

    def union(self, other: "BFrame") -> "BFrame":
        """Bag union (replaces Xunion). Variables are aligned by name;
        missing vars pad with NULL; keyed vars with mismatched templates
        are materialized first."""
        left, right = self, other
        for v in sorted(left.variables | right.variables):
            lin, rin = v in left.meta, v in right.meta
            if lin and rin:
                lm, rm = left.meta[v], right.meta[v]
                compatible = (
                    lm.kind == KEYED
                    and rm.kind == KEYED
                    and lm.template.same_shape(rm.template)
                    # same-shape templates over sources with DIFFERENT
                    # native key dtypes (int parquet vs string csv)
                    # cannot union raw key columns under ANSI — fall
                    # through to materialize (round-5 review fix)
                    and [
                        left.df.schema[c].dataType
                        for c in key_cols(v, lm.nkeys)
                    ]
                    == [
                        right.df.schema[c].dataType
                        for c in key_cols(v, rm.nkeys)
                    ]
                ) or (lm.kind == LEXICAL and rm.kind == LEXICAL)
                if not compatible:
                    left = left.materialize(v)
                    right = right.materialize(v)
                if left.meta[v].kind == LEXICAL and right.meta[v].kind == LEXICAL:
                    # LEXICAL vars may still carry different native
                    # dtypes (double vs timestamp across negated-path
                    # branches) — unify on the lexical string form
                    # (materialize inside is a no-op here)
                    left, right = _lex_unify(left, right, v)
            else:
                if lin:
                    left = left.materialize(v)
                if rin:
                    right = right.materialize(v)
                left = left.ensure_var(v)
                right = right.ensure_var(v)
        cols = sorted(c for v in left.meta for c in left.cols_for(v))
        # Non-meta PHYSICAL columns survive the union (round-8 review
        # fix: they were silently dropped): hoisted ``__sN`` ORDER-BY
        # aggregate columns (their loss crashed the post-union sort
        # select) and SERVICE term-fidelity side columns
        # (var__type/__lang/__dt — their loss silently blanked
        # LANG()/DATATYPE() after a union). A side missing the column
        # pads with a typed NULL; dtype conflicts across branches fall
        # back to the lexical string form like LEXICAL vars above.
        # Engine-internal row-pin columns must NOT survive: __lj
        # (OPTIONAL-hoist pin, query.py _optional) is carried by BOTH
        # legs of the hoist union, and keeping it would duplicate the
        # name when two hoisted-OPTIONAL frames later join (observed:
        # AMBIGUOUS_REFERENCE `__lj` under a UNION branch). __exk /
        # __ex<i> (EXISTS mark pins) are dropped before any union
        # today but excluded for the same reason.
        ldf, rdf = left.df, right.df
        extras = sorted(
            c
            for c in (set(ldf.columns) | set(rdf.columns)) - set(cols)
            if c not in ("__lj", "__exk") and not _EX_MARK.match(c)
        )
        for c in extras:
            if c not in ldf.columns:
                ldf = ldf.withColumn(
                    c, F.lit(None).cast(rdf.schema[c].dataType)
                )
            elif c not in rdf.columns:
                rdf = rdf.withColumn(
                    c, F.lit(None).cast(ldf.schema[c].dataType)
                )
            if ldf.schema[c].dataType != rdf.schema[c].dataType:
                ldf = ldf.withColumn(c, F.col(c).cast("string"))
                rdf = rdf.withColumn(c, F.col(c).cast("string"))
        ldf = ldf.select(*cols, *extras)
        rdf = rdf.select(*cols, *extras)
        return BFrame(
            ldf.unionByName(rdf),
            dict(left.meta),
            left.maybe_null | right.maybe_null,
        )

    def project(self, variables: list[str]) -> "BFrame":
        out = self
        for v in variables:
            if v not in out.meta:
                out = out.ensure_var(v)
            out = out.materialize(v)
        return BFrame(
            out.df.select(*variables),
            {v: out.meta[v] for v in variables},
            out.maybe_null & set(variables),
        )


@dataclass
class HeldFrame(BFrame):
    """A BFrame whose rows are also held on the driver. When ``whole``,
    ``rows`` are all of them, collected once and re-entered as ``df``
    through ``data.local_frame`` (one partition), so key lists come
    from ``rows`` with no Spark job. Otherwise ``df`` is the lazy frame
    and ``rows`` only its first rows: they settle a key list that
    already overflows, and nothing else. Frames derived from it are
    plain BFrames; only the held frame itself carries rows."""

    rows: list = field(default_factory=list, repr=False)
    whole: bool = True
