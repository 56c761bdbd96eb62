"""Full SPARQL query → DataFrame compiler.

Replaces the reference's mediator pipeline (SURVEY.md §3.1): Decomposer
→ Planner → process-per-operator execution becomes decompose → per-star
DataFrame construction → Catalyst. The physical operator mapping:

- BGP join       → ``BFrame.join`` (Xgjoin/SymmetricHashJoin/XJoin)
- OPTIONAL       → left_outer join (Xgoptional/NestedHashOptional)
- UNION          → ``BFrame.union`` (Xunion)
- FILTER         → Column predicate (Xfilter)
- projection     → select (Xproject)
- DISTINCT       → dropDuplicates (Xdistinct)
- OFFSET/LIMIT   → offset/limit (Xoffset/Xlimit — Spark short-circuits
                   limits natively; no PID-killing needed)
- ORDER BY       → orderBy (the reference parses but silently DROPS
                   ordering, ``mediator/Planner.py:70-100`` — fixed here)
- ASK            → limit(1) count (Xask)
- CONSTRUCT      → per-template projection + union (Xconstruct)
- GROUP BY/aggs  → groupBy().agg() (beyond the reference entirely)

Join ordering: frames are combined greedily preferring var-sharing
pairs (reference: ``Tree.makeBushyTree:466-501``); the exact join
algorithm/order is then Catalyst + AQE's problem, which subsumes the
reference's selectivity heuristics (``Planner.py:102-259``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ontario_spark.catalog.model import Catalog
from ontario_spark.compiler.filters import (
    ExprCompiler,
    compile_aggregate,
    is_aggregate,
)
from ontario_spark.compiler.frame import (
    KEYED,
    LEXICAL,
    BFrame,
    HeldFrame,
    TermMeta,
    key_cols,
)
from ontario_spark.compiler.star import compile_star
from ontario_spark.data import local_frame
from ontario_spark.persist import pin
from ontario_spark.planner.decomposer import bgp_stars, prune_connected, select_sources
from ontario_spark.sparql.ast import (
    Bind,
    ExistsFilter,
    Expr,
    collect_exists_exprs,
    Filter,
    GraphBlock,
    Group,
    MinusBlock,
    NegatedPath,
    OptionalBlock,
    PathClosure,
    Query,
    ServiceBlock,
    SubSelect,
    Term,
    Triple,
    UnionBlock,
    ValuesBlock,
)
from ontario_spark.sparql.parser import parse


def _expr_vars(e) -> set[str]:
    """Variables referenced anywhere in an expression tree — delegates
    to the AST's own ``variables()`` and only adds the bare-Term
    top-level case (ORDER BY / projection items can be lone Terms)."""
    if isinstance(e, Term):
        return {e.value} if e.is_var else set()
    return e.variables() if isinstance(e, Expr) else set()


def _exists_ref_vars(expr) -> set[str]:
    """Variables REFERENCED by the blocks of expression-position
    EXISTS nodes inside ``expr`` — pattern vars at any depth plus
    filter/bind expression vars (recursively, nested EXISTS included).
    ``ExistsExpr.variables()`` is deliberately empty for expression
    scoping, so the OPTIONAL hoist decision reads this instead: an
    EXISTS block mentioning an OUTER variable correlates through the
    semi-join and must evaluate on the joined frame (review fix — the
    uncorrelated inner evaluation degraded it to a global probe)."""
    out: set[str] = set()

    def walk_block(g) -> None:
        out.update(_pattern_vars(g))

        def walk(el) -> None:
            if isinstance(el, (Filter, Bind)):
                out.update(_expr_vars(el.expr))
                for n in collect_exists_exprs(el.expr):
                    walk_block(n.block)
            elif isinstance(el, ExistsFilter):
                walk_block(el.block)
            elif isinstance(el, Group):
                for x in el.elements:
                    walk(x)
            elif isinstance(el, UnionBlock):
                for b in el.branches:
                    walk(b)
            elif isinstance(el, (OptionalBlock, MinusBlock, GraphBlock, ServiceBlock)):
                walk(el.block)

        for el in g.elements:
            walk(el)

    for n in collect_exists_exprs(expr):
        walk_block(n.block)
    return out


def _pattern_vars(el) -> set[str]:
    """Variables a group element can BIND (filters bind nothing;
    MINUS/EXISTS bindings don't extend to the enclosing scope)."""
    if isinstance(el, Triple):
        return el.variables()
    if isinstance(el, Bind):
        return {el.var}
    if isinstance(el, ValuesBlock):
        return set(el.variables)
    if isinstance(el, Group):
        out: set[str] = set()
        for x in el.elements:
            out |= _pattern_vars(x)
        return out
    if isinstance(el, UnionBlock):
        out = set()
        for b in el.branches:
            out |= _pattern_vars(b)
        return out
    if isinstance(el, OptionalBlock):
        return _pattern_vars(el.block)
    if isinstance(el, PathClosure):
        return _pattern_vars(el.step)
    if isinstance(el, SubSelect):
        sel = el.query.select
        if sel is None:
            return _pattern_vars(el.query.where)
        return {s.var for s in sel}
    if isinstance(el, NegatedPath):
        return {t.value for t in (el.s, el.o) if t.is_var}
    if isinstance(el, GraphBlock):
        out = _pattern_vars(el.block)
        if el.graph.is_var:
            out |= {el.graph.value}
        return out
    return set()


def _keep_allowed(plan, allowed, catalog) -> None:
    """Drop alternatives not answered entirely by ``allowed`` sources,
    via decomposer._keep so the parallel ``alt_groups`` (shape-group
    dedup scope) stays aligned — a raw list reassignment here would
    misalign compile_star's zip and dedup the WRONG branches (round-6
    review fix)."""
    from ontario_spark.planner.decomposer import _keep

    idx = [
        i
        for i, alt in enumerate(plan.alternatives)
        if all(catalog.map_source[tm.name] in allowed for tm in alt)
    ]
    _keep(plan, idx)


def _prune_by_hint(plan, hint: "BFrame") -> None:
    """Hint-template pruning (round 8): when a group hangs off an
    outer frame (OPTIONAL / MINUS / EXISTS / mark joins — the
    ``key_hint`` posture), a star whose SUBJECT variable is
    template-KEYED in that frame can only ever join outer rows through
    alternatives whose subject template shares the shape — a predicate
    several molecules offer otherwise fans out to EVERY source even
    though the join variable pins it to one (observed: the trisource
    suite's OPTIONAL ``?c ex:acctbal`` fetched the Supplier molecule
    through the Mongo wrapper for a Customer-keyed ``?c``). Skipped —
    unsound — when the hint var can be UNBOUND (§10.2 wildcard rows
    join ANY template) or is LEXICAL (arbitrary URIs); keeps
    non-template subjects (can't reason); falls back to the unpruned
    set when nothing would survive (recall over speed, the
    ``prune_connected`` posture — an all-pruned star still joins to
    nothing, but the empty-answer proof stays the join's job)."""
    from ontario_spark.compiler.frame import KEYED
    from ontario_spark.planner.decomposer import _keep

    s = plan.star.subject
    if not s.is_var or s.value not in hint.meta or s.value in hint.maybe_null:
        return
    m = hint.meta[s.value]
    if m.kind != KEYED:
        return
    # Round-9 ADVICE fix: the join path supports CROSS-shape matches
    # via lexical comparison (different skeletons can format equal
    # URIs — ``…/e/{k}`` with k='12' equals ``…/e/1{k}`` with k='2'),
    # so an alternative is pruned only when its skeleton PROVABLY
    # cannot overlap the hint's: the literal prefixes before each
    # skeleton's first key slot must diverge (neither a prefix of the
    # other — then no URI can match both). Same-shape templates are
    # prefix-equal and always survive.
    hp = m.template.shape_key().split("{}", 1)[0]

    def may_overlap(tpl) -> bool:
        ap = tpl.shape_key().split("{}", 1)[0]
        return ap.startswith(hp) or hp.startswith(ap)

    idx = [
        i
        for i, alt in enumerate(plan.alternatives)
        if alt[0].subject.kind != "template"
        or may_overlap(alt[0].subject.template)
    ]
    if idx and len(idx) < len(plan.alternatives):
        _keep(plan, idx)


def _plan_vars(plan) -> set[str]:
    """All variables a star plan can bind."""
    out: set[str] = set()
    if plan.star.subject.is_var:
        out.add(plan.star.subject.value)
    for t in plan.star.triples:
        out |= t.variables()
    return out


def _key_column(bf: BFrame, var: str) -> "tuple[str, str | None] | None":
    """The column of ``bf`` a bound-join key list for ``var`` reads,
    with its template shape (``None`` for lexical values), or ``None``
    when ``var`` cannot feed one: a var that may be unbound on the
    build side (``maybe_null``) joins its NULL rows as §10.2 wildcards
    against EVERY remote row, so pruning the fetch to the observed
    bound keys would silently drop those matches; multi-key templates
    have no single key column."""
    from ontario_spark.sources.translate import tpl_shape

    if var in bf.maybe_null:
        return None
    m = bf.meta[var]
    if m.kind == KEYED and m.nkeys == 1:
        return key_cols(var, 1)[0], tpl_shape(m.template.raw)
    if m.kind == LEXICAL:
        return var, None
    return None


def _service_key_source(variables: set[str], sources) -> int | None:
    """Index of the first of ``sources`` (sets of never-unbound
    variables, ``None`` for an absent source) that shares a variable
    with a SERVICE pattern binding ``variables``: its keys ship as the
    pattern's VALUES. A var that may be unbound joins its NULL rows as
    §10.2 wildcards against every remote binding, so batching only its
    bound keys would under-fetch."""
    for i, s in enumerate(sources):
        if s is not None and variables & s:
            return i
    return None


def _keys(build: BFrame, col: str, max_keys: int) -> list | None:
    """``build``'s key list for ``col`` under the one key rule
    (``pushdown.distinct_keys``): read from the driver rows of a held
    frame (a group's build side or the outer frame of an
    OPTIONAL/MINUS/EXISTS block, ``_hold_for_keys``), else computed by
    Spark (``observed_keys``, two jobs). The first rows of a frame too
    large to hold already answer when they hold more than ``max_keys``
    distinct keys: so does the whole."""
    from ontario_spark.sources.pushdown import distinct_keys, observed_keys

    if isinstance(build, HeldFrame):
        keys = distinct_keys((r[col] for r in build.rows), max_keys)
        if build.whole or keys is None:
            return keys
    return observed_keys(build.df, col, max_keys)


def _one_partition(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan is one partition (planned, not
    run)."""
    return (
        df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
        == 1
    )


def _join_fetched(bf: BFrame | None, fetched: BFrame, held: bool) -> BFrame:
    """``bf ⋈ fetched`` (just ``fetched`` without a build side). When
    the build side is driver-held and both sides are one partition, a
    ``shuffle_hash`` hint keeps the join inside the consumer's job with
    no exchange; Spark's default plan for two small local frames
    broadcasts one of them in a job of its own. With a multi-partition
    side the hint would shuffle both, so that join keeps the default."""
    if bf is None:
        return fetched
    if held and _one_partition(bf.df) and _one_partition(fetched.df):
        bf = BFrame(bf.df.hint("shuffle_hash"), bf.meta, bf.maybe_null)
    return bf.join(fetched, "inner")


class QueryCompileError(Exception):
    pass


class SparqlEngine:
    """Entry point: ``SparqlEngine(spark, catalog).query(text)``."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        service_executors: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        # SERVICE endpoint URL → callable(query_text) -> iterable of
        # binding dicts; endpoints not listed here go over HTTP
        self.service_executors = service_executors or {}
        # dataset state for the query being compiled (§13.2): FROM
        # sources restricting the default graph, FROM NAMED sources
        # restricting what GRAPH ranges over. None → unrestricted.
        # Set per top-level query(); subqueries inherit (spec: one
        # dataset per query). THREAD-LOCAL because the HTTP server
        # compiles from one thread per request — compilation can run
        # Spark jobs (bound-join key collection), so a lock here would
        # serialize whole queries, not milliseconds.
        import threading

        self._tls = threading.local()

    @property
    def _dataset_default(self) -> set | None:
        return getattr(self._tls, "dataset_default", None)

    @_dataset_default.setter
    def _dataset_default(self, v) -> None:
        self._tls.dataset_default = v

    @property
    def _dataset_named(self) -> set | None:
        return getattr(self._tls, "dataset_named", None)

    @_dataset_named.setter
    def _dataset_named(self, v) -> None:
        self._tls.dataset_named = v

    def explain(self, text: str) -> str:
        """Two-level plan report: the FEDERATION level (stars, the
        source branches each compiles to, shape-group dedup scopes —
        what the reference prints as its bushy tree) followed by the
        Spark physical plan of the compiled query. Observability only;
        the compiled plan is the same object ``query(text)`` returns.
        Nested blocks (OPTIONAL/UNION/MINUS/EXISTS/GRAPH/SERVICE/
        subqueries) are summarized by kind at their position; their
        inner stars go through the identical selection machinery at
        compile time."""
        q = parse(text)
        lines = [
            "== Federation plan (source selection, pre-pruning; "
            "MT-connectivity pruning, GRAPH/FROM dataset scoping, and "
            "bound-join ordering apply at compile) =="
        ]

        def walk(group, depth: int) -> None:
            pad = "  " * depth
            triples = [
                e
                for e in group.elements
                if type(e).__name__ == "Triple" and e.p.is_iri
            ]
            if triples:
                for star in bgp_stars(triples):
                    plan = select_sources(self.catalog, star)
                    subj = (
                        f"?{star.subject.value}"
                        if star.subject.is_var
                        else f"<{star.subject.value}>"
                    )
                    status = (
                        " — UNANSWERED (no source covers this star)"
                        if not plan.alternatives
                        else ""
                    )
                    lines.append(
                        f"{pad}star {subj}: {len(star.triples)} triple(s)"
                        f" → {len(plan.alternatives)} source branch(es)"
                        f"{status}"
                    )
                    groups = plan.alt_groups or list(
                        range(len(plan.alternatives))
                    )
                    for alt, g in zip(plan.alternatives, groups):
                        maps = ", ".join(
                            f"{tm.name}"
                            f"[{self.catalog.source_of(tm).dstype}]"
                            for tm in alt
                        )
                        dedup = (
                            " (set-dedup with group siblings)"
                            if groups.count(g) > 1
                            else ""
                        )
                        lines.append(f"{pad}  shape-group {g}: {maps}{dedup}")
            for e in group.elements:
                kind = type(e).__name__
                if kind == "Group":
                    walk(e, depth + 1)
                elif kind == "UnionBlock":
                    lines.append("  " * depth + "UNION:")
                    for b in e.branches:
                        walk(b, depth + 1)
                elif kind in (
                    "OptionalBlock",
                    "MinusBlock",
                    "ExistsFilter",
                    "GraphBlock",
                    "ServiceBlock",
                ):
                    inner = getattr(e, "block", None)
                    tag = kind
                    if kind == "GraphBlock":
                        g = e.graph
                        tag += (
                            f" ?{g.value}" if g.is_var else f" <{g.value}>"
                        ) + " (branches shown pre-scoping; the compiler"
                        " restricts them to the graph's source)"
                    elif kind == "ServiceBlock":
                        tag += f" <{e.endpoint}>"
                    lines.append("  " * depth + f"{tag}:")
                    if inner is not None and hasattr(inner, "elements"):
                        walk(inner, depth + 1)
                elif kind == "SubSelect":
                    lines.append("  " * depth + "SubSelect { ... }")

        walk(q.where, 1)
        lines.append("")
        lines.append("== Spark physical plan ==")
        try:
            df = self.query(text)
        except Exception as exc:
            # an unanswerable/uncompilable query is exactly when the
            # federation report above matters — keep it and report the
            # compile failure instead of propagating (round-6 review
            # fix: the report was built then thrown away)
            lines.append(f"<query does not compile: {exc}>")
            return "\n".join(lines)
        lines.append(df._jdf.queryExecution().executedPlan().toString())
        return "\n".join(lines)

    def query(
        self,
        text: str,
        default_graph_uris: "list[str] | None" = None,
        named_graph_uris: "list[str] | None" = None,
    ) -> DataFrame:
        """Compile one query. The optional graph-URI lists are the
        SPARQL Protocol's ``default-graph-uri`` / ``named-graph-uri``
        request parameters — when either is present they OVERRIDE the
        query's own FROM / FROM NAMED clauses (Protocol §2.1.4), by
        substituting the parsed dataset clause before compilation."""
        self._dataset_default = None
        self._dataset_named = None
        q = parse(text)
        if default_graph_uris or named_graph_uris:
            q.from_graphs = list(default_graph_uris or [])
            q.from_named = list(named_graph_uris or [])
        return self.compile(q)

    def compile(self, q: Query) -> DataFrame:
        if q.from_graphs:
            self._dataset_default = {
                n
                for n in (self._graph_source(i) for i in q.from_graphs)
                if n is not None
            }
            if self._dataset_named is None:
                # FROM without FROM NAMED: the dataset has NO named
                # graphs — GRAPH matches nothing (§13.2)
                self._dataset_named = set()
        if q.from_named:
            self._dataset_named = {
                n
                for n in (self._graph_source(i) for i in q.from_named)
                if n is not None
            }
            if not q.from_graphs and self._dataset_default is None:
                # FROM NAMED without FROM: the default graph is EMPTY
                # (§13.2) — only GRAPH-scoped patterns can match
                self._dataset_default = set()
        _, bf = self._group_over(
            q.where,
            # trailing-VALUES bound-join feed (round-9, lifting the
            # parser's documented trade for never-UNDEF columns): the
            # clause still JOINS after the finished pattern, but its
            # keys additionally prune top-level remote-star / SERVICE
            # fetches as the group's outer frame — pure transfer
            # reduction, never a result change
            self._values_pushdown_hint(q.values_clause),
            source_filter=self._dataset_default,
        )
        if q.query_type != "select" and q.values_clause is not None:
            # trailing VALUES joins the FINISHED pattern for ASK /
            # CONSTRUCT / DESCRIBE too (§18.2.4.3 — after the whole
            # WHERE group, so OPTIONAL-bound variables are not
            # force-bound; SELECT handles it inside _select where the
            # aggregate ordering also matters). Round-8 ADVICE fix.
            bf = self._join_values(bf, q.values_clause)
        if q.query_type == "ask":
            probe = bf.df.limit(1).select(F.lit(1).alias("__x"))
            return probe.agg((F.count("__x") > 0).alias("ask"))
        if q.query_type == "construct":
            return self._construct(q, bf)
        if q.query_type == "describe":
            return self._describe(q, bf)
        return self._select(q, bf)

    # --- graph pattern assembly ----------------------------------------

    def _var_pred_frame(
        self, t: Triple, source_filter: "str | set | None" = None
    ) -> BFrame:
        """Triple with a VARIABLE predicate (``?s ?p ?o`` browsing):
        expand over the catalog's predicate universe + rdf:type.
        Beyond the reference: its decomposer source-selects only on
        constant predicates and its SQL wrappers cannot translate a
        variable predicate at all.

        Fast path (round 4): when subject and object are variables and
        every map is a plain local table, each source table is scanned
        ONCE and its predicate columns unpivot via ``stack`` into
        (s, p, o) rows — one FileScan per map instead of one per
        catalog predicate (a wide catalog previously multiplied scans
        of the same table). Remote/nested/constant-term shapes fall
        back to one normally-compiled branch per predicate, unioned.
        Either way, bounded by catalog metadata, not data."""
        from ontario_spark.compiler.star import StarCompileError
        from ontario_spark.planner.decomposer import SourceSelectionError
        from ontario_spark.sparql.parser import RDF_TYPE as _RT

        pvar = t.p.value
        allowed = (
            {source_filter}
            if isinstance(source_filter, str)
            else source_filter
        )
        if (
            t.s.is_var
            and t.o.is_var
            and len({t.s.value, pvar, t.o.value}) == 3
        ):
            # repeated-variable patterns (?x ?p ?x, ?p ?p ?o) must use
            # the per-predicate branches: the unpivot would alias two
            # output columns to one name and lose the implied equality
            fast = self._var_pred_unpivot(
                t.s.value, pvar, t.o.value, _RT, allowed
            )
            if fast is not None:
                return fast
        branches: list[BFrame] = []
        for pred in sorted(self.catalog.predicate_index) + [_RT]:
            one = Triple(t.s, Term("iri", pred), t.o)
            try:
                for star in bgp_stars([one]):
                    plan = select_sources(self.catalog, star)
                    if allowed is not None:
                        _keep_allowed(plan, allowed, self.catalog)
                        if not plan.alternatives:
                            continue  # predicate outside the dataset
                    bf = compile_star(self.spark, self.catalog, plan)
                    if pvar in bf.meta:
                        # ?p shares a name with the subject/object var:
                        # the predicate IRI must EQUAL that term's
                        # lexical form — filter instead of re-binding
                        branches.append(
                            BFrame(
                                bf.df.filter(
                                    bf.lexical_expr(pvar).cast("string")
                                    == F.lit(pred)
                                ),
                                bf.meta,
                            )
                        )
                    else:
                        branches.append(
                            BFrame(
                                bf.df.withColumn(pvar, F.lit(pred)),
                                {**bf.meta, pvar: TermMeta(LEXICAL)},
                            )
                        )
            except (SourceSelectionError, StarCompileError):
                continue  # predicate inapplicable to this term shape
        if not branches:
            if allowed is not None:
                # a graph-scoped browse over a member with no matching
                # maps is an empty answer, not an error
                return self._empty_group_frame(Group([t]))
            raise QueryCompileError(
                f"variable predicate ?{pvar}: no applicable predicates"
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.union(b)
        return out

    def _var_pred_unpivot(
        self,
        svar: str,
        pvar: str,
        ovar: str,
        rdf_type: str,
        allowed: set | None = None,
    ) -> BFrame | None:
        """One-scan-per-map ``?s ?p ?o`` expansion: unpivot each local
        map's predicate columns with ``stack`` (subject URI formatted
        from its template, objects cast to their lexical strings,
        rdf:type appended as a constant pair). Returns None — caller
        falls back to per-predicate compilation — if any map needs the
        remote/nested machinery (the fallback handles ALL maps then, so
        the two paths never split one answer)."""
        from ontario_spark.catalog.model import (
            CONSTANT,
            REFERENCE,
            TEMPLATE,
        )

        def nested(path: str) -> bool:
            return "/" in path or "[*]" in path

        maps = [
            tm
            for tm in self.catalog.triple_maps.values()
            if allowed is None or self.catalog.map_source[tm.name] in allowed
        ]
        if not maps:
            return None
        for tm in maps:
            src = self.catalog.source_of(tm)
            if src.dstype in self.catalog.REMOTE_TYPES or (
                tm.source.fmt or src.dstype
            ) == "rest":
                return None
            if tm.source.iterator:
                return None
            if tm.subject.kind == CONSTANT or any(
                nested(c) for c in tm.subject.columns
            ):
                return None
            for _, om in tm.predicates:
                if om.kind != CONSTANT and any(nested(c) for c in om.columns):
                    return None

        frames = []
        for tm in maps:
            df = self.catalog.load_source_df(self.spark, tm)
            if tm.subject.kind == TEMPLATE:
                subj = tm.subject.template.format(col=F.col)
            else:
                subj = F.col(tm.subject.value).cast("string")
            pairs: list[Column] = []
            for pred, om in tm.predicates:
                if om.kind == REFERENCE:
                    obj = F.col(om.value).cast("string")
                elif om.kind == TEMPLATE:
                    obj = om.template.format(col=F.col)
                else:
                    obj = F.lit(om.value)
                pairs += [F.lit(pred), obj]
            if tm.subject_class:
                pairs += [F.lit(rdf_type), F.lit(tm.subject_class)]
            if not pairs:
                continue
            frames.append(
                df.select(
                    subj.alias(svar),
                    F.stack(F.lit(len(pairs) // 2), *pairs).alias(pvar, ovar),
                ).filter(F.col(svar).isNotNull() & F.col(ovar).isNotNull())
            )
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        meta = {v: TermMeta(LEXICAL) for v in (svar, pvar, ovar)}
        return BFrame(out, meta)

    def _optional(
        self,
        bf: BFrame,
        e: OptionalBlock,
        source_filter: "str | set | None" = None,
    ) -> BFrame:
        """OPTIONAL = SPARQL LeftJoin(Ω1, Ω2, expr) (§8.3). Filters
        inside the block referencing only INNER variables stay inside
        (the standard Filter-pushdown equivalence); filters that also
        reference OUTER variables are the LeftJoin CONDITION — they
        can't compile inside the block (out of scope) and can't post-
        filter a left_outer join (a left row whose every match fails
        the condition must survive with the optional side unbound, not
        disappear). For those, compute the inner join, filter it, and
        union back the left rows with NO surviving match — identified
        by a row id frozen by pinning (monotonically_increasing_id is
        only stable across the two branches after materialization).
        Either way the block hangs off ``bf`` through ``_group_over``:
        when a remote star or SERVICE block in it reads its key list
        from ``bf``, ``bf`` is held once and that held frame is also
        the left side of the join, so the outer plan runs once."""
        bound = set()
        for el in e.block.elements:
            bound |= _pattern_vars(el)

        def _hoists(el) -> bool:
            if not isinstance(el, Filter):
                return False
            if not (el.expr.variables() <= bound):
                return True
            # an expression-position EXISTS correlates via its block's
            # referenced vars: if the block mentions an OUTER-frame var
            # the optional block does not bind, the filter is part of
            # the LeftJoin condition (vars in NEITHER frame are
            # EXISTS-local and force nothing)
            return bool(
                (_exists_ref_vars(el.expr) & bf.variables) - bound
            )

        hoist = [el for el in e.block.elements if _hoists(el)]
        if not hoist:
            bf, right = self._group_over(e.block, bf, source_filter)
            return bf.join(right, "left_outer")

        rest = Group(
            [el for el in e.block.elements if not any(el is h for h in hoist)]
        )
        pinned = BFrame(
            pin(
                bf.df.withColumn("__lj", F.monotonically_increasing_id()),
                truncate=True,
            ),
            bf.meta,
            bf.maybe_null,
        )
        # the block hangs off the pinned frame: the pin runs bf once,
        # and a hold for key lists then reads the pinned rows
        pinned, right = self._group_over(rest, pinned, source_filter)
        joined = pinned.join(right, "inner")
        for f in hoist:
            # exists-aware: the LeftJoin condition may itself contain
            # [NOT] EXISTS (evaluated under μ1 ∪ μ2 — the joined frame)
            joined = self._filter_exists_aware(
                joined, f.expr, source_filter=source_filter
            )
        bare = BFrame(
            pinned.df.join(
                joined.df.select("__lj").distinct(), "__lj", "left_anti"
            ),
            pinned.meta,
            pinned.maybe_null,
        )
        # union drops the __lj pin explicitly (frame.py excludes it
        # from the surviving extras — both legs carry it, and keeping
        # it made later joins of two hoisted frames ambiguous); bare
        # rows pad the optional-side variables with NULL (unbound)
        return joined.union(bare)

    GRAPH_PREFIX = "urn:graph:"

    def _graph_source(self, iri: str) -> str | None:
        """Resolve a graph IRI to a catalog source name (each federation
        member is a named graph): ``urn:graph:<source>`` or the bare
        source name; unknown graphs → None (empty pattern)."""
        name = (
            iri[len(self.GRAPH_PREFIX):]
            if iri.startswith(self.GRAPH_PREFIX)
            else iri
        )
        return name if name in self.catalog.sources else None

    def _empty_group_frame(self, g: Group) -> BFrame:
        """Zero rows with the group's bindable variables as (unbound)
        lexical columns — the result of a pattern scoped to a graph
        that cannot answer it."""
        vars_ = sorted(_pattern_vars(g))
        df = self.spark.range(0).select(
            *[F.lit(None).cast("string").alias(v) for v in vars_]
        )
        return BFrame(df, {v: TermMeta(LEXICAL) for v in vars_})

    def _graph_block(self, e: GraphBlock) -> BFrame:
        named = (
            self._dataset_named
            if self._dataset_named is not None
            else set(self.catalog.sources)
        )
        if e.graph.is_iri:
            name = self._graph_source(e.graph.value)
            if name is None or name not in named:
                return self._empty_group_frame(e.block)
            return self._group(e.block, source_filter=name)
        # variable graph: the pattern evaluates once per source, the
        # variable binds to that source's graph IRI, branches union.
        # Sources that statically cannot answer the pattern contribute
        # the (plan-time) empty frame — no wasted scans.
        var = e.graph.value
        branches: list[BFrame] = []
        for name in sorted(named):
            f = self._group(e.block, source_filter=name)
            iri = self.GRAPH_PREFIX + name
            if var in f.meta:
                # SPARQL 1.1 §13.3: ?g reused inside the block — the
                # branch is eval(P, g) ⋈ {?g → g}: a solution binding
                # the inner ?g to anything but the active graph's IRI
                # drops; an unbound inner ?g (OPTIONAL) takes the IRI.
                f = f.materialize(var)
                fdf = f.df.filter(
                    F.col(var).isNull() | (F.col(var) == F.lit(iri))
                ).withColumn(var, F.lit(iri))
                # ?g is rebound to the (never-null) graph IRI here
                branches.append(BFrame(fdf, f.meta, f.maybe_null - {var}))
            else:
                branches.append(
                    BFrame(
                        f.df.withColumn(var, F.lit(iri)),
                        {**f.meta, var: TermMeta(LEXICAL)},
                        f.maybe_null,
                    )
                )
        if not branches:  # dataset with no named graphs
            empty = self._empty_group_frame(e.block)
            return BFrame(
                empty.df.withColumn(var, F.lit(None).cast("string")),
                {**empty.meta, var: TermMeta(LEXICAL)},
            )
        u = branches[0]
        for b in branches[1:]:
            u = u.union(b)
        return u

    def _values_pushdown_hint(self, vb: "ValuesBlock | None") -> "HeldFrame | None":
        """Trailing-VALUES columns with NO UNDEF cell, as a held
        all-lexical frame that ``compile`` passes to the top-level
        group as its outer frame (``_group_over``'s ``key_hint``), so
        its values feed remote bound-join pushdown
        (``_bound_key_conds`` / SERVICE VALUES batches). Being whole
        and lexical, it prunes no source alternative
        (``_prune_by_hint``) and holds with no job (``_hold``).

        Safety: a never-UNDEF column equi-joins the finished pattern,
        so any top-level row whose var binds OUTSIDE the value list is
        dropped by the trailing join anyway — pre-pruning the remote
        fetch to the list removes only those rows. UNDEF-bearing
        columns are wildcards (§10.2) and are EXCLUDED here, the same
        guard ``_bound_key_conds`` applies via ``maybe_null``. The
        hint feeds ONLY the top-level group: inside OPTIONAL/MINUS a
        dropped fetch row changes padding/removal semantics."""
        if vb is None:
            return None
        keep = [
            i
            for i, _ in enumerate(vb.variables)
            if all(row[i] is not None for row in vb.rows)
        ]
        if not keep:
            return None
        block = ValuesBlock(
            variables=[vb.variables[i] for i in keep],
            rows=[tuple(row[i] for i in keep) for row in vb.rows],
        )
        return self._values(block)

    def _group(
        self, g: Group, source_filter: "str | set | None" = None
    ) -> BFrame:
        return self._group_over(g, None, source_filter)[1]

    def _group_over(
        self,
        g: Group,
        key_hint: BFrame | None,
        source_filter: "str | set | None" = None,
    ) -> tuple[BFrame | None, BFrame]:
        """``g`` compiled, hanging off the outer frame ``key_hint`` when
        it has one (OPTIONAL, MINUS, [NOT] EXISTS, or the top-level
        group's trailing-VALUES hint): rows of a remote
        star or SERVICE block that cannot match the outer keys cannot
        affect the result, so the outer frame feeds their key lists.
        Returns ``(key_hint, frame)``. Like the group's own build side,
        the outer frame comes back held (``_hold_for_keys``) when one of
        those key lists reads it, Ontario's NestedHashOptionalFilter
        posture: the caller joins the held frame, so the outer plan runs
        once, not once for the keys and again for the join. A block
        with no remote key list hands it back unchanged."""
        triples = [e for e in g.elements if isinstance(e, Triple)]
        var_pred = [t for t in triples if t.p.is_var]
        triples = [t for t in triples if not t.p.is_var]
        frames: list[BFrame] = [
            self._var_pred_frame(t, source_filter) for t in var_pred
        ]
        deferred_values: list[ValuesBlock] = []  # UNDEF-bearing blocks
        # Sargable FILTER conjuncts push into remote-source stars
        # (reference wrappers compile FILTERs to source SQL;
        # sparqltosql.py:585-634). The same FILTERs still run
        # Spark-side below — pushdown only prunes at the source.
        from ontario_spark.sources.translate import extract_remote_conds

        remote_conds = extract_remote_conds(
            [e.expr for e in g.elements if isinstance(e, Filter)]
        )
        plans = [
            select_sources(self.catalog, star) for star in bgp_stars(triples)
        ]
        pruned = prune_connected(plans)
        if key_hint is not None:
            for plan in pruned:
                _prune_by_hint(plan, key_hint)
        if source_filter is not None:
            # GRAPH / FROM scoping: only alternatives answered entirely
            # by the allowed source(s) survive (each federation member
            # is a named graph; FROM merges several into the default
            # graph); a star no allowed source answers empties the
            # group.
            allowed = (
                {source_filter}
                if isinstance(source_filter, str)
                else source_filter
            )
            for plan in pruned:
                _keep_allowed(plan, allowed, self.catalog)
            if any(not p.alternatives for p in pruned):
                return key_hint, self._empty_group_frame(g)
        # Wrapper-source stars compile AFTER the local frames are
        # joined (below), so observed join keys push down as IN-lists —
        # NestedHashJoinFilter posture for SQL/Mongo/Cypher sources,
        # matching what SERVICE already does with VALUES. Both groups
        # compile in COST-RANKED order (round-5, reference Tree.py
        # leaf sort): the most selective local star anchors
        # _join_greedy, and among several remote stars the most
        # selective one fetches first so later remote fetches receive
        # IN-lists bounded by its (smaller) results.
        remote_star_plans = sorted(
            (p for p in pruned if self._is_remote_plan(p)),
            key=self._star_rank,
        )
        for plan in sorted(
            (p for p in pruned if not self._is_remote_plan(p)),
            key=self._star_rank,
        ):
            frames.append(
                compile_star(self.spark, self.catalog, plan, remote_conds)
            )
        for e in g.elements:
            if isinstance(e, Group):
                frames.append(self._group(e, source_filter=source_filter))
            elif isinstance(e, UnionBlock):
                branches = [
                    self._group(b, source_filter=source_filter)
                    for b in e.branches
                ]
                u = branches[0]
                for b in branches[1:]:
                    u = u.union(b)
                frames.append(u)
            elif isinstance(e, ValuesBlock):
                if any(t is None for row in e.rows for t in row):
                    # UNDEF cells are JOIN wildcards (§10.2) — the
                    # NULL-encoded frame would equi-join them to
                    # nothing, so defer to the UNDEF-aware
                    # _join_values after the greedy join (join is
                    # commutative across the group's inner frames)
                    deferred_values.append(e)
                else:
                    frames.append(self._values(e))
            elif isinstance(e, GraphBlock):
                frames.append(self._graph_block(e))
            elif isinstance(e, PathClosure):
                frames.append(self._closure(e, source_filter=source_filter))
            elif isinstance(e, NegatedPath):
                frames.append(
                    self._negated_path(e, plans, source_filter=source_filter)
                )
            elif isinstance(e, SubSelect):
                # nested SELECT compiles through the full pipeline and
                # joins into the group on its projected variables;
                # projection already materialized everything lexical.
                # The enclosing scope (GRAPH source / FROM set) becomes
                # the nested query's dataset default, saved/restored so
                # a subquery's own FROM can't leak back out.
                saved_d, saved_n = self._dataset_default, self._dataset_named
                if source_filter is not None:
                    self._dataset_default = (
                        {source_filter}
                        if isinstance(source_filter, str)
                        else source_filter
                    )
                try:
                    sdf = self.compile(e.query)
                finally:
                    self._dataset_default = saved_d
                    self._dataset_named = saved_n
                frames.append(
                    BFrame(
                        sdf,
                        {c: TermMeta(LEXICAL) for c in sdf.columns},
                        # compile() records which projected vars can be
                        # unbound (OPTIONAL-only vars a subquery head
                        # projects stay unbound in its solutions)
                        getattr(self, "_last_select_flags", frozenset())
                        & set(sdf.columns),
                    )
                )

        # SERVICE blocks compile AFTER the local frames are joined, so
        # observed join keys can push down as VALUES (bound join — the
        # reference's NestedHashJoinFilter posture, SURVEY.md §2.1)
        services = [e for e in g.elements if isinstance(e, ServiceBlock)]
        star_vars = set().union(*map(_plan_vars, remote_star_plans))
        svc_vars = set().union(*(_pattern_vars(sb.block) for sb in services))
        bf = self._join_greedy(frames) if frames else None
        held: HeldFrame | None = None
        if bf is not None and (remote_star_plans or services):
            # Apply already-answerable FILTERs to the build side BEFORE
            # bound-join key collection, so the observed key set is the
            # filtered one (reference: the bound join probes with the
            # filtered build side). The group-final filter pass below
            # re-applies them — semantically idempotent.
            early = bf.variables - bf.maybe_null
            for e in g.elements:
                if isinstance(e, Filter) and isinstance(e.expr, Expr):
                    # EXISTS-bearing filters wait for the final pass:
                    # early application exists to cut remote transfer,
                    # and a mark computation here would just run twice.
                    # So does a filter over a var the build side may
                    # leave unbound: a remote star, SERVICE block or
                    # OPTIONAL below can still bind it (a wildcard row
                    # joins every remote binding)
                    if e.expr.variables() <= early and not (
                        collect_exists_exprs(e.expr)
                    ):
                        try:
                            vc = self._compiler(bf)
                            bf = BFrame(
                                bf.df.filter(vc.boolean(e.expr)),
                                bf.meta,
                                bf.maybe_null,
                            )
                        except Exception:
                            pass  # applied in the final filter pass
            bf = self._hold_for_keys(bf, star_vars, svc_vars)
            if isinstance(bf, HeldFrame):
                held = bf
        if key_hint is not None:
            # the outer frame feeds every remote star's key list it can,
            # but a SERVICE block's only when no earlier source (this
            # group's frame, its remote stars, an earlier SERVICE)
            # shares a var with it: _service's order, so a frame no key
            # list reads is not held
            bound = set(star_vars)
            if bf is not None:
                bound |= bf.variables - bf.maybe_null
            outer = key_hint.variables - key_hint.maybe_null
            outer_svc: set[str] = set()
            for sb in services:
                pv = _pattern_vars(sb.block)
                if _service_key_source(pv, (bound, outer)) == 1:
                    outer_svc |= pv
                bound |= pv
            key_hint = self._hold_for_keys(key_hint, star_vars, outer_svc)
        for plan in remote_star_plans:
            conds = {v: list(cs) for v, cs in remote_conds.items()}
            # bound-join key sources: the held build side for the vars
            # it binds (a superset of the keys the joined frame has
            # left — pushdown only narrows transfer), this group's
            # joined frame for the rest, and the OUTER frame when this
            # group hangs off one (``key_hint``, held above when a key
            # list reads it)
            pvars = _plan_vars(plan)
            held_vars = held.variables if held is not None else set()
            for build, svars in (
                (held, pvars),
                (bf, pvars - held_vars),
                (key_hint, pvars),
            ):
                if build is None or not svars & build.variables:
                    continue
                for v, cs in self._bound_key_conds(build, svars).items():
                    conds.setdefault(v, []).extend(cs)
            f = compile_star(self.spark, self.catalog, plan, conds)
            bf = _join_fetched(bf, f, held is not None and held.whole)
        for sb in services:
            svc = self._service(sb, (held, bf, key_hint))
            bf = _join_fetched(bf, svc, held is not None and held.whole)
        # UNDEF-bearing VALUES join AFTER the remote-star/SERVICE
        # frames (round-8 review fix: joining the NULL-encoded frame
        # first both equi-joined the wildcard rows to nothing AND let
        # _bound_key_conds push only the BOUND values as the remote
        # IN-list, pruning rows the wildcard needed — deferring trades
        # that pushdown away for correctness, the same trade trailing
        # VALUES documents). Since _bound_key_conds gained its
        # maybe_null guard the pruning half can't recur, but deferring
        # stays: the inline path exists to FEED the pushdown, which a
        # flagged var forgoes either way.
        for e in deferred_values:
            bf = self._join_values(bf, e)
        if bf is None:
            bf = BFrame(self.spark.range(1).select(), {})

        # OPTIONAL / MINUS / BIND apply in DOCUMENT order (round-5
        # review fix: a BIND preceding an OPTIONAL is in scope for it —
        # SPARQL §18.2's left-to-right group translation; running all
        # OPTIONALs first broke { BIND(..) OPTIONAL { .. FILTER(?bound
        # var) } }). FILTER and FILTER (NOT) EXISTS are *filters* and
        # apply over the FINISHED group (§18.2.2.2), so they move to
        # the final pass regardless of textual position.
        for e in g.elements:
            if isinstance(e, OptionalBlock):
                bf = self._optional(bf, e, source_filter=source_filter)
            elif isinstance(e, MinusBlock):
                bf, other = self._group_over(e.block, bf, source_filter)
                if other.variables & bf.variables:
                    # minus=True: a solution pair with no var bound on
                    # BOTH sides is dom-disjoint and removes nothing
                    # (§8.3.3) — distinct from NOT EXISTS below
                    bf = bf.restrict(other, "left_anti", minus=True)
                # disjoint domains → MINUS removes nothing (SPARQL §8.3)
            elif isinstance(e, Bind):
                bf = self._apply_bind(bf, e, source_filter=source_filter)
        for e in g.elements:
            if isinstance(e, Filter):
                bf = self._filter_exists_aware(
                    bf, e.expr, source_filter=source_filter
                )
            elif isinstance(e, ExistsFilter):
                bf, inner = self._group_over(e.block, bf, source_filter)
                bf = bf.restrict(
                    inner, "left_anti" if e.negated else "left_semi"
                )
        return key_hint, bf

    def _apply_bind(
        self,
        bf: BFrame,
        e: Bind,
        source_filter: "str | set | None" = None,
    ) -> BFrame:
        nodes = collect_exists_exprs(e.expr)
        drop: list[str] = []
        if nodes:  # BIND(EXISTS { ... } AS ?flag) — §17.4.1.4
            bf, cols = self._mark_exists(bf, nodes, source_filter)
            vc = self._compiler(bf, exists_cols=cols)
            drop = ["__exk", *cols.values()]
        else:
            vc = self._compiler(bf)
        df = bf.df.withColumn(e.var, vc.value(e.expr))
        if drop:
            df = df.drop(*drop)
        # STRDT/STRLANG construct TYPED/TAGGED literals: the value
        # column carries the (native) lexical form; the datatype IRI /
        # language tag ride the same __type/__lang/__dt side columns
        # SERVICE results use, so LANG()/DATATYPE() downstream answer
        # from them.
        inner = e.expr
        while isinstance(inner, Expr) and inner.op == "ident":
            inner = inner.args[0]
        if isinstance(inner, Expr) and inner.op in ("strdt", "strlang"):
            from ontario_spark.compiler.filters import unwrap_const

            second = unwrap_const(inner.args[1])
            is_dt = inner.op == "strdt"
            df = (
                df.withColumn(f"{e.var}__type", F.lit("literal"))
                .withColumn(
                    f"{e.var}__lang",
                    F.lit(None).cast("string")
                    if is_dt
                    else F.lit(second.value.lower()),
                )
                .withColumn(
                    f"{e.var}__dt",
                    F.lit(second.value)
                    if is_dt
                    else F.lit(None).cast("string"),
                )
            )
        # the bound expression can evaluate to NULL (SPARQL: an
        # erroring/unbound-input expression leaves the var UNBOUND), so
        # the var joins with compatibility semantics downstream
        return BFrame(
            df,
            {**bf.meta, e.var: TermMeta(LEXICAL)},
            bf.maybe_null | {e.var},
        )

    def _closure(
        self,
        pc: PathClosure,
        source_filter: "str | set | None" = None,
    ) -> BFrame:
        """Transitive path ``p+``/``p*``: compile the single-step
        pattern as an ordinary group (so all source-selection and
        template machinery applies), project it to a lexical edge
        relation, and iterate to a fixpoint (operators/graph.py).
        Lexical (not keyed) endpoints are deliberate: closure hops
        cross template domains (customer→nation→region), so there is no
        single key shape to join on."""
        from ontario_spark.operators.graph import transitive_closure

        step = self._group(pc.step, source_filter=source_filter)
        step = step.materialize(pc.src_var).materialize(pc.dst_var)
        edges = step.df.select(
            F.col(pc.src_var).alias("src"), F.col(pc.dst_var).alias("dst")
        )
        if pc.max_len == 1:
            # p? — zero-or-one: identity ∪ single step, no iteration
            pairs = edges.distinct()
            if pc.min_len == 0:
                nodes = (
                    edges.select(F.col("src").alias("n"))
                    .union(edges.select(F.col("dst").alias("n")))
                    .distinct()
                )
                pairs = pairs.union(
                    nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
                ).distinct()
        else:
            pairs = transitive_closure(
                edges, include_identity=(pc.min_len == 0)
            )

        def lex(t: Term) -> str:
            return t.value

        s, o = pc.s, pc.o
        if s.is_var and o.is_var:
            if s.value == o.value:
                df = pairs.filter(F.col("src") == F.col("dst")).select(
                    F.col("src").alias(s.value)
                )
                return BFrame(df, {s.value: TermMeta(LEXICAL)})
            df = pairs.select(
                F.col("src").alias(s.value), F.col("dst").alias(o.value)
            )
            return BFrame(
                df, {s.value: TermMeta(LEXICAL), o.value: TermMeta(LEXICAL)}
            )
        if s.is_var:
            df = pairs.filter(F.col("dst") == F.lit(lex(o))).select(
                F.col("src").alias(s.value)
            )
            return BFrame(df, {s.value: TermMeta(LEXICAL)})
        if o.is_var:
            df = pairs.filter(F.col("src") == F.lit(lex(s))).select(
                F.col("dst").alias(o.value)
            )
            return BFrame(df, {o.value: TermMeta(LEXICAL)})
        probe = (
            pairs.filter(
                (F.col("src") == F.lit(lex(s))) & (F.col("dst") == F.lit(lex(o)))
            )
            .limit(1)
            .select()
        )
        return BFrame(probe, {})

    def _service(
        self,
        sb: ServiceBlock,
        key_sources: "tuple[BFrame | None, ...]",
    ) -> BFrame:
        """SERVICE <endpoint> { pattern }: ship the pattern as SPARQL
        text (the reference's mediator↔wrapper contract — SPARQL in,
        bindings out; ``Tree.getInfoIO:219-257``), pull bindings back
        (LIMIT/OFFSET-paged HTTP unless an executor is injected via
        ``service_executors``), and hand the rest of the group an
        all-lexical frame to join. FILTERs inside the block are applied
        locally post-fetch (equivalent, and robust to endpoints with
        partial FILTER support). SILENT → endpoint failure yields an
        empty frame instead of an error.

        Bound-join pushdown: when a key source (the group's held build
        side, its joined local frame, or the outer frame: that of an
        OPTIONAL/MINUS/EXISTS block, held through ``_hold_for_keys``,
        or the top-level group's trailing-VALUES hint — first one wins,
        ``_service_key_source``) shares a variable with the pattern,
        its distinct observed keys ship as VALUES batches (window 20, the
        reference's NestedHashJoinFilter WINDOW_SIZE) so the endpoint
        returns only joinable bindings — transfer bounded by local
        keys, not remote cardinality. Past ``SERVICE_MAX_KEYS``
        distinct keys the full query goes out instead (same fallback
        posture as the reference's non-selective path)."""
        from ontario_spark.sources.pushdown import (
            SERVICE_MAX_KEYS,
            fetch_all,
            values_batches,
        )
        from ontario_spark.sources.sparql_endpoint import paged_bindings
        from ontario_spark.sources.translate import _sparql_term

        triples = [e for e in sb.block.elements if isinstance(e, Triple)]
        filters = [e for e in sb.block.elements if isinstance(e, Filter)]
        if len(triples) + len(filters) != len(sb.block.elements):
            raise QueryCompileError(
                "SERVICE supports basic graph patterns and FILTERs"
            )
        if not triples:
            raise QueryCompileError("empty SERVICE pattern")
        variables = sorted(set().union(*[t.variables() for t in triples]))
        patterns = " ".join(
            f"{_sparql_term(t.s)} {_sparql_term(t.p)} {_sparql_term(t.o)} ."
            for t in triples
        )
        text = (
            f"SELECT {' '.join('?' + v for v in variables)} "
            f"WHERE {{ {patterns} }}"
        )
        executor = self.service_executors.get(sb.endpoint)
        if executor is None:
            # full_terms: the HTTP path carries SPARQL-JSON
            # type/lang/datatype per binding (injected executors may
            # return plain dicts — their side columns stay NULL)
            executor = lambda q: paged_bindings(  # noqa: E731
                # order_vars: one stable solution order across OFFSET
                # windows — unordered paging on order-unstable
                # endpoints duplicates/skips bindings past page one
                sb.endpoint, q, full_terms=True, order_vars=variables
            )

        queries = [text]
        # All shared vars flagged → no pushdown (unfiltered fetch,
        # still correct).
        i = _service_key_source(
            set(variables),
            [None if s is None else s.variables - s.maybe_null
             for s in key_sources],
        )
        if i is not None:
            skey = key_sources[i]
            v = min(set(variables) & skey.variables - skey.maybe_null)
            keys = _keys(skey.materialize(v), v, SERVICE_MAX_KEYS)
            if keys is not None:
                # each key classified IRI-vs-literal individually —
                # mixed/typed key sets are fine (VALUES terms may differ
                # in kind). No keys, no fetch: the group's inner join
                # with an empty key source is empty whatever the
                # endpoint returns.
                queries = values_batches(text, v, keys)
        try:
            rows = fetch_all(executor, queries)
        except Exception:
            if not sb.silent:
                raise
            # SILENT + endpoint failure = the SINGLE EMPTY SOLUTION
            # (SPARQL 1.1 Federation §2.3.2): a join identity — local
            # rows survive with the service's variables unbound. A
            # zero-variable one-row frame cross-joins as exactly that;
            # an empty frame would instead annihilate the group.
            return BFrame(self.spark.range(1).select(), {})
        from ontario_spark.sources.sparql_endpoint import TERM_SIDE_SUFFIXES

        cols = [
            c
            for v in variables
            for c in (v, *[f"{v}{s}" for s in TERM_SIDE_SUFFIXES])
        ]
        schema = ", ".join(f"`{c}` string" for c in cols)
        df = local_frame(
            self.spark, [tuple(r.get(c) for c in cols) for r in rows], schema
        )
        # a lenient endpoint (or injected executor) may return partial
        # bindings — rows are driver-side here, so flag exactly the
        # variables observed unbound and they join as §10.2 wildcards
        flags = frozenset(
            v for v in variables if any(r.get(v) is None for r in rows)
        )
        bf = BFrame(df, {v: TermMeta(LEXICAL) for v in variables}, flags)
        for f in filters:
            if collect_exists_exprs(f.expr):
                # the SERVICE contract ships patterns to the ENDPOINT
                # and applies filters locally; an EXISTS pattern inside
                # such a filter would silently evaluate against the
                # LOCAL catalog — the wrong dataset — so refuse loudly
                raise QueryCompileError(
                    "EXISTS inside a SERVICE block's FILTER is "
                    "unsupported (its pattern would evaluate against "
                    "the local catalog, not the remote endpoint)"
                )
            vc = self._compiler(bf)
            bf = BFrame(bf.df.filter(vc.boolean(f.expr)), bf.meta, bf.maybe_null)
        return bf

    def _describe(self, q: Query, bf: BFrame) -> DataFrame:
        """DESCRIBE: (s, p, o) rows for every forward triple of each
        described resource, plus its rdf:type rows — the molecule the
        catalog's mappings define (SPARQL §16.4 leaves the shape
        implementation-defined; this matches what a CBD restricted to
        mapped predicates yields). Branches compile through the normal
        star machinery, so constant URIs invert templates to key
        filters and variable resources key-join against the WHERE
        frame."""
        RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        allowed = self._dataset_default  # FROM restriction, if any
        outs: list[DataFrame] = []
        for d in q.describe_terms:
            if d.is_var and d.value not in bf.meta:
                raise QueryCompileError(f"DESCRIBE var ?{d.value} not in WHERE")
            # maps that can describe this term: template-shape match for
            # keyed vars, template-inversion match for constant IRIs,
            # every map for lexical vars (no shape info)
            maps = []
            for tm in self.catalog.triple_maps.values():
                if (
                    allowed is not None
                    and self.catalog.map_source[tm.name] not in allowed
                ):
                    continue
                # reference/constant-subject maps carry no invertible
                # template: keyed vars can't shape-match them and
                # constant IRIs can't be inverted, so only lexical vars
                # (joined on the full URI string) reach them
                tpl = (
                    tm.subject.template
                    if tm.subject.kind == "template"
                    else None
                )
                if d.is_var:
                    m = bf.meta[d.value]
                    if m.kind == KEYED and (
                        tpl is None or not tpl.same_shape(m.template)
                    ):
                        continue
                elif tpl is None or tpl.extract(d.value) is None:
                    continue
                maps.append(tm)
            if d.is_var:
                subj = BFrame(
                    bf.df.select(*bf.cols_for(d.value)).dropDuplicates(),
                    {d.value: bf.meta[d.value]},
                )
            preds = sorted({p for tm in maps for p in tm.pom})
            classes = sorted({tm.subject_class for tm in maps if tm.subject_class})
            branches = [(p, Term("var", "__dsc_o")) for p in preds]
            branches += [(RDF_TYPE, Term("iri", c)) for c in classes]
            for p, o_term in branches:
                frame = self._group(
                    Group([Triple(d, Term("iri", p), o_term)]),
                    source_filter=allowed,
                )
                if d.is_var:
                    frame = subj.join(frame)
                s_col = (
                    frame.lexical_expr(d.value).cast("string")
                    if d.is_var
                    else F.lit(d.value)
                )
                o_col = (
                    frame.lexical_expr(o_term.value).cast("string")
                    if o_term.is_var
                    else F.lit(o_term.value)
                )
                outs.append(
                    frame.df.select(
                        s_col.alias("s"), F.lit(p).alias("p"), o_col.alias("o")
                    )
                )
        if not outs:
            # DESCRIBE of a resource no map can produce: an empty
            # description is valid (SPARQL 1.1 §16.4), not an error
            return local_frame(self.spark, [], "s string, p string, o string")
        out = outs[0]
        for x in outs[1:]:
            out = out.unionByName(x)
        return out.dropDuplicates()

    def _negated_path(
        self,
        np: NegatedPath,
        plans=(),
        source_filter: "str | set | None" = None,
    ) -> BFrame:
        """Negated property set: union of single-triple branches over
        the predicate universe minus the excluded IRIs — the Spark-side
        analogue of the reference scanning every TripleMap for a
        variable predicate (allTriplesLowSelectivity,
        services.py:803-814). Forward direction applies only when
        forward exclusions exist, inverse only when inverse exclusions
        exist (SPARQL 1.1 §9.1 split semantics).

        Scale: when the branch subject is also the subject of a star in
        the same group, the universe shrinks to that star's selected
        TripleMaps' predicates (RDF-MT molecule pruning — the same
        source-selection logic that picks the star's maps). Without it
        every table in the lake is scanned and immediately thrown away
        by the join."""

        def universe(subject: Term) -> list[str]:
            if subject.is_var:
                for plan in plans:
                    if (
                        plan.star.subject.is_var
                        and plan.star.subject.value == subject.value
                    ):
                        # any catalog map sharing the star's subject-URI
                        # skeleton could describe the same entities, so
                        # its predicates stay in the universe
                        shapes = [
                            tm.subject.template
                            for alt in plan.alternatives
                            for tm in alt
                            if tm.subject.kind == "template"
                        ]
                        preds: set[str] = set()
                        for tm in self.catalog.triple_maps.values():
                            if tm.subject.kind == "template" and any(
                                tm.subject.template.same_shape(s) for s in shapes
                            ):
                                preds.update(tm.pom)
                        if preds:
                            return sorted(preds)
            return sorted(self.catalog.predicate_index)

        branches: list[Group] = []
        if np.forward:
            for p in universe(np.s):
                if p not in np.forward:
                    branches.append(Group([Triple(np.s, Term("iri", p), np.o)]))
        if np.inverse:
            for p in universe(np.o):
                if p not in np.inverse:
                    branches.append(Group([Triple(np.o, Term("iri", p), np.s)]))
        if not branches:
            raise QueryCompileError(
                "negated property set excludes every known predicate"
            )
        u = self._group(branches[0], source_filter=source_filter)
        for b in branches[1:]:
            u = u.union(self._group(b, source_filter=source_filter))
        return u

    def _values(self, v: ValuesBlock) -> HeldFrame:
        """Inline data → a (tiny, held) frame joined into the
        group like any star (SPARQL 1.1 VALUES; beyond the reference).
        The rows come from the query text, so they are held: a key
        list over them is read on the driver with no Spark job."""

        def pyval(t):
            if t is None:
                return None
            if t.is_iri:
                return t.value
            return t.py if t.py is not None else t.value

        rows = [tuple(pyval(t) for t in row) for row in v.rows]
        # explicit schema: inference fails on an all-UNDEF column
        # (every value None). Type each column from ALL its values, not
        # the first non-null one — first-value typing made
        # VALUES ?x { 1 true } silently store true as 1 (bool is an int
        # subclass, so it passes LongType verification) while the
        # reversed order crashed: order-dependent corruption.
        fields = []
        for i, var in enumerate(v.variables):
            kinds = {type(r[i]) for r in rows if r[i] is not None}
            if not kinds:
                t = "string"  # all-UNDEF column
            elif kinds == {bool}:
                t = "boolean"
            elif kinds == {int}:
                t = "long"
            elif kinds == {float}:
                t = "double"
            elif kinds == {str}:
                t = "string"
            else:
                # heterogeneous column (VALUES ?x { 1 "a" } or mixed
                # numerics { 5 2.5 } — legal SPARQL: any RDF terms may
                # share a column): fall back to the lexical string
                # form for every value (round-5 review fix: previously
                # a hard ValueError; round-8: mixed int/decimal
                # previously WIDENED to double, turning integer 5 into
                # lexical "5.0" which no longer matched the term "5" —
                # join compatibility is sameTerm, not numeric
                # equality). Booleans take their SPARQL lexical forms.
                t = "string"
                def lex(x):
                    if x is None:
                        return None
                    if isinstance(x, bool):
                        return "true" if x else "false"
                    return str(x)
                rows = [
                    (*r[:i], lex(r[i]), *r[i + 1 :])
                    for r in rows
                ]
            fields.append(f"`{var}` {t}")
        # no join hint: a bound join's _join_fetched decides how the
        # held rows join the fetched ones, and elsewhere the tiny
        # LocalRelation's statistics already make it the build side
        df = local_frame(self.spark, rows, ", ".join(fields))
        row = Row(*v.variables)
        return HeldFrame(
            df,
            {var: TermMeta(LEXICAL) for var in v.variables},
            # UNDEF cells are unbound: those columns join as wildcards
            frozenset(
                var
                for i, var in enumerate(v.variables)
                if any(r[i] is None for r in rows)
            ),
            [row(*r) for r in rows],
        )

    def _join_values(self, bf: "BFrame | None", v: ValuesBlock) -> BFrame:
        """Join a solution frame with a VALUES block under FULL SPARQL
        join compatibility (§10.2): two solutions are compatible iff
        every variable bound in BOTH agrees — so an UNDEF cell
        constrains nothing (wildcard), and a pattern-side UNBOUND
        variable (an OPTIONAL/UNION NULL) merges by TAKING the VALUES
        binding instead of filtering. Both directions diverge from a
        plain equi-join (NULL keys match nothing). Historically VALUES
        joins got these semantics first (round-8, as a hand-built
        mask-group join) while pattern⋈pattern joins ran the equi
        approximation; once the general join gained the same semantics
        via ``maybe_null`` tracking, this became a thin delegation to
        ``BFrame.join`` / ``_join_compat`` — one compatibility-join
        implementation engine-wide."""
        if bf is None:
            # no pattern to join: the NULL encoding IS the solution
            # multiset (unbound stays unbound)
            return self._values(v)
        if not v.rows:
            # empty data block (``VALUES ?x { }``, legal SPARQL):
            # Join with the empty multiset = zero solutions (round-8
            # second review: this crashed on outs[0])
            out = BFrame(bf.df.limit(0), dict(bf.meta), bf.maybe_null)
            for x in v.variables:
                out = out.ensure_var(x)
            return out
        # The VALUES frame's UNDEF columns carry maybe_null flags from
        # _values, so the general BFrame.join compatibility machinery
        # (NULL-mask decomposition, _join_compat) provides the exact
        # §10.2 semantics in BOTH directions — UNDEF wildcards AND
        # pattern-side unbound merges. The literal frame is a held
        # LocalRelation (see _values). The pattern
        # side's own flags are trusted as-is: the engine invariant is
        # that a non-flagged column never holds NULL (unboundness only
        # arises structurally, where the flag is set), so defensively
        # flagging every shared
        # var would only multiply the mask groups — 2^L scans of the
        # pattern frame — without changing any answer (review fix;
        # callers that hand-build frames with unbound cells must set
        # flags, as the property tests now do).
        return bf.join(self._values(v), "inner")

    def _is_remote_plan(self, plan) -> bool:
        from ontario_spark.catalog.model import Catalog as _Cat

        return any(
            self.catalog.source_of(tm).dstype in _Cat.REMOTE_TYPES
            for alt in plan.alternatives
            for tm in alt
        )

    # Source-type fetch scores mirroring the reference's hand-tuned
    # table (``ontario/mediator/Tree.py:getdsscore`` — clean-room: only
    # the ranking criteria are reused): higher = the source answers a
    # selective pushed-down query more capably, so it should anchor
    # earlier and feed its observed keys to the weaker sources.
    _DS_SCORE = {
        "sparql": 20, "mysql": 18, "ansi": 18, "jdbc": 18,
        "mongodb": 15, "neo4j": 15, "drill": 12,
        "csv": 12, "parquet": 10, "view": 10, "json": 8, "xml": 5,
    }

    def _star_rank(self, plan) -> tuple:
        """Cost rank for leaf ordering (semantics of the reference's
        bushy-tree leaf sort, ``ontario/mediator/Tree.py:343-419``):
        (1) higher constant percentage first — the most selective star
        anchors the join tree and becomes the bound-join build side;
        (2) more triples first (a bigger star constrains more);
        (3) fewer subject/object variables first; (4) higher
        source-type score first. Ascending sort key. Intra-Spark join
        quality is AQE's job; this ordering decides CROSS-SOURCE fetch
        order — which remote star fetches first and therefore which
        direction the observed-key IN-lists flow."""
        triples = plan.star.triples
        positions = 3 * len(triples)
        constants = sum(
            (0 if t.s.is_var else 1)
            + (0 if t.p.is_var else 1)
            + (0 if t.o.is_var else 1)
            for t in triples
        )
        so_vars = {t.s.value for t in triples if t.s.is_var} | {
            t.o.value for t in triples if t.o.is_var
        }
        score = max(
            (
                self._DS_SCORE.get(self.catalog.source_of(tm).dstype, 0)
                for alt in plan.alternatives
                for tm in alt
            ),
            default=0,
        )
        return (
            -(constants / positions if positions else 0.0),
            -len(triples),
            len(so_vars),
            -score,
        )

    def _bound_key_conds(self, bf: BFrame, star_vars: set[str]):
        """Observed build-side join keys for a remote star, as 'in'
        RemoteConds: single-column template-keyed vars push their RAW
        keys (valid only against a same-shaped remote template —
        checked in the translator), lexical vars push lexical values
        (eligibility: ``_key_column``). A held ``bf`` gives its keys
        from the driver rows, a lazy one through a Spark pass.
        Bounded by ``pushdown.BOUND_JOIN_MAX_KEYS`` (IN-list size
        limit); past it the remote query goes out unfiltered, the
        reference's non-selective fallback. No keys give an empty
        IN-list, and the star skips its fetch (the join with an empty
        build side is empty). The local join afterwards is unchanged,
        so pushdown can only reduce transfer, never change the
        answer."""
        from ontario_spark.sources.pushdown import BOUND_JOIN_MAX_KEYS
        from ontario_spark.sources.translate import RemoteCond

        out: dict[str, list[RemoteCond]] = {}
        for v in sorted(star_vars & bf.variables):
            kc = _key_column(bf, v)
            if kc is None:
                continue
            keys = _keys(bf, kc[0], BOUND_JOIN_MAX_KEYS)
            if keys is not None:
                out[v] = [RemoteCond("in", tuple(keys), kc[1])]
        return out

    def _hold_for_keys(
        self, bf: BFrame, star_vars: set[str], svc_vars: set[str]
    ) -> BFrame:
        """``bf`` held (``_hold``) when the key list of a remote star
        binding ``star_vars`` or a SERVICE block binding ``svc_vars``
        reads one of its columns (``_key_column``), else ``bf`` as it
        is: the one hold rule for a group's build side and for the
        outer frame a nested block hangs off. Held, one bounded collect
        feeds every such key list in Python (Ontario's
        NestedHashJoinFilter buffers its left tuples) and the rows
        re-enter Spark as one partition; a lazy frame pays two jobs
        per key list (distinct, limit, collect) and runs again when the
        final plan scans it. A keyed var only SERVICE blocks share is
        formatted first: the SERVICE join compares it lexically anyway,
        so its key list comes from the held rows too (a var a remote
        star shares stays keyed: that star's IN-list pushes raw
        keys)."""
        for v in sorted((svc_vars & bf.variables) - star_vars - bf.maybe_null):
            bf = bf.materialize(v)
        if any(_key_column(bf, v) for v in (star_vars | svc_vars) & bf.variables):
            return self._hold(bf)
        return bf

    def _hold(self, bf: BFrame) -> HeldFrame:
        """``bf`` collected once and held: its rows on the driver and
        the same rows back in Spark through ``data.local_frame`` (one
        partition) with ``bf``'s schema, meta and ``maybe_null``. Past
        ``pushdown.HOLD_ROWS`` rows the collect stops at one past the
        cap and ``bf`` stays lazy, with those first rows attached
        (``whole=False``). A frame already held whole (an inline VALUES
        block, an outer frame an earlier block held) comes back as it
        is, with no job."""
        from ontario_spark.sources.pushdown import HOLD_ROWS

        if isinstance(bf, HeldFrame) and bf.whole:
            return bf
        rows = bf.df.limit(HOLD_ROWS + 1).collect()
        if len(rows) > HOLD_ROWS:
            return HeldFrame(bf.df, bf.meta, bf.maybe_null, rows, whole=False)
        return HeldFrame(
            local_frame(self.spark, rows, bf.df.schema),
            bf.meta,
            bf.maybe_null,
            rows,
        )

    def _join_greedy(self, frames: list[BFrame]) -> BFrame:
        """Greedy bushy combination preferring var-sharing joins
        (semantics of ``Tree.makeBushyTree``; cross joins only as a
        last resort)."""
        acc = frames[0]
        rest = frames[1:]
        while rest:
            idx = next(
                (i for i, f in enumerate(rest) if f.variables & acc.variables),
                0,
            )
            acc = acc.join(rest.pop(idx), "inner")
        return acc

    # --- heads ----------------------------------------------------------

    def _compiler(
        self, bf: BFrame, exists_cols: "dict[int, str] | None" = None
    ) -> ExprCompiler:
        dtypes = dict(bf.df.dtypes)

        def resolve(var: str):
            if var not in bf.meta:
                raise QueryCompileError(f"unbound variable ?{var}")
            return bf.lexical_expr(var) if bf.meta[var].kind != LEXICAL else F.col(var)

        def dtype(var: str):
            return dtypes.get(var)

        exists_col = (
            (lambda node: F.col(exists_cols[id(node)]))
            if exists_cols is not None
            else None
        )
        return ExprCompiler(
            resolve, dtype, has_col=lambda c: c in dtypes, exists_col=exists_col
        )

    def _mark_exists(
        self,
        bf: BFrame,
        nodes: list,
        source_filter: "str | set | None" = None,
    ) -> tuple[BFrame, dict[int, str]]:
        """Attach one boolean mark column per expression-position
        [NOT] EXISTS node (§17.4.1.4): pin a row id, compile each
        node's block, semi-join-restrict the frame against it — the
        same ``BFrame.restrict`` machinery the whole-filter
        ExistsFilter fast path uses, so correlation via shared
        variables, disjoint-domain emptiness probes, and §10.2 unbound
        wildcards all behave identically — and join the surviving ids
        back as a TRUE/FALSE flag. Negation happens in the expression
        compiler (``~flag``), so each node costs one semi-join plus
        one id-keyed flag join regardless of polarity. Every block
        hangs off the pinned frame through ``_group_over``, which holds
        it once when a remote key list reads it; the flags then join
        onto that (held) frame. Returns the marked frame (carrying
        ``__exk`` + ``__ex<i>`` physical columns the caller must drop)
        and the node→column map."""
        outer = BFrame(
            pin(
                bf.df.withColumn("__exk", F.monotonically_increasing_id()),
                truncate=True,
            ),
            bf.meta,
            bf.maybe_null,
        )
        kept: list[tuple[str, DataFrame]] = []
        cols: dict[int, str] = {}
        for i, n in enumerate(nodes):
            name = cols[id(n)] = f"__ex{i}"
            outer, inner = self._group_over(n.block, outer, source_filter)
            kept.append((name, outer.restrict(inner, "left_semi").df))
        df = outer.df
        for name, k in kept:
            flags = k.select("__exk").withColumn(name, F.lit(True))
            df = df.join(flags, "__exk", "left_outer").withColumn(
                name, F.coalesce(F.col(name), F.lit(False))
            )
        # outer's meta, not bf's: a SERVICE block's hold formats the
        # keyed vars it shares (``_hold_for_keys``)
        return BFrame(df, outer.meta, outer.maybe_null), cols

    def _filter_exists_aware(
        self,
        bf: BFrame,
        expr,
        source_filter: "str | set | None" = None,
    ) -> BFrame:
        """``bf`` filtered by ``expr``, supporting [NOT] EXISTS in any
        expression position via mark columns; the plain path (no
        EXISTS nodes) compiles exactly as before."""
        nodes = collect_exists_exprs(expr)
        if not nodes:
            vc = self._compiler(bf)
            return BFrame(bf.df.filter(vc.boolean(expr)), bf.meta, bf.maybe_null)
        marked, cols = self._mark_exists(bf, nodes, source_filter)
        vc = self._compiler(marked, exists_cols=cols)
        df = marked.df.filter(vc.boolean(expr)).drop("__exk", *cols.values())
        return BFrame(df, marked.meta, marked.maybe_null)

    def _select(self, q: Query, bf: BFrame) -> DataFrame:
        sel = q.select
        if sel is None:
            # SELECT *: internal path-join variables (__pp*) stay hidden
            proj_vars = sorted(v for v in bf.variables if not v.startswith("__"))
            computed: list = []
        else:
            computed = [s for s in sel if s.expr is not None]
            proj_vars = [s.var for s in sel]

        has_agg = bool(q.group_by) or any(is_aggregate(s.expr) for s in computed)
        # trailing W3C ValuesClause (Query.values_clause): joins the
        # FINISHED pattern — after the whole WHERE group, here at the
        # head of _select for non-aggregate queries, or after grouping
        # + HAVING (§18.2.4.3) in the aggregate branch below. ONE
        # has_agg flag gates both paths (a duplicated probe could
        # drift and double-join).
        trailing = q.values_clause  # joined via _join_values (UNDEF-aware)
        if trailing is not None and not has_agg:
            bf = self._join_values(bf, trailing)
            trailing = None
            if sel is None:
                proj_vars = sorted(
                    v for v in bf.variables if not v.startswith("__")
                )
        sort_extra: list[str] = []
        order_by = q.order_by

        if has_agg:
            for expr, var in q.group_by_binds:
                gvc = self._compiler(bf)
                bf = BFrame(
                    bf.df.withColumn(var, gvc.value(expr)),
                    {**bf.meta, var: TermMeta(LEXICAL)},
                    bf.maybe_null | {var},
                )
            vc = self._compiler(bf)
            keys = [
                bf.lexical_expr(v).alias(v) if bf.meta[v].kind != LEXICAL else F.col(v)
                for v in q.group_by
            ]
            # COUNT(DISTINCT *) counts distinct SOLUTIONS — the frame's
            # in-scope variable values, supplied as context
            star_cols = [
                bf.lexical_expr(v).alias(v)
                if bf.meta[v].kind != LEXICAL
                else F.col(v)
                for v in sorted(bf.variables)
                if not v.startswith("__")
            ]
            # Projections may be (a) bare aggregates, (b) expressions
            # CONTAINING aggregates ((COUNT(?x)+1) AS ?c), or (c) pure
            # functions of the group keys (UCASE(?a) AS ?u). (b)/(c)
            # hoist inner aggregates into __sN agg columns and evaluate
            # the outer expression AFTER the groupBy (round-5 review
            # fix: everything non-bare previously crashed compile).
            aggs: list = []
            post: list = []  # (var, aggregate-hoisted expr)
            hoist_i = 0

            def hoist_sel(e):
                nonlocal hoist_i
                if isinstance(e, Expr):
                    if e.op.startswith("agg_"):
                        name = f"__s{hoist_i}"
                        hoist_i += 1
                        aggs.append(
                            compile_aggregate(e, vc, star_cols).alias(name)
                        )
                        return Term("var", name)
                    return Expr(e.op, [hoist_sel(x) for x in e.args])
                return e

            for s in computed:
                inner = s.expr
                while isinstance(inner, Expr) and inner.op == "ident":
                    inner = inner.args[0]
                if isinstance(inner, Expr) and inner.op.startswith("agg_"):
                    aggs.append(
                        compile_aggregate(inner, vc, star_cols).alias(s.var)
                    )
                else:
                    post.append((s.var, hoist_sel(s.expr)))
            if not aggs and not post:
                # Key-only projection (SELECT ?k ... GROUP BY ?k) is
                # legal SPARQL (§18.2.4 — round-9): the grouped frame
                # IS the answer (one row per key; the placeholder
                # count below satisfies Spark's agg() and the final
                # projection drops it). Projecting a var that is
                # NEITHER a key nor an aggregate stays an error.
                bad = [v for v in proj_vars if v not in q.group_by]
                if bad:
                    raise QueryCompileError(
                        "GROUP BY: non-aggregate projected variable(s) "
                        f"{bad} are not group keys (§18.2.4)"
                    )
            # ORDER BY may contain aggregates (ORDER BY DESC(COUNT(?x)))
            # — hoist them into __sN agg columns too and sort on the
            # rewritten expression; the extra columns ride to the sort
            # and are dropped after (not with DISTINCT, whose dedup runs
            # over the projection only)
            if q.order_by and any(is_aggregate(i) for i, _ in q.order_by):
                if q.distinct:
                    raise QueryCompileError(
                        "aggregates in ORDER BY are not supported with DISTINCT"
                    )
                before = hoist_i
                order_by = [(hoist_sel(i), asc) for i, asc in q.order_by]
                sort_extra = [f"__s{j}" for j in range(before, hoist_i)]
            else:
                order_by = q.order_by
            having = q.having
            if having is not None:
                # Inline aggregates in HAVING (e.g. HAVING (COUNT(?c) >
                # 5)) hoist into extra agg columns (__hN), so the
                # filter runs over the SAME hash aggregate — no second
                # aggregation pass.
                hoisted: list = []

                def hoist(e):
                    if isinstance(e, Expr):
                        if e.op.startswith("agg_"):
                            hoisted.append(e)
                            return Term("var", f"__h{len(hoisted) - 1}")
                        return Expr(e.op, [hoist(a) for a in e.args])
                    return e

                having = hoist(having)
                aggs += [
                    compile_aggregate(e, vc, star_cols).alias(f"__h{i}")
                    for i, e in enumerate(hoisted)
                ]
            # Spark's agg() needs >= 1 aggregate; a GROUP BY whose
            # computed columns are all key functions gets a dropped
            # placeholder count
            grouped = bf.df.groupBy(*keys).agg(
                *(aggs or [F.count(F.lit(1)).alias("__gcnt")])
            )
            if post:
                pdt = dict(grouped.dtypes)
                pvc = ExprCompiler(
                    lambda v: F.col(v), pdt.get, has_col=lambda c: c in pdt
                )
                for var, e in post:
                    grouped = grouped.withColumn(var, pvc.value(e))
            out_meta = {v: TermMeta(LEXICAL) for v in q.group_by + [s.var for s in computed]}
            # group keys keep their flags; aggregate outputs can be
            # NULL (MIN/MAX/SUM over an all-NULL group)
            bf = BFrame(
                grouped,
                out_meta,
                (bf.maybe_null & set(q.group_by))
                | {s.var for s in computed},
            )
            if having is not None:
                # [NOT] EXISTS in HAVING (§17.4.1.4; round-9 ADVICE):
                # marks compute over the GROUPED solutions — group
                # keys are ordinary variables, so correlation via a
                # shared key var works exactly like row-level EXISTS
                ex_nodes = collect_exists_exprs(having)
                ex_cols: dict[int, str] = {}
                if ex_nodes:
                    bf, ex_cols = self._mark_exists(bf, ex_nodes)
                hdt = dict(bf.df.dtypes)
                hvc = ExprCompiler(
                    lambda v: F.col(v),
                    hdt.get,
                    has_col=lambda c: c in hdt,
                    exists_col=(
                        (lambda node: F.col(ex_cols[id(node)]))
                        if ex_cols
                        else None
                    ),
                )
                fdf = bf.df.filter(hvc.boolean(having))
                if ex_cols:
                    fdf = fdf.drop("__exk", *ex_cols.values())
                bf = BFrame(fdf, bf.meta, bf.maybe_null)
            if trailing is not None:
                # §18.2.4.3: ValuesClause joins the grouped/HAVING-
                # filtered solutions (shared vars equi-join; none
                # shared → cross product with the tiny literal frame;
                # UNDEF-aware via _join_values)
                bf = self._join_values(bf, trailing)
            df = bf.df.select(*proj_vars, *sort_extra)
        else:
            if computed:
                vc = self._compiler(bf)
                newmeta = dict(bf.meta)
                ndf = bf.df
                for s in computed:
                    ndf = ndf.withColumn(s.var, vc.value(s.expr))
                    newmeta[s.var] = TermMeta(LEXICAL)
                bf = BFrame(
                    ndf,
                    newmeta,
                    bf.maybe_null | {s.var for s in computed},
                )
            # ORDER BY may reference non-projected in-scope variables
            # (legal without DISTINCT, SPARQL 1.1 §15.1): carry them
            # through the projection for the sort and drop them after.
            if q.order_by and not q.distinct:
                seen: set[str] = set()
                for item, _asc in q.order_by:
                    seen |= _expr_vars(item)
                sort_extra = sorted(
                    (seen - set(proj_vars)) & set(bf.meta)
                )
            bf = bf.project(proj_vars + sort_extra)
            df = bf.df

        # record which projected vars can be unbound — the subquery
        # seam reads this right after its compile() call to seed the
        # inner frame's maybe_null (compile returns a bare DataFrame)
        self._last_select_flags = frozenset(bf.maybe_null) & set(proj_vars)
        if q.distinct:
            df = df.dropDuplicates()
        if order_by:
            dtypes = dict(df.dtypes)
            oc = ExprCompiler(
                lambda v: F.col(v), dtypes.get, has_col=lambda c: c in dtypes
            )
            sort_cols = []
            for item, asc in order_by:
                col = oc.value(item)
                sort_cols.append(col.asc() if asc else col.desc())
            df = df.orderBy(*sort_cols)
            if sort_extra:
                df = df.select(*proj_vars)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _construct(self, q: Query, bf: BFrame) -> DataFrame:
        outs: list[DataFrame] = []
        for t in q.construct_template:
            cols = []
            for slot, term in (("s", t.s), ("p", t.p), ("o", t.o)):
                if term.is_var:
                    if term.value not in bf.meta:
                        raise QueryCompileError(f"unbound construct var ?{term.value}")
                    cols.append(bf.lexical_expr(term.value).cast("string").alias(slot))
                else:
                    cols.append(F.lit(term.value).alias(slot))
            outs.append(bf.df.select(*cols))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out.dropDuplicates()
