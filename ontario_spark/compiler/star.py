"""Star → BindingsFrame compiler.

Replaces the reference's per-source wrappers + SPARQL→SQL translator
(``ontario/wrappers/sparqltosql.py``: predicate→column ``extract_cols``
:368-403, constant objects → equality predicates ``get_cond_sql``
:411-444, NOT NULL guards, multi-map self-joins ``join_condition``
:446-481, multi-MT unions ``make_union`` :123-153) with direct
DataFrame construction against the shared session. Catalyst then does
the projection/filter pushdown the reference implemented by hand.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ontario_spark.catalog.model import (
    CONSTANT,
    REFERENCE,
    TEMPLATE,
    Catalog,
    TripleMap,
)
from ontario_spark.compiler.frame import KEYED, LEXICAL, BFrame, TermMeta, key_cols
from ontario_spark.planner.decomposer import StarPlan, SourceSelectionError
from ontario_spark.sources.nested import PathResolver, is_nested
from ontario_spark.sparql.ast import Term, Triple
from ontario_spark.sparql.parser import RDF_TYPE


class StarCompileError(Exception):
    pass


def _lit_for(term: Term) -> Column:
    if term.datatype and term.datatype.rsplit("#", 1)[-1] in ("date", "dateTime"):
        return F.lit(term.value).cast("timestamp")
    return F.lit(term.py if term.py is not None else term.value)


def compile_star(
    spark: SparkSession,
    cat: Catalog,
    plan: StarPlan,
    remote_conds: dict | None = None,
) -> BFrame:
    if not plan.alternatives:
        raise SourceSelectionError(
            f"no data source answers star over {plan.star.subject.value!r} "
            f"(predicates: {plan.star.predicates})"
        )
    frames = [
        _compile_alternative(spark, cat, plan, alt, remote_conds)
        for alt in plan.alternatives
    ]
    # Branches in the same shape group share a subject-template shape,
    # so two maps can assert the IDENTICAL triple (same subject row in
    # both tables) — and an RDF graph is a SET of triples, so those
    # solutions count once. Dedup within a multi-branch group only;
    # single-branch groups keep the (cheaper) bag union, and branches
    # of different groups generate differently-shaped URIs, provably
    # disjoint. (round-6 review fix; scale: the dropDuplicates shuffle
    # exists only for genuinely-overlapping molecule unions.)
    groups = plan.alt_groups or list(range(len(frames)))
    by_group: dict[int, list[BFrame]] = {}
    for g, f in zip(groups, frames):
        by_group.setdefault(g, []).append(f)
    gframes: list[BFrame] = []
    for _, fs in sorted(by_group.items()):
        f = fs[0]
        for x in fs[1:]:
            f = f.union(x)
        if len(fs) > 1:
            f = BFrame(f.df.dropDuplicates(), f.meta)
        gframes.append(f)
    out = gframes[0]
    for f in gframes[1:]:
        out = out.union(f)
    return out


def _compile_alternative(
    spark: SparkSession,
    cat: Catalog,
    plan: StarPlan,
    maps: list[TripleMap],
    remote_conds: dict | None = None,
) -> BFrame:
    # Assign each triple to the first map providing its predicate.
    per_map: dict[str, list[Triple]] = {tm.name: [] for tm in maps}
    by_name = {tm.name: tm for tm in maps}
    for t in plan.star.triples:
        if not t.p.is_iri:
            raise StarCompileError("variable predicates not supported yet")
        if t.p.value == RDF_TYPE:
            # a CONSTANT class routes to a map carrying that class (a
            # star with two type constraints joins one carrier each);
            # a variable type binds from any map
            tm_for = maps[0]
            if t.o.is_iri:
                tm_for = next(
                    (tm for tm in maps if tm.subject_class == t.o.value),
                    maps[0],
                )
            per_map[tm_for.name].append(t)
            continue
        for tm in maps:
            if t.p.value in tm.pom:
                per_map[tm.name].append(t)
                break
        else:
            raise SourceSelectionError(f"predicate {t.p.value} not in selected maps")

    out: BFrame | None = None
    for name, triples in per_map.items():
        if out is not None and not triples:
            continue  # extra map contributed nothing
        bf = _compile_map(
            spark, cat, by_name[name], plan.star.subject, triples, remote_conds
        )
        out = bf if out is None else out.join(bf, "inner")
    assert out is not None
    return out


def _compile_remote(
    spark: SparkSession,
    cat: Catalog,
    tm: TripleMap,
    subject: Term,
    triples: list[Triple],
    remote_conds: dict | None = None,
) -> BFrame:
    """Remote-source leaf: translate the star slice to the source's
    native query language, run it through the injected executor, and
    lift the rows into a BFrame (reference: LeafOperator.execute
    spawning wrapper.executeQuery, ``mediator/PlanOperators.py:257-267``
    — here a driver-side fetch followed by distributed processing).

    Executor call conventions per dstype:
    - mysql/ansi/drill/derby: ``executor(sql_text) -> [row dict]``
    - mongodb:          ``executor(collection, pipeline) -> [row dict]``
    - neo4j:            ``executor(cypher_text) -> [row dict]``
    - sparql:           ``executor(query_text) -> [binding dict]``
      (e.g. a ``functools.partial`` over
      ``ontario_spark.sources.sparql_endpoint.paged_bindings``)
    """
    from ontario_spark.planner.decomposer import Star
    from ontario_spark.sources.translate import (
        DIALECTS,
        df_to_bframe,
        rows_to_bframe,
        star_cypher,
        star_mongo,
        star_sparql_text,
        star_sql,
    )

    src = cat.source_of(tm)
    execr = cat.executor_for(tm)
    star = Star(subject=subject, triples=triples)
    if src.dstype in ("mysql", "ansi", "drill", "derby"):
        sql, specs = star_sql(
            [tm], star, DIALECTS[src.dstype], conditions=remote_conds
        )
        args = (sql,)
    elif src.dstype == "mongodb":
        pipeline, specs = star_mongo(tm, star, conditions=remote_conds)
        args = (tm.source.table, pipeline)
    elif src.dstype == "neo4j":
        cypher, specs = star_cypher(tm, star, conditions=remote_conds)
        args = (cypher,)
    else:  # sparql endpoint: ship the star verbatim
        text, specs = star_sparql_text(star)
        args = (text,)
    # An empty bound-join IN-list means the build side this star joins
    # has no keys (only bound-join key lists are "in" conditions), so
    # the join is empty whatever the source holds: no fetch.
    no_keys = any(
        c.op == "in" and not c.value
        for cs in (remote_conds or {}).values()
        for c in cs
    )
    rows = [] if no_keys else execr(*args)
    if isinstance(rows, DataFrame):
        # production executors (sources/jdbc.py) return the fetch as a
        # distributed DataFrame — lift it without a driver round-trip
        bf = df_to_bframe(rows, specs)
    else:
        bf = rows_to_bframe(spark, list(rows), specs)
    # bind a type variable (?s a ?t) the translators skip
    if src.dstype != "sparql":
        for t in triples:
            if t.p.is_iri and t.p.value == RDF_TYPE and t.o.is_var:
                bf = BFrame(
                    bf.df.withColumn(t.o.value, F.lit(tm.subject_class)),
                    {**bf.meta, t.o.value: TermMeta(LEXICAL)},
                )
    return bf


def _compile_map(
    spark: SparkSession,
    cat: Catalog,
    tm: TripleMap,
    subject: Term,
    triples: list[Triple],
    remote_conds: dict | None = None,
) -> BFrame:
    if cat.source_of(tm).dstype in Catalog.REMOTE_TYPES:
        return _compile_remote(spark, cat, tm, subject, triples, remote_conds)
    df = cat.load_source_df(spark, tm)

    # Nested sources: resolve a/b struct paths + a[*] array iteration +
    # the logical-source iterator (reference: LATERAL VIEW explode SQL,
    # ontario/wrappers/spark/utils.py:460-583) BEFORE term compilation,
    # so everything below sees plain Column refs.
    paths = list(tm.subject.columns)
    for t in triples:
        if t.p.is_iri and t.p.value != RDF_TYPE and t.p.value in tm.pom:
            paths.extend(tm.pom[t.p.value].columns)
    # XML sources consume the iterator as rowTag at read time
    # (catalog.load_source_df), so references are already row-relative.
    fmt = tm.source.fmt or cat.source_of(tm).dstype
    iterator = None if fmt == "xml" else tm.source.iterator
    if iterator or any(is_nested(p) for p in paths):
        pr = PathResolver(df, iterator)
        df = pr.prepare(paths)
        cref = pr.col
    else:
        cref = F.col

    select: list[Column] = []
    meta: dict[str, TermMeta] = {}
    conds: list[Column] = []
    bound_exprs: dict[str, Column] = {}  # var → source-side expression

    def bind_var(var: str, cols: list[str] | None, expr: Column, tmeta: TermMeta):
        """Bind var to column(s); repeated var in the same star becomes
        an equality condition (e.g. ?x ex:p ?v . ?x ex:q ?v). Compared
        on the LEXICAL string forms: SPARQL join compatibility is
        sameTerm-based (a URI never equals a numeric literal), and the
        two sides may carry incompatible native types (URI template vs
        double column) where Spark's implicit ANSI cast would throw."""
        if var in meta:
            conds.append(
                bound_exprs[var].cast("string") == expr.cast("string")
            )
            return
        meta[var] = tmeta
        bound_exprs[var] = expr
        if tmeta.kind == KEYED:
            for i, c in enumerate(cols or []):
                select.append(cref(c).alias(f"{var}__k{i}"))
        else:
            select.append(expr.alias(var))

    # subject
    if subject.is_var:
        if tm.subject.kind == TEMPLATE:
            scols = list(tm.subject.template.columns)
            bind_var(
                subject.value,
                scols,
                tm.subject.template.format(col=cref),
                TermMeta(KEYED, tm.subject.template),
            )
            for c in scols:
                conds.append(cref(c).isNotNull())
        elif tm.subject.kind == REFERENCE:
            bind_var(subject.value, None, cref(tm.subject.value), TermMeta(LEXICAL))
            conds.append(cref(tm.subject.value).isNotNull())
        else:
            bind_var(subject.value, None, F.lit(tm.subject.value), TermMeta(LEXICAL))
    else:
        # constant subject: invert the template into key equalities
        if tm.subject.kind == TEMPLATE:
            keys = tm.subject.template.extract(subject.value)
            if keys is None:
                conds.append(F.lit(False))
            else:
                for c, v in zip(tm.subject.template.columns, keys):
                    conds.append(cref(c).cast("string") == F.lit(v))
        elif tm.subject.kind == REFERENCE:
            conds.append(cref(tm.subject.value) == F.lit(subject.value))
        else:
            # CONSTANT-subject map queried with a constant subject:
            # both sides are plan-time constants — cref() of the IRI
            # would reference a nonexistent column (round-5 review fix)
            conds.append(F.lit(tm.subject.value == subject.value))

    # predicate-object patterns
    for t in triples:
        pred = t.p.value
        if pred == RDF_TYPE:
            if t.o.is_var:
                bind_var(t.o.value, None, F.lit(tm.subject_class), TermMeta(LEXICAL))
            elif tm.subject_class != t.o.value:
                conds.append(F.lit(False))
            continue
        om = tm.pom[pred]
        if om.kind == REFERENCE:
            col = cref(om.value)
            if t.o.is_var:
                bind_var(t.o.value, None, col, TermMeta(LEXICAL))
                conds.append(col.isNotNull())
            elif t.o.is_iri:
                conds.append(col == F.lit(t.o.value))
            else:
                conds.append(col == _lit_for(t.o))
        elif om.kind == TEMPLATE:
            tcols = list(om.template.columns)
            if t.o.is_var:
                bind_var(t.o.value, tcols, om.template.format(col=cref), TermMeta(KEYED, om.template))
                for c in tcols:
                    conds.append(cref(c).isNotNull())
            else:
                uri = t.o.value
                keys = om.template.extract(uri)
                if keys is None:
                    conds.append(F.lit(False))
                else:
                    for c, v in zip(tcols, keys):
                        conds.append(cref(c).cast("string") == F.lit(v))
        else:  # CONSTANT
            if t.o.is_var:
                bind_var(t.o.value, None, F.lit(om.value), TermMeta(LEXICAL))
            else:
                if om.value != t.o.value:
                    conds.append(F.lit(False))

    for c in conds:
        df = df.filter(c)
    if not select:
        select = [F.lit(1).alias("__one")]
        df = df.select(*select).drop("__one")
        return BFrame(df, meta)
    return BFrame(df.select(*select), meta)
