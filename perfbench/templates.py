"""Query templates and job lists of the benchmark's workloads.

Every SPARQL template is a registry row of ``ontario_spark.queries``:
its text and catalog kind come from the row's definition, its expected
answer from ``all_oracle_sql()``. Where the row anchors on a constant,
``params`` maps that constant, exactly as the row spells it, to the
domain it is swapped for. The swap is made in the SPARQL text and in
the oracle SQL alike, so every request has an exact expected row count.
Only the domains live here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

PFX = "PREFIX ex: <http://ex.org/tpch/>\n"

NATION_PREFIXES = ("NATION_1", "NATION_2")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# registry row -> (catalog kind, {anchor: domain})
FED_ROWS = {
    "sparql_federated_join": ("federated", {"NATION_1": NATION_PREFIXES}),
    "sparql_named_graph": ("federated", {"NATION_1": NATION_PREFIXES}),
    "sparql_mongo_join": ("mongo", {
        "8000.0": ("7000.0", "7500.0", "8000.0", "8500.0"),
        "1-URGENT": PRIORITIES,
    }),
    "sparql_drill_join": ("drill", {"9000.0": ("8500.0", "9000.0", "9500.0")}),
    "sparql_drill_bound_join": ("drill", {
        "NATION_1": tuple(f"NATION_{k}" for k in range(25)),
    }),
    "sparql_cypher_join": ("cypher", {
        "Customer#00000001": tuple(f"Customer#0000000{d}" for d in range(1, 10)),
    }),
    "sparql_service_join": ("service", {}),
    "lslod_cq6_trisource": ("trisource", {"NATION_1": NATION_PREFIXES}),
}

# The registry builds sparql_service_join inside a function (its SERVICE
# endpoint is a closure), so its text is the one row not read from a
# definition table; server_proc.service_executor is the same stand-in.
SERVICE_JOIN_SPARQL = """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""

# pipeline jobs, by registry name
PIPELINE = [
    "events_pagerank",
    "text_bpe_encode",
    "er_record_links",
]


@dataclass(frozen=True)
class Spec:
    """One query template: ``kind`` names the server (catalog) that
    answers it, ``params`` maps each anchor to its domain."""

    name: str
    kind: str
    sparql: str
    sql: str
    params: dict = field(default_factory=dict)
    form: str = "select"

    def text(self, binding: dict) -> str:
        return PFX + _swap(self.sparql, binding)

    def oracle(self, binding: dict) -> str:
        return _swap(self.sql, binding)


def _swap(text: str, binding: dict) -> str:
    for anchor, value in binding.items():
        text = text.replace(anchor, value)
    return text


def fed_specs() -> list[Spec]:
    """The fed_sparql templates, read from the registry. A registry row
    whose anchor is gone or no longer unique fails here, not mid-run."""
    from ontario_spark.queries import all_oracle_sql, lslod_shapes, sparql_suite

    defs = {**sparql_suite._DEFS, **lslod_shapes._DEFS}
    oracle = all_oracle_sql()
    specs = []
    for name, (kind, params) in FED_ROWS.items():
        sparql = SERVICE_JOIN_SPARQL if name == "sparql_service_join" else defs[name][0]
        sql = oracle[name]
        for anchor in params:
            if sparql.count(anchor) != 1 or sql.count(anchor) != 1:
                raise ValueError(f"{name}: anchor {anchor!r} is not unique")
        specs.append(Spec(name, kind, sparql, sql, params))
    return specs
