"""Interleaved A/B timing of registry queries in ONE process.

The box's speed roams mid-session, so comparisons must interleave both
sides in one process: both share the JVM, page cache and host phase.
Every run goes through ``bench.py``'s ``warm_up``/``timed`` (cache
cleared and GC fired before each run, noop sink unless
``BENCH_ACTION=collect``). Three modes:

    python tools/ab.py QUERY [QUERY ...]
        each round times every named query once, interleaved in the
        given order (q1_pricing_summary is worth including as the
        calibration row);
    python tools/ab.py QUERY ... --conf 'k=v;k2=v2'
        side A runs under the session's conf, side B under the
        overrides; side A's values (unset keys included) are restored
        after each query;
    python tools/ab.py QUERY ... --tree OLD NEW
        side A runs the registry of source tree OLD, side B that of NEW;
        both are imported into this process, and each side's modules
        are swapped into ``sys.modules`` before it runs, so the
        operators a query imports in its body come from its own tree.

With two sides, which side runs first alternates round to round so
warm-position bias cancels. Prints the per-round seconds and the
best-of summary (with the b/a ratio for two sides).

Env: AB_REPS (rounds, default 3), SPARK_GRAFT_SF_DIR, BENCH_ACTION.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed, warm_up  # noqa: E402


def load_registry(tree: str) -> tuple[dict, dict]:
    """Import ontario_spark from ``tree``, every submodule included,
    and return its all_queries() dict with those module objects.
    Previously imported ontario_spark modules are dropped from
    sys.modules first so the import really binds to ``tree``. Queries
    import operators inside their bodies, through ``sys.modules``, so
    a side's modules must be back there while it runs (``use``)."""
    import glob
    import importlib

    for m in [k for k in list(sys.modules) if k.startswith("ontario_spark")]:
        del sys.modules[m]
    sys.path.insert(0, tree)
    try:
        for path in glob.glob(f"{tree}/ontario_spark/**/*.py", recursive=True):
            name = os.path.relpath(path[:-3], tree).replace(os.sep, ".")
            try:
                importlib.import_module(name.removesuffix(".__init__"))
            except ImportError:
                pass  # a gated connector whose dependency is absent
        from ontario_spark.queries import all_queries

        mods = {k: v for k, v in sys.modules.items() if k.startswith("ontario_spark")}
        return all_queries(), mods
    finally:
        sys.path.remove(tree)


def use(mods: dict):
    """A switch that makes ``mods`` the ontario_spark modules imports
    resolve to."""

    def switch() -> None:
        for m in [k for k in list(sys.modules) if k.startswith("ontario_spark")]:
            del sys.modules[m]
        sys.modules.update(mods)

    return switch


def set_conf(spark, conf: dict) -> None:
    """Set every key of ``conf`` on the session; a ``None`` value unsets
    the key."""
    for k, v in conf.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def conf_switches(spark, conf: dict) -> tuple:
    """``(to_a, to_b)``: callables that put the session on side A (the
    values ``conf``'s keys hold now, unset ones included) or on side B
    (``conf`` itself)."""
    base = {k: spark.conf.get(k, None) for k in conf}
    return (lambda: set_conf(spark, base)), (lambda: set_conf(spark, conf))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    side = ap.add_mutually_exclusive_group()
    side.add_argument("--conf", help="side B session conf, 'k=v;k2=v2'")
    side.add_argument("--tree", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("AB_REPS", "3"))
    action = os.environ.get("BENCH_ACTION", "noop")
    names = args.queries

    # sides: (label, registry, switch run before the side's timing)
    if args.tree:
        old, new = (os.path.abspath(t) for t in args.tree)
        sides = []
        for label, tree in (("old", old), ("new", new)):
            reg, mods = load_registry(tree)
            sides.append((label, reg, use(mods)))
    else:
        from ontario_spark.queries import all_queries

        sides = [("", all_queries(), None)]
    for label, reg, _ in sides:
        unknown = sorted(set(names) - set(reg))
        if unknown:
            raise SystemExit(f"not in registry {label}: {unknown}")

    # the session module is whichever tree loaded last; its identity
    # does not matter for timing
    from ontario_spark.session import get_spark

    spark = get_spark("ontario-ab")
    spark.sparkContext.setLogLevel("ERROR")
    if args.conf is not None:
        conf = dict(kv.split("=", 1) for kv in args.conf.split(";") if "=" in kv)
        if not conf:
            raise SystemExit("--conf needs at least one k=v")
        to_a, to_b = conf_switches(spark, conf)
        sides = [("a", sides[0][1], to_a), ("b", sides[0][1], to_b)]
    warm_up(spark, [sf_dir], sides[-1][1][names[0]])

    def show(label: str, sec: float, digits: int) -> str:
        return f"{label}={sec:.{digits}f}" if label else f"{sec:.{digits}f}"

    best: dict[tuple[str, str], float] = {}
    for r in range(reps):
        parts = []
        for name in names:
            for label, reg, switch in sides if r % 2 == 0 else sides[::-1]:
                if switch is not None:
                    switch()
                sec, _, _ = timed(
                    spark, f"ab:{name}", lambda: reg[name](spark, sf_dir), action
                )
                best[label, name] = min(best.get((label, name), sec), sec)
                parts.append(f"{name} {show(label, sec, 3)}")
            if sides[0][2] is not None:
                sides[0][2]()  # back on side A before the next query
        print(f"round {r}: " + " | ".join(parts), flush=True)
    print("--- best-of ---")
    for n in names:
        secs = [best[label, n] for label, _, _ in sides]
        cols = [show(label, sec, 4) for (label, _, _), sec in zip(sides, secs)]
        if len(sides) == 2:
            cols.append(f"{sides[1][0]}/{sides[0][0]}={secs[1] / secs[0]:.3f}")
        print("\t".join([n, *cols]))
    spark.stop()


if __name__ == "__main__":
    main()
