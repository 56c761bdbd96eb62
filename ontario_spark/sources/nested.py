"""Nested-document reference paths: ``a/b`` struct access, ``a[*]``
array iteration, RML-style logical-source iterators.

Re-expresses the reference's nested/array handling for XML/JSON sources
(``ontario/wrappers/spark/sparql2sparksql.py``: rowTag iterator :79-95,
hand-built nested schemas :150-171; path → ``LATERAL VIEW explode`` SQL
in ``ontario/wrappers/spark/utils.py:460-583``, dotted struct access
:159-173) as DataFrame transforms: each distinct array prefix is
exploded exactly ONCE (shared by all references through it, exactly
like the reference's one lateral view per array), struct fields are
dotted ``Column`` access, and the row unit is the ``LogicalSource``
iterator (RML ``rml:iterator`` / XML ``rowTag``).

Path grammar::

    segment       := field-name | field-name "[*]"
    path          := segment ("/" segment)*    -- relative to iterator
    parent path   := "../" path                -- escapes to the root
                                               -- (beyond RML; avoids a
                                               -- parent-join triple map
                                               -- for enclosing fields)

Explode uses ``explode`` (not ``_outer``): an empty array produces no
rows = no triples, matching RML iteration semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PARENT = "../"


def is_nested(path: str) -> bool:
    return "/" in path or "[*]" in path


def _array_prefixes(path: str) -> list[str]:
    """All prefixes of ``path`` that end in an array segment, shallowest
    first. ``a[*]/b/c[*]/d`` → [``a[*]``, ``a[*]/b/c[*]``]."""
    out, cur = [], []
    for seg in path.split("/"):
        cur.append(seg)
        if seg.endswith("[*]"):
            out.append("/".join(cur))
    return out


class PathResolver:
    """Flattens a nested DataFrame so that a set of reference paths all
    become plain top-level columns.

    Usage::

        pr = PathResolver(df, iterator="customers[*]")
        df2 = pr.prepare(["c_name", "orders[*]/o_id", "../n_name"])
        # pr.col("orders[*]/o_id") etc. are valid Columns of df2
    """

    def __init__(self, df: DataFrame, iterator: str | None = None):
        self.df = df
        self._exploded: dict[str, str] = {}  # array-prefix → flat alias
        self._n = 0
        self.iterator = iterator or ""
        if self.iterator:
            self._explode_through(self.iterator)

    # --- internals ------------------------------------------------------

    def _alias(self) -> str:
        self._n += 1
        return f"__nx{self._n}"

    def _expr_for(self, path: str) -> Column:
        """Column expression for an ABSOLUTE path whose array prefixes
        have all been exploded already."""
        base: str | None = None
        rest = path
        # longest exploded prefix wins
        for pref in sorted(self._exploded, key=len, reverse=True):
            if path == pref:
                return F.col(self._exploded[pref])
            if path.startswith(pref + "/"):
                base = self._exploded[pref]
                rest = path[len(pref) + 1 :]
                break
        dotted = rest.replace("/", ".")
        return F.col(f"{base}.{dotted}" if base else dotted)

    def _explode_through(self, path: str) -> None:
        """Ensure every array prefix of ``path`` is exploded (once)."""
        for pref in _array_prefixes(path):
            if pref in self._exploded:
                continue
            inner = pref[: -len("[*]")]  # strip the trailing [*]
            alias = self._alias()
            self.df = self.df.withColumn(alias, F.explode(self._expr_for(inner)))
            self._exploded[pref] = alias

    def _absolute(self, path: str) -> str:
        if path.startswith(PARENT):
            return path[len(PARENT) :]
        if self.iterator:
            return f"{self.iterator}/{path}"
        return path

    # --- public ---------------------------------------------------------

    def prepare(self, paths: list[str]) -> DataFrame:
        """Explode all array prefixes used by ``paths``; returns the
        flattened DataFrame (also kept as ``self.df``)."""
        for p in paths:
            self._explode_through(self._absolute(p))
        return self.df

    def col(self, path: str) -> Column:
        """Column for an iterator-relative reference path. Must be
        called after ``prepare`` covered the path."""
        return self._expr_for(self._absolute(path))
