"""Corpus snapshot versioning: diff two corpus versions by key and
content hash — the bookkeeping step of incremental training-data
pipelines (what changed since the last crawl / ingest / cleaning run,
which shards need re-embedding, what to retract from the index).

Reference scope note: SDM-TIB/Ontario has no data-versioning story at
all (it is a read-only federation mediator); this belongs to the
beyond-reference training-pipeline tier (SURVEY.md §2.5 posture).

Scale notes (design target ~100 TB on a 1000-executor cluster):

- ONE full-outer hash join on the snapshot key. Each side is reduced
  to ``(key, md5)`` BEFORE the shuffle, so the shuffle payload is
  ~48 bytes/doc regardless of document size — the same cost class as
  exact dedup, linear in corpus size.
- The content hash is md5 over the concatenated content columns
  (engine-portable: DuckDB's md5 agrees bit-for-bit), so diffs are
  resumable and cross-engine verifiable.
- No driver-side state: classification is a CASE over the join's
  null pattern, and the summary is one map-side-combinable aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# column/separator constants shared with the oracle contract: content
# columns join with the ASCII unit separator, NULL cells map to '' —
# callers that must distinguish NULL from '' should add an explicit
# presence column to content_cols
_SEP = "\x1f"  # ASCII unit separator (DuckDB: chr(31))


def content_hash(df: DataFrame, content_cols: tuple[str, ...]) -> "F.Column":
    # df[c] binds each column to THIS frame (a bare F.col would resolve
    # against whatever frame the expression lands on — review fix)
    cols = [F.coalesce(df[c].cast("string"), F.lit("")) for c in content_cols]
    return F.md5(F.concat_ws(_SEP, *cols))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Classify every key across two corpus snapshots:
    ``added`` (key only in ``new``), ``removed`` (only in ``old``),
    ``changed`` (both, content hash differs), ``unchanged``.

    Returns (key, status, old_hash, new_hash). ``key`` must be unique
    within each snapshot (the usual corpus contract); duplicate keys
    would multiply through the join rather than error.
    """
    o = old.select(
        F.col(key).alias("__vk"),
        content_hash(old, content_cols).alias("old_hash"),
    )
    n = new.select(
        F.col(key).alias("__vk_n"),
        content_hash(new, content_cols).alias("new_hash"),
    )
    j = o.join(n, o["__vk"] == n["__vk_n"], "full_outer")
    # classify on the HASH columns' nullity, not the keys': hashes are
    # never NULL for a present row (md5 over coalesce''), while a NULL
    # key never joins — keying the CASE on __vk would label an
    # old-side NULL-key row 'added' (review fix)
    return j.select(
        F.coalesce(F.col("__vk"), F.col("__vk_n")).alias(key),
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        F.col("old_hash"),
        F.col("new_hash"),
    )


def apply_changelog(
    base: DataFrame,
    changelog: DataFrame,
    key: str,
    payload: str,
    op_col: str = "op",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """MERGE-style changelog application (round 10): produce the
    post-apply snapshot of ``base`` given a CDC stream of upserts and
    deletes — the lakehouse ``MERGE INTO`` semantics (last writer per
    key wins, ordered by ``order_cols``): the key's final ``'D'``
    removes it, a final upsert sets ``payload``, untouched base keys
    pass through, and upserts for keys absent from base INSERT them.

    Scale shape: one window over the changelog keyed+ordered per key
    (picks the final op — the only changelog shuffle), one full-outer
    hash join with the base on the key. No driver state; both sides
    shuffle once. Deterministic: ``order_cols`` must form a total
    order per key (pass a tiebreaker column, e.g. an event id)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    last = (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key).alias("__k"),
            F.col(op_col).alias("__op"),
            F.col(payload).alias("__new"),
        )
    )
    b = base.select(F.col(key), F.col(payload))
    joined = b.join(last, b[key] == last["__k"], "full_outer")
    return (
        joined.filter(
            # deletes drop the key; a lone base row or an upsert stays
            (F.col("__op").isNull()) | (F.col("__op") != "D")
        )
        .select(
            F.coalesce(F.col(key), F.col("__k")).alias(key),
            F.coalesce(F.col("__new"), F.col(payload)).alias(payload),
            F.when(F.col("__op").isNull(), F.lit("unchanged"))
            .when(F.col(key).isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("status"),
        )
    )
