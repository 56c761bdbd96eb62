"""Planted hot-key probe for the round-12 window-count caps (round-13
VERDICT item 5).

Round 12 replaced three aggregate+join skew guards with
whole-partition count windows sharing an existing exchange (the df cap
in the anchor inverted index, the co-occurrence power-user cap, the
simhash band cap). The open question (VERDICT "what's wrong" item 4):
a DEGENERATE key now sorts+buffers its whole group inside one
WindowExec task before the filter drops it — WindowExec buffers via
ExternalAppendOnlyUnsafeRowArray, which spills to disk past the
in-memory threshold (4096 rows), so the expectation is graceful
degradation, not an OOM cliff. This probe PLANTS the degenerate key
and measures it at two sizes:

- df-cap window: one shingle present in HALF the corpus docs
  (anchor_containment_pairs; hot h-group = n_docs/2 rows).
- co-occurrence cap window: one user holding d items, d >> cap
  (bipartite_cooccurrence; hot u-group = d rows, dropped by the cap).
- simhash band cap: ~half the corpus is the IDENTICAL document, so
  every band's bucket for that fingerprint holds n/2 rows
  (simhash_hamming_pairs at default band_cap=200 drops the bucket).

Each site runs at 1x and 10x hot-group size; the JSON records wall
seconds, output rows, and the 10x/1x ratio. Linear-ish ratios +
completion = the window form survives the degenerate key (spill, not
cliff). Results land in SCALE_PROBE_SKEW.json; SCALE.md carries the
summary.

Usage: python tools/skew_probe.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from bench import timed
    from ontario_spark.operators.dedup import (
        anchor_containment_pairs,
        simhash_hamming_pairs,
    )
    from ontario_spark.operators.graph import bipartite_cooccurrence
    from ontario_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def measure(tag: str, df) -> dict:
        sec, _, _ = timed(spark, f"skew:{tag}", lambda: df)
        return {"sec": round(sec, 3), "rows": df.count()}

    def hot_shingle_docs(n_docs: int):
        # even ids carry the SAME leading trigram ("h0 h1 h2"), so that
        # one shingle's doc frequency is n_docs/2 — far past the
        # default max_anchor_freq=1000; odd ids are all-unique filler.
        body = F.concat_ws(
            " ",
            *[F.concat(F.lit(f"w{j}x"), F.col("id")) for j in range(8)],
        )
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 2 == 0,
                F.concat(F.lit("h0 h1 h2 "), body),
            )
            .otherwise(body)
            .alias("text"),
        )

    def hot_user_items(n_hot: int, n_users: int = 2000):
        # user 0 interacts with n_hot distinct items (>> the cap of
        # 50); every other user with 3.
        hot = spark.range(n_hot).select(
            F.lit(0).alias("u"), F.col("id").alias("i")
        )
        rest = (
            spark.range(1, n_users)
            .select(F.col("id").alias("u"))
            .select(
                "u", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
            )
            .select("u", (F.col("u") * 7 + F.col("k")).alias("i"))
        )
        return hot.unionByName(rest)

    def identical_half_docs(n_docs: int):
        # even ids are the IDENTICAL document -> identical fingerprint
        # -> one bucket per band holds n_docs/2 rows (band_cap drops
        # them); odd ids unique.
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 2 == 0,
                F.lit("the same boilerplate paragraph repeated verbatim"),
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"u{j}q"), F.col("id"))
                        for j in range(7)
                    ],
                )
            )
            .alias("text"),
        )

    out: dict[str, dict] = {}

    for tag, small, big, run in [
        (
            "dfcap_anchor_window",
            20_000,
            200_000,
            lambda n: anchor_containment_pairs(
                hot_shingle_docs(n), "doc_id", "text"
            ),
        ),
        (
            "cooccurrence_cap_window",
            10_000,
            100_000,
            lambda n: bipartite_cooccurrence(
                hot_user_items(n), "u", "i", max_items_per_user=50
            ),
        ),
        (
            "simhash_band_cap_window",
            20_000,
            200_000,
            lambda n: simhash_hamming_pairs(
                identical_half_docs(n), "doc_id", "text"
            ),
        ),
    ]:
        rec: dict = {"hot_rows_small": small // 2, "hot_rows_big": big // 2}
        try:
            rec["small"] = measure(f"{tag}@1x", run(small))
            rec["big"] = measure(f"{tag}@10x", run(big))
            rec["ratio"] = round(
                rec["big"]["sec"] / max(rec["small"]["sec"], 1e-9), 2
            )
        except Exception as ex:  # the cliff, if there is one
            rec["err"] = f"{type(ex).__name__}: {ex}"[:300]
        out[tag] = rec
        print(json.dumps({tag: rec}), flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE_SKEW.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
