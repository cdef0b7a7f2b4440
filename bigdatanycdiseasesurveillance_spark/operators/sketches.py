"""Frequency sketches: distributed Misra-Gries heavy hitters.

Two-pass design that makes a sketch result EXACT (and therefore
driver-oracle-able):

1. candidate pass — per-partition Misra-Gries summaries with
   k = ceil(1/phi) counters, maintained across the partition's Arrow
   batches inside one mapInPandas closure. Pigeonhole guarantee: any
   item with global frequency > n/k exceeds n_p/k in at least one
   partition, so the union of partition summaries is a SUPERSET of the
   true heavy hitters. Summary size is k items per partition — fixed,
   tiny — regardless of data volume.
2. exact pass — count ONLY the candidates (left-semi join) and apply
   the threshold in exact integer arithmetic (cnt * denom > total).

At 100 TB: pass 1 is a full scan with O(k) state per task and O(k x
partitions) rows emitted; pass 2 aggregates a vocabulary-sized set.
The full groupBy-every-token shuffle never happens for the skewed
long tail — exactly the reason to sketch.

The mapInPandas function is a closure (pickle-by-value): executors do
not have this repo on sys.path under the round driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import hash_deviate


# heavy hitter := frequency strictly > total / HH_DENOM
HH_DENOM = 64


def misra_gries_candidates(items: DataFrame) -> DataFrame:
    """Per-partition Misra-Gries summaries with k = HH_DENOM counters,
    unioned and deduped. `items` is a one-column frame of `token`
    occurrences (pre-exploded). Returns a DataFrame of candidate `token`
    values."""
    k = HH_DENOM

    def mg(batches):
        import pandas as _pd

        counters: dict = {}
        for pdf in batches:
            for v in pdf.iloc[:, 0]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    dead = [u for u in counters if counters[u] == 1]
                    for u in dead:
                        del counters[u]
                    for u in counters:
                        counters[u] -= 1
        yield _pd.DataFrame({"token": list(counters.keys())})

    from ..tables import parallelize_scan

    # pass 1 is Python-per-item; more partitions only ENLARGE the
    # candidate superset (k per partition), never lose a heavy hitter,
    # and pass 2 recounts exactly — so the rebalance is result-safe
    return parallelize_scan(items).mapInPandas(mg, schema="token string").distinct()


def heavy_hitters_exact(items: DataFrame) -> DataFrame:
    """`token` values with frequency strictly greater than
    total/HH_DENOM, exactly: Misra-Gries candidates (k = HH_DENOM
    counters) then an exact count of candidates only. Returns
    (token, cnt) gated in integer arithmetic."""
    cand = misra_gries_candidates(items)
    total = items.count()  # scalar; one job, no per-row driver work
    return (
        items.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") * HH_DENOM > F.lit(total))
    )


# --- count-min sketch (md5-replayable, mergeable) ----------------------


def cms_bucket(col, d: int, width: int):
    """CMS bucket for depth row ``d``: md5-derived 60-bit hash mod width.
    SQL twin: CAST(('0x'||substr(md5('cms:{d}:'||x),1,15)) AS BIGINT) %
    width — DuckDB reproduces it bit-for-bit, so sketches built here are
    oracle-checkable exactly (same family as minhash_md5_pairs)."""
    return hash_deviate(col, f"cms:{d}") % width


# count-min sketch shape: CMS_DEPTH hash rows of CMS_WIDTH counters
CMS_WIDTH = 32
CMS_DEPTH = 4


def cms_table(items: DataFrame) -> DataFrame:
    """Count-min sketch of the `user_key` column in relational form: one
    row per (d, bucket) with its counter. Mergeable: the sketch of a
    union of corpora is SUM(cnt) grouped by (d, bucket) over the
    per-corpus sketches — the same re-aggregable-partials contract as
    the HLL partials query.

    Scale shape: one scan; the shuffle carries at most depth x width
    rows per map task (map-side combine), never the raw items — this is
    the whole point of sketching a 100 TB column whose exact groupBy
    would shuffle billions of distinct keys.
    """
    width, depth = CMS_WIDTH, CMS_DEPTH
    v = F.col("user_key").cast("string")
    buckets = items.select(
        *[cms_bucket(v, d, width).alias(f"b{d}") for d in range(depth)]
    )
    stacked = buckets.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        F.col(f"b{d}").alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.bucket")
    return stacked.groupBy("d", "bucket").agg(F.count("*").cast("long").alias("cnt"))


def cms_estimates(queries: DataFrame, cms: DataFrame) -> DataFrame:
    """Point-query estimates of `user_key` values against a built
    sketch: est(x) = min over depth rows of counter[d][bucket_d(x)] (0
    when a bucket is absent — only possible for items outside the
    sketched corpus). The sketch is depth x width rows, so the join
    broadcasts; query volume streams."""
    width, depth = CMS_WIDTH, CMS_DEPTH
    v = F.col("user_key").cast("string")
    qb = queries.select(
        F.col("user_key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        cms_bucket(v, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s"),
    ).select("user_key", "s.d", "s.bucket")
    return (
        qb.join(F.broadcast(cms), ["d", "bucket"], "left")
        .groupBy("user_key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
