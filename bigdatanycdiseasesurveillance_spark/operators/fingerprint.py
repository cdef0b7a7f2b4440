"""Document fingerprinting via winnowing (rolling k-gram hashes).

The standard content-fingerprinting scheme (Schleimer/Wilkerson/Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):
hash every character k-gram, slide a window of w hashes, keep each
window's minimum — any shared substring of length >= k + w - 1 is
guaranteed to surface as a shared fingerprint. The reference's dedup
tiers stop at whole-text hash + TF-IDF + embeddings
(deduplication_consumer.py); fingerprinting adds the
partial-overlap/containment tier a training-data pipeline needs
(quote detection, boilerplate, near-containment) that whole-doc
signatures cannot see.

Two implementations, cross-checked equal in tests:

- `winnow_fingerprints` — pure column expressions. The polynomial
  hash is exact 64-bit integer arithmetic ((acc*257 + code) % 1e9+7),
  so DuckDB replays it bit-for-bit: this is the oracle-parity path.
  Cost is O(len*k) expression work per doc (each gram refolds its k
  chars) — fine up to ~1e4-char docs.
- `winnow_fingerprints_rolling` — mapInPandas true rolling hash,
  O(len) per doc (one multiply/add/subtract per slide). The hot path
  for long documents at corpus scale; same (k, w, B, M) parameters,
  identical output set.

Scale notes: fingerprints are (id, fp) rows — linear in corpus size.
Pair generation buckets on the fingerprint value (equi-join), never
all-pairs; template-heavy corpora concentrate mass in a few
fingerprints, so `fingerprint_pairs` drops fingerprints shared by more
than `max_df` docs first (the classic common-shingle cutoff — those
carry no discriminating signal and would square the bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K, W = 8, 4  # gram size, window size -> guarantee threshold k+w-1 = 11
B, M = 257, 1_000_000_007  # polynomial base / modulus (exact in int64)


def winnow_set(text_col: Column) -> Column:
    """Distinct winnowed fingerprints of a text column as array<long>.
    Pure column expressions; exact integer arithmetic both Spark and
    DuckDB reproduce bit-for-bit."""
    k, w = K, W

    empty = F.array().cast("array<long>")

    def with_chars(chars: Column) -> Column:
        # `chars` is a lambda variable: binding split() through a
        # one-element transform stops Catalyst from inlining (and
        # re-evaluating) the split per reference.
        n = F.size(chars)

        def gram_hash(i: Column) -> Column:
            return F.aggregate(
                F.sequence(i, i + F.lit(k - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: (acc * B + F.ascii(F.element_at(chars, j.cast("int")))) % M,
            )

        # sequence(1, x) with x < 1 generates a DESCENDING range — the
        # when() guards keep short texts on the empty branch (CaseWhen
        # branches evaluate lazily per row).
        hashes = F.when(
            n >= k, F.transform(F.sequence(F.lit(1), n - k + 1), gram_hash)
        ).otherwise(empty)

        def with_hashes(h: Column) -> Column:
            # second binding level: `h` as a lambda variable, or every
            # window's slice would re-fold all gram hashes (the same
            # inlining trap, one layer up).
            nh = F.size(h)
            return F.when(
                nh >= w,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), nh - w + 1),
                        lambda j: F.array_min(F.slice(h, j, w)),
                    )
                ),
            ).otherwise(empty)

        return F.transform(F.array(hashes), with_hashes)[0]

    return F.transform(F.array(F.split(text_col, "")), with_chars)[0]


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) rows of (doc_id, text) rows — one row per
    distinct winnowed fingerprint per document. Column-expression path
    (oracle-parity)."""
    return df.select(
        F.col("doc_id"), F.explode(winnow_set(F.col("text"))).alias("fingerprint")
    )


def winnow_fingerprints_rolling(df: DataFrame) -> DataFrame:
    """Same contract as winnow_fingerprints, O(len) per doc: one
    multiply/add/subtract per slide instead of refolding k chars per
    gram. Arrow-batched mapInPandas — the long-document hot path."""
    schema = "doc_id long, fingerprint long"
    k, w = K, W

    def gen(batches):  # closure: executors never import this repo
        import pandas as _pd

        bk = pow(B, k, M)  # drop-term weight for the sliding update
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = text or ""
                if len(s) < k + w - 1:
                    continue
                codes = [ord(c) for c in s]
                h = 0
                hashes = []
                for i, c in enumerate(codes):
                    h = (h * B + c) % M
                    if i >= k:
                        h = (h - codes[i - k] * bk) % M
                    if i >= k - 1:
                        hashes.append(h)
                seen = set()
                for j in range(len(hashes) - w + 1):
                    m = min(hashes[j : j + w])
                    if m not in seen:
                        seen.add(m)
                        ids.append(doc_id)
                        fps.append(m)
            yield _pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    from ..tables import parallelize_scan

    # rolling hash is Python-per-doc — rebalance single-split scans
    return parallelize_scan(df.select("doc_id", "text")).mapInPandas(gen, schema)


def fingerprint_pairs(df: DataFrame) -> DataFrame:
    """Near-dup/containment candidate pairs of (doc_id, text) rows: docs
    sharing >= 3 winnowed fingerprints, after dropping fingerprints
    present in more than 50 docs (common-shingle cutoff — no discriminating signal,
    quadratic buckets). Bucketed equi-join on the fingerprint: shuffle
    is linear in the fingerprint table, never all-pairs.
    Returns (id_a, id_b, n_shared)."""
    from ..tables import parallelize_scan

    # The winnow expression is O(len*k) per doc — quadratic-class
    # per-row compute on a byte-small scan, so (r14) the input is
    # round-robin-spread across the cores (a single-row-group bench
    # corpus otherwise runs it on ONE task; at 100 TB the scan has
    # thousands of splits and this is a no-op), and the fingerprint
    # table is lazily checkpointed: it feeds the rare-fingerprint
    # aggregate AND both sides of the self-join, and each consumer —
    # two of them broadcast-exchange futures — was re-computing the
    # whole winnow pass (profiled r14: three single-task 3.4-4.8 s jobs
    # inside dedup_fingerprint_pairs' 13 s warm time; ~1.5 s after).
    fps = winnow_fingerprints(parallelize_scan(df.select("doc_id", "text"))).localCheckpoint(
        eager=False
    )
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") <= 50)
        .select("fingerprint")
    )
    kept = fps.join(rare, "fingerprint")
    a = kept.select(F.col("fingerprint"), F.col("doc_id").alias("id_a"))
    b = kept.select(F.col("fingerprint"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
