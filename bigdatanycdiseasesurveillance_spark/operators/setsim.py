"""Prefix-filtering set-similarity join (AllPairs/PPJoin candidate
scheme, Bayardo et al. WWW'07 / Xiao et al. ICDE'08).

EXACT Jaccard join without blocking columns and without all-pairs: the
complete answer for ``jaccard(A,B) >= t`` over the whole corpus. The
blocked ``dedup.jaccard_pairs`` needs a block key (source, length) and
misses cross-block pairs; MinHash trades recall for speed. This
operator has neither limitation:

1. order every document's token set by GLOBAL token frequency
   (rarest first) — the ordering key is the (freq, token) struct
   itself, so no global rank/row_number over the vocabulary is needed;
2. index only each set's PREFIX — the first ``|A| - ceil(t*|A|) + 1``
   tokens. Theorem (prefix filter): two sets with Jaccard >= t must
   share at least one token inside both prefixes under any common
   total order. Candidates = prefix-token equi-join; exact verify after.

Why it scales: prefix tokens are by construction the RAREST tokens in
each document, so the equi-join buckets are tiny and skew-free — the
frequency order is simultaneously the correctness device and the skew
device. Shuffles: one groupBy(token) for frequencies, one
groupBy(doc) to rebuild sorted sets, one equi-join on prefix tokens.
All linear in corpus token count.

The reference's dedup consumer compares each new doc against a cached
window of recent docs (reference:
src/spark_consumers/deduplication_consumer.py:150-210) — a sliding
subset, not the full corpus. This is the full-corpus exact equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_funcs import distinct_tokens, word_jaccard
from .sampling import hash_deviate, md5_long


def _ceil_mul_div(sz, threshold: float):
    """ceil(threshold * sz) in exact integer arithmetic: the threshold
    becomes a num/den Fraction (the same integers the verify stage
    uses), and ceil(num*sz/den) = (num*sz + den - 1) DIV den — so
    boundary-landing products never ride float rounding. sz is a set
    size (< 2^20), so the integer arithmetic is exact in any width."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    return F.floor((sz * F.lit(num) + F.lit(den - 1)) / F.lit(den)).cast("int")


# prefix_filter_jaccard_pairs' Jaccard cut-off
PREFIX_JACCARD_THRESHOLD = 0.7


def prefix_filter_jaccard_pairs(df: DataFrame) -> DataFrame:
    """All pairs of (doc_id, text) rows with word-Jaccard >=
    PREFIX_JACCARD_THRESHOLD, exactly.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    4 (round-on-both-sides parity rule).
    """
    threshold = PREFIX_JACCARD_THRESHOLD
    toks = df.select(
        F.col("doc_id").alias("id"), F.expr(distinct_tokens("text")).alias("tok")
    ).filter(F.size("tok") > 0)

    tok_doc = toks.select("id", F.explode("tok").alias("t"))
    freq = tok_doc.groupBy("t").agg(F.count("*").alias("f"))

    # Rebuild each set sorted rare-token-first; (f, t) is a total order.
    ordered = (
        tok_doc.join(freq, "t")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("f", "t"))), lambda s: s["t"]
            ).alias("stok")
        )
    )

    # prefix length |A| - ceil(t*|A|) + 1 (>= 1 always), computed with
    # the SAME num/den integers as the verify stage: float ceil can
    # overshoot by 1 when t*|A| lands on an integer with adverse
    # rounding, silently shortening the prefix (a recall hole)
    sz = F.size("stok")
    plen = sz - _ceil_mul_div(sz, threshold) + F.lit(1)
    prefixes = ordered.select(
        "id", F.explode(F.slice("stok", 1, plen)).alias("pt")
    )

    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), F.col("a.pt") == F.col("b.pt"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    j = F.expr(word_jaccard("ta.stok", "tb.stok"))
    return (
        cand.join(ordered.alias("ta"), F.col("id_a") == F.col("ta.id"))
        .join(ordered.alias("tb"), F.col("id_b") == F.col("tb.id"))
        .select("id_a", "id_b", F.round(j, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Corpus-linear pair STATISTICS (the bounded verification surface).
#
# The pair-list emitters above are exact but their OUTPUT is quadratic on
# near-dup-heavy corpora (the templated test corpus has ~5M qualifying
# pairs over 5k docs at sf0.1 — any emitter is output-bound there). The
# stats variants below keep the candidate algorithms — prefix filtering /
# MinHash-LSH banding — but run them over the DISTINCT-TOKEN-SET relation
# and fold the pair multiset into one multiplicity-weighted row:
#
#   (n_docs, n_sets, n_pairs, jaccard_sum_e4, pair_digest)
#
# Two docs with the same token set have identical similarity relations to
# every other doc, so collapsing to distinct sets with a count `c` loses
# nothing: a qualifying set-pair (A,B) stands for c_A*c_B doc pairs, and a
# set with c >= 2 stands for C(c,2) internal pairs at jaccard exactly 1.0.
# All arithmetic is integer-exact (jaccard as round-half-up 1e-4 fixed
# point via (20000*i + u) DIV (2*u)), so a DuckDB oracle replays it
# bit-for-bit; the digest is an order-insensitive modular sum of md5 term
# hashes — the repo's standard checksum device (dq_rowhash_checksum).
#
# Token sets ride as 64-bit BITMASKS (token id = alphabetical rank), so
# the exact verify is two popcounts instead of an array intersect. The
# mask kernel is gated on vocabulary <= 63; that is precisely the regime
# where pair emitters explode (tiny vocab => everything is similar). For
# real open-vocabulary corpora the candidate buckets are small and the
# scale contracts are prefix_filter_jaccard_pairs (pair list) and
# dedup.duplicate_groups (linear connected components).
# ---------------------------------------------------------------------------

DIGEST_MOD = 1_000_003


def weighted_digest(*keys: str):
    """The order-insensitive pair digest: sum over rows of column
    w * (md5 of the ':'-joined keys mod DIGEST_MOD), mod DIGEST_MOD. An
    aggregate Column; it is null over no rows, so callers coalesce."""
    hv = md5_long(F.concat_ws(":", *[F.col(k).cast("string") for k in keys]))
    return F.sum((F.col("w") * (hv % DIGEST_MOD)) % DIGEST_MOD) % DIGEST_MOD


def mask_relation(df: DataFrame, extra_cols: tuple = (), keep_empty: bool = False):
    """(toks, masks) of (doc_id, text) rows: toks = (id, tok array,
    *extra); masks = (id, mask, *extra) — one row per document, mask = the token-set bitmask under
    the alphabetical token dictionary. Raises when the vocabulary
    exceeds 63 tokens (mask kernel domain — see the module rationale:
    tiny-vocab corpora are exactly where pair emitters explode).
    ``extra_cols`` are Column expressions (or names) carried through —
    block keys like source / length bucket. ``keep_empty`` keeps docs
    with an empty token set as mask 0 (for contracts that must count
    every document)."""
    from pyspark.sql import Window

    extras = [F.col(c) if isinstance(c, str) else c for c in extra_cols]
    toks = df.select(
        F.col("doc_id").alias("id"),
        *extras,
        F.expr(distinct_tokens("text")).alias("tok"),
    )
    if not keep_empty:
        toks = toks.filter(F.size("tok") > 0)
    tok_rows = toks.select("id", F.explode("tok").alias("t"))
    vocab = tok_rows.select("t").distinct()
    n_vocab = vocab.count()  # control-plane scalar: vocabulary cardinality
    if n_vocab > 63:
        raise ValueError(
            f"bitmask set-similarity kernel needs vocabulary <= 63 tokens "
            f"(got {n_vocab}); use prefix_filter_jaccard_pairs for open vocabularies"
        )
    # alphabetical token ids — deterministic, replayable in SQL. The
    # single-partition window is over <= 63 rows.
    dict_df = vocab.select(
        "t", (F.row_number().over(Window.orderBy("t")) - 1).alias("tid")
    )
    per_doc = (
        tok_rows.join(F.broadcast(dict_df), "t")
        .groupBy("id")
        .agg(F.sum(F.expr("shiftleft(1L, tid)")).alias("mask"))
    )
    masks = toks.drop("tok").join(per_doc, "id", "left").withColumn(
        "mask", F.coalesce(F.col("mask"), F.lit(0).cast("long"))
    )
    return toks, masks


def _mask_groups(df: DataFrame):
    """(toks, g): toks = (id, tok array); g = one row per distinct
    non-empty token set: (mask, c, rep). Raises when the vocabulary
    exceeds 63 tokens (mask kernel domain)."""
    toks, masks = mask_relation(df)
    g = masks.groupBy("mask").agg(
        F.count("*").cast("long").alias("c"), F.min("id").alias("rep")
    )
    # g is consumed 4+ times downstream (both join sides, within-set
    # terms, totals); it is distinct-set-sized (tiny), so materialize it
    # once and truncate lineage instead of recomputing the corpus scan
    # per consumer.
    return toks, g.localCheckpoint(eager=False)


def _pair_stats_row(g: DataFrame, cand: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Fold candidate set-pairs (mask_a, mask_b) + within-set pairs into
    the single stats row. The exact verify (den*i >= num*u, i.e.
    jaccard >= threshold, in integers) happens here, so candidate
    schemes may overshoot but never cheat."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    ga = F.broadcast(g.select(F.col("mask").alias("mask_a"), F.col("c").alias("ca")))
    gb = F.broadcast(g.select(F.col("mask").alias("mask_b"), F.col("c").alias("cb")))
    cross = (
        cand.join(ga, "mask_a")
        .join(gb, "mask_b")
        .withColumn("i", F.expr("bit_count(mask_a & mask_b)"))
        .withColumn("u", F.expr("bit_count(mask_a | mask_b)"))
        .filter(f"{den} * i >= {num} * u")
        .select(
            (F.col("ca") * F.col("cb")).alias("w"),
            F.expr("(20000 * i + u) DIV (2 * u)").alias("je4"),
            "mask_a",
            "mask_b",
        )
    )
    within = g.filter("c >= 2").select(
        F.expr("c * (c - 1) DIV 2").alias("w"),
        F.lit(10000).cast("long").alias("je4"),
        F.col("mask").alias("mask_a"),
        F.col("mask").alias("mask_b"),
    )
    terms = cross.unionByName(within)
    stats = terms.agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.col("w") * F.col("je4")), F.lit(0))
        .cast("long")
        .alias("jaccard_sum_e4"),
        F.coalesce(weighted_digest("mask_a", "mask_b", "je4"), F.lit(0))
        .cast("long")
        .alias("pair_digest"),
    )
    totals = g.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sets"),
    )
    return stats.crossJoin(F.broadcast(totals)).select(
        "n_docs", "n_sets", "n_pairs", "jaccard_sum_e4", "pair_digest"
    )


def jaccard_pair_stats(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold, folded to the stats row.

    Candidates come from the SAME prefix-filter scheme as
    prefix_filter_jaccard_pairs (rarest-token prefixes under a global
    frequency order), run over the distinct-set relation; the oracle is
    brute force over all set pairs — so a prefix-filter recall bug goes
    red on n_pairs/digest, which is the point of the surface."""
    toks, g = _mask_groups(df)

    gt = g.join(toks, g["rep"] == toks["id"]).select(
        "mask", F.explode("tok").alias("t")
    )
    freq = gt.groupBy("t").agg(F.count("*").alias("f"))
    ordered = (
        gt.join(freq, "t")
        .groupBy("mask")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("f", "t"))), lambda s: s["t"]
            ).alias("stok")
        )
    )
    sz = F.size("stok")
    plen = sz - _ceil_mul_div(sz, threshold) + F.lit(1)
    # The candidate rule is still the prefix-filter theorem — a pair is
    # a candidate iff the two rarest-token PREFIXES intersect — but on a
    # <=63-token vocabulary it evaluates as one popcount over prefix
    # BITMASKS instead of a prefix-token equi-join: with a tiny vocab
    # the join has <=63 buckets of ~0.3n sets each, emitting ~3n^2
    # pre-distinct candidate rows (6x worse than brute force — the
    # measured sf1 tail), while the bitmask form is n^2/2 popcounts on
    # the distinct-set relation with no shuffle amplification. A recall
    # bug in the prefix rule still flips n_pairs/digest red against the
    # brute-force oracle; the equi-join IMPLEMENTATION (the open-vocab
    # scale path, where buckets are rare-token-small) remains exercised
    # by prefix_filter_jaccard_pairs.
    # prefix token -> bit id via the same alphabetical dictionary the
    # set masks use (rebuilt here from the distinct-token relation)
    from pyspark.sql import Window as _W

    dict_df = (
        gt.select("t")
        .distinct()
        .select("t", (F.row_number().over(_W.orderBy("t")) - 1).alias("tid"))
    )
    pmasks = (
        ordered.select("mask", F.explode(F.slice("stok", 1, plen)).alias("t"))
        .join(F.broadcast(dict_df), "t")
        .groupBy("mask")
        .agg(F.sum(F.expr("shiftleft(1L, tid)")).alias("pmask"))
        .localCheckpoint(eager=False)
    )
    a = pmasks.select(F.col("mask").alias("mask_a"), F.col("pmask").alias("pa"))
    b = pmasks.select(F.col("mask").alias("mask_b"), F.col("pmask").alias("pb"))
    cand = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("mask_a") < F.col("mask_b"))
        .filter(F.expr("bit_count(pa & pb) > 0"))
        .select("mask_a", "mask_b")
    )
    return _pair_stats_row(g, cand, threshold)


def minhash_md5_pair_stats(df: DataFrame) -> DataFrame:
    """MinHash-LSH (md5 hash family) candidate pairs, exact-verified and
    folded to the stats row. The FULL banding pipeline runs — per-seed
    md5 hashes, groupBy-min signatures, band equi-join — over distinct
    token sets; the oracle replays the identical hash family, so a
    banding bug changes the candidate set and goes red."""
    toks, g = _mask_groups(df)
    return _pair_stats_row(g, minhash_md5_set_candidates(mask_token_rows(g, toks)))


# ---------------------------------------------------------------------------
# Set-level (distinct-mask) LSH machinery for the bounded dedup contracts.
#
# Every signature family here (md5 MinHash, xxhash MinHash, SimHash) is a
# pure function of the token SET, so running the banding over one
# representative per distinct set yields the exact doc-level candidate
# relation: doc pair (a, b) is a candidate iff set pair (set(a), set(b))
# is. Combined with multiplicity weights this collapses every pair-verify
# contract from O(qualifying doc pairs) — quadratic on template-heavy
# corpora, the normal 100 TB crawl case — to O(distinct-set pairs).
# ---------------------------------------------------------------------------


def je4_expr(mask_a: str = "mask_a", mask_b: str = "mask_b"):
    """Round-half-up 1e-4 fixed-point Jaccard of two set bitmasks:
    (20000*i + u) DIV (2*u) — the repo's exact rounding device, so a
    DuckDB oracle replays it bit-for-bit (je4 >= 7000 is equivalent to
    round(jaccard, 4) >= 0.7)."""
    return F.expr(
        f"(20000 * bit_count({mask_a} & {mask_b}) + bit_count({mask_a} | {mask_b}))"
        f" DIV (2 * bit_count({mask_a} | {mask_b}))"
    )


def mask_token_rows(g: DataFrame, toks: DataFrame) -> DataFrame:
    """(mask, t) token rows, one per (distinct set, member token), via
    each set's representative document. Input g must carry (mask, rep);
    toks is the (id, tok) relation from mask_relation."""
    return g.join(toks, g["rep"] == toks["id"]).select(
        "mask", F.explode("tok").alias("t")
    )


MD5_MINHASH_HASHES = 16  # md5-MinHash signature length ...
MD5_MINHASH_BANDS = 4  # ... split into 4 bands of 4 slots


def md5_token_vocab_hashes(tok_rows: DataFrame, salts=None) -> DataFrame:
    """Seeded md5 hashes of the `t` column computed over the DISTINCT
    token vocabulary, not the token stream: one row per distinct token with
    one hash_deviate column per (alias, salt) pair — join back to the
    token rows to attach them. "Hash the vocabulary, not the stream":
    md5 depends only on (salt, token), so hashing per (carrier, token)
    row repeats every hash once per occurrence; this computes each
    exactly once (vocab-sized work) and lets AQE broadcast the vocab
    table when it is small. Bit-identical values to the inline
    formulation by construction. Honest measurement: on the synthetic
    corpus (31-token vocabulary, set-collapsed carriers) the end-to-end
    sf1 effect is ~-20% on dedup_minhash_md5 / source_overlap and
    within run noise elsewhere — banding and verify dominate there; the
    structural win (occurrences x seeds -> vocab x seeds hash calls) is
    what matters at web-scale vocab-to-occurrence ratios.

    salts: list of (column_alias, salt); defaults to the MinHash
    family, salts "0".."15".

    Deliberate double-scan: the vocab ``distinct()`` and the caller's
    join-back both recompute the tok_rows lineage (scan + tokenize +
    explode), so input work runs twice. A ``localCheckpoint`` on
    tok_rows would dedupe that, but it materializes the EXPLODED token
    stream (corpus-scale rows) to executor-local disk — at 100 TB that
    write dwarfs a second columnar scan with column pruning. A/B at
    sf0.1 (r10): checkpoint 0.66-1.12s vs plain 0.89s on the signature
    stage — within noise — while the vocab-sized hashing win it enables
    is the measured -20% at sf1. Callers with a cheap, narrow tok_rows
    lineage may checkpoint at the call site; the helper stays lazy."""
    if salts is None:
        salts = [(f"h{s}", str(s)) for s in range(MD5_MINHASH_HASHES)]
    vocab = tok_rows.select("t").distinct()
    return vocab.select("t", *[hash_deviate(F.col("t"), salt).alias(a) for a, salt in salts])


def minhash_md5_set_bands(mask_toks: DataFrame) -> DataFrame:
    """md5-MinHash band rows (mask, band, bsig) over the (mask, t)
    token rows: the one band builder. The key need not be a set mask —
    operators.dedup.minhash_md5_pairs keys it by doc id — and the
    banding depends only on the token set, so doc-level oracles and
    set-level contracts agree exactly."""
    rows_per_band = MD5_MINHASH_HASHES // MD5_MINHASH_BANDS
    # vocab-sized hashing (md5_token_vocab_hashes): bit-identical, but
    # each (seed, token) md5 runs once, not once per set-token row
    hashed = mask_toks.join(md5_token_vocab_hashes(mask_toks), "t")
    sig = hashed.groupBy("mask").agg(
        *[F.min(f"h{s}").alias(f"mh{s}") for s in range(MD5_MINHASH_HASHES)]
    )
    # one explode, not a bands-way union: a union re-evaluates the whole
    # signature chain per branch
    banded = sig.select(
        "mask",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(MD5_MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("mask", "bb.band", "bb.bsig")
    # both sides of the band self-join (and any new-vs-old probe) read
    # this relation — one materialization, distinct-set-sized
    return banded.localCheckpoint(eager=False)


def minhash_md5_set_candidates(mask_toks: DataFrame) -> DataFrame:
    """Distinct candidate pairs (mask_a < mask_b) that share at least
    one md5-MinHash band: the band self-join, unverified."""
    banded = minhash_md5_set_bands(mask_toks)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bsig"])
        .filter(F.col("a.mask") < F.col("b.mask"))
        .select(F.col("a.mask").alias("mask_a"), F.col("b.mask").alias("mask_b"))
        .distinct()
    )


def minhash_md5_set_dup_pairs(mask_toks: DataFrame) -> DataFrame:
    """Verified near-dup DISTINCT-SET pairs (mask_a < mask_b, je4) from
    the md5-MinHash band join: the set-level image of
    operators.dedup.minhash_md5_pairs (round(jaccard,4) >= 0.7). Identical
    sets (jaccard 1.0) are NOT emitted here — they are the within-group
    terms callers weight by C(c, 2)."""
    cand = minhash_md5_set_candidates(mask_toks)
    return cand.withColumn("je4", je4_expr()).filter(F.col("je4") >= 7000)
