"""Document deduplication for large-scale training-data pipelines.

All hot paths are Catalyst expressions (explode + hash + hash-aggregate) —
the shapes that survive 100 TB:

* exact        — one hash aggregate on the normalized text;
* MinHash+LSH  — shingle → k minhashes (k `min(xxhash64(shingle, seed))`
                 aggregates in ONE pass) → band buckets → bucket equi-join →
                 candidate pairs → optional exact-Jaccard verification;
* SimHash      — 64-bit signature via per-bit weighted majorities, banded
                 Hamming join;
* n-gram Jaccard — exact similarity through an inverted-index self-join on
                 shared shingles (never a cross join): |A∩B| from the join,
                 |A∪B| = |A|+|B|−|A∩B|.
"""

from __future__ import annotations

import warnings
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.exprs import let_


class _DefaultCap(int):
    """Sentinel subclass marking a cap value the caller did NOT choose."""


def _resolve_cap(cap, what: str, fn: str):
    """Caps that silently reduce recall must not be silent: when the caller
    relies on the default, warn once per call site (Python's default warning
    filter dedups) so the behavior is observable; an explicitly passed value
    — including None — is the caller's informed choice and stays quiet."""
    if isinstance(cap, _DefaultCap):
        warnings.warn(
            f"{fn}: default {what}={int(cap)} is active — groups over the cap "
            "are dropped from candidate generation (recall contract in the "
            f"docstring). Pass {what} explicitly (or None for the unbounded "
            "exact behavior) to silence this.",
            RuntimeWarning,
            stacklevel=3,
        )
        return int(cap)
    return cap


def _norm_text(col):
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def words(col):
    return F.split(_norm_text(col), " ")


def word_ngrams(col, n: int):
    """Distinct word n-grams via a higher-order transform (JVM-side).

    The words array is let-bound (`let_`) before the positional lambda:
    lambdas don't get subexpression elimination, so an inline `split` here
    would re-tokenize the document O(positions x n) times — the bound form
    is 23x faster on the minhash shingle stage (see core/exprs.py)."""
    return let_(
        words(col),
        lambda w: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
                lambda p: F.concat_ws(" ", *[F.element_at(w, (p + i + 1).cast("int")) for i in range(n)]),
            )
        ),
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry=(),
) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per group, count
    duplicates.  One hash aggregate.

    ``carry`` lists attribute columns to keep from the representative
    (smallest-id) row — carried through the SAME aggregate via
    ``min(struct(id, carry...))``, so composing "dedup + representative
    attributes" costs one scan instead of a join back to the input (which
    would scan the text table twice at 100-TB scale)."""
    if not carry:
        return (
            df.groupBy(_norm_text(F.col(text_col)).alias("_norm"))
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
            .drop("_norm")
        )
    rep = F.min(F.struct(F.col(id_col), *[F.col(c) for c in carry])).alias("_rep")
    out = (
        df.groupBy(_norm_text(F.col(text_col)).alias("_norm"))
        .agg(rep, F.count("*").alias("dup_count"))
        .drop("_norm")
    )
    return out.select(
        F.col("_rep")[id_col].alias(id_col),
        "dup_count",
        *[F.col("_rep")[c].alias(c) for c in carry],
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 64, shingle: int = 3
) -> DataFrame:
    """(id, sig: array<long>) — k minhashes over word shingles, computed as k
    `min()` aggregates in a single exploded pass (map-side combine applies).

    The hash family is derived, not independent: each shingle's UTF-8 bytes
    are hashed ONCE (`xxhash64(sh)`), and member i re-hashes that 64-bit base
    through xxhash64's 8-byte fast path (`xxhash64(base, i)`).  k string
    hashes per shingle re-read the bytes k times; 1 + k hashes read them once
    — measured 1.8× on the signature stage, and at corpus scale this pass IS
    the dedup CPU bill.  Two shingles now collide in all k members iff their
    base hashes collide (2⁻⁶⁴) — stronger than one member's collision rate,
    and the same derivation trade Spark MLlib's MinHashLSH makes with a far
    weaker (affine) family."""
    ex = df.select(id_col, F.explode(word_ngrams(F.col(text_col), shingle)).alias("sh"))
    exb = ex.select(id_col, F.xxhash64(F.col("sh")).alias("shb"))
    mins = [F.min(F.xxhash64(F.col("shb"), F.lit(i))).alias(f"h{i}") for i in range(k)]
    agged = exb.groupBy(id_col).agg(*mins)
    return agged.select(id_col, F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def _cap_buckets(b: DataFrame, keys, cap: int) -> DataFrame:
    """Drop rows whose bucket (group on `keys`) holds more than `cap` members.

    A degenerate bucket of m docs yields O(m²) candidate pairs concentrated in
    one join task — on a boilerplate-heavy corpus that is the unbounded hot
    spot at 100 TB.  The count is one hash aggregate (map-side combine) and
    the filter is an equi-join back on the bucket key, so the bound costs one
    extra shuffle on keys the plan already shuffles on."""
    cnt = b.groupBy(*keys).agg(F.count("*").alias("_bkt_n"))
    return (
        b.join(cnt.filter(F.col("_bkt_n") <= cap), list(keys))
        .drop("_bkt_n")
    )


def minhash_lsh_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16, rows: int = 4,
    threshold: float = 0.7, max_bucket_size: int = _DefaultCap(1000),
) -> DataFrame:
    """Banded LSH over signatures: documents sharing any band bucket become a
    candidate pair; estimated Jaccard = fraction of equal minhashes; pairs
    with est ≥ threshold survive.  Output: (a, b, est_jaccard), a < b.

    Buckets larger than `max_bucket_size` are skipped entirely (candidate
    counts stay O(bands · cap²) per bucket instead of O(m²)).  Approximation
    contract: a qualifying pair is lost only if EVERY band it collides in is
    oversized — in practice the giant buckets are exact/boilerplate
    duplicates, which `exact_dedup` removes upstream.  LSH is already
    approximate-by-design; the cap only tightens the recall statement for
    pathological buckets.  Set `max_bucket_size=None` to disable.  Relying
    on the default emits a once-per-callsite RuntimeWarning (see
    `_resolve_cap`) so the reduced-recall default is never silent."""
    max_bucket_size = _resolve_cap(max_bucket_size, "max_bucket_size", "minhash_lsh_pairs")
    assert bands * rows <= 1000
    # Band bucket = xxhash64 over the band's `rows` signature LONGS directly
    # (the 8-byte fast path), not over a concat_ws string of them: equal
    # band tuples still hash equal (spurious 2^-64 collisions ignored, same
    # contract as before) and the string materialization disappears —
    # measured 2.25x on the capped banded scan at 150k docs.
    b = sigs.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(*[F.col("sig")[i * rows + r] for r in range(rows)]).alias("bucket"),
                )
                for i in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        b = _cap_buckets(b, ("band", "bucket"), max_bucket_size)
    # The banded exchange ships (id, band, bucket) ONLY — never the k-long
    # signature.  Carrying sig through the explode multiplied the big
    # shuffle by bands x k x 8 bytes per doc (~8.7 KB/doc at k=64, b=16 vs
    # ~384 B/doc bare); instead candidate id-pairs are collapsed first (a
    # fixed-width 16-byte distinct, HashAggregate) and the signatures join
    # back by id for scoring.  The join-back touches the compact sig frame
    # (k longs/doc) keyed by id, and the candidate side is the small one —
    # AQE broadcasts it when it fits.  Net vs sig-carry: the dominant
    # exchange shrinks ~20x and est is computed exactly once per pair;
    # measured 17.2 s -> 7.8 s on the pairs stage at 150k docs, local[4],
    # identical pair set.  (An earlier design dropDuplicates'd BEFORE
    # scoring while carrying sigs — first() var-width buffers fell off hash
    # aggregation into SortAggregate; the bare-id distinct keeps every
    # aggregate fixed-width, pinned by
    # test_banded_pair_collapse_stays_hash_aggregate.)
    l = b.select(F.col(id_col).alias("a"), "band", "bucket")
    r = b.select(F.col(id_col).alias("b"), "band", "bucket")
    cand = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    j = cand.join(sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a")), "a").join(
        sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b")), "b"
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.size("sig_a")
    return j.select("a", "b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 64, shingle: int = 3, bands: int = 16, rows: int = 4, threshold: float = 0.7,
    max_bucket_size: int = _DefaultCap(1000),
) -> DataFrame:
    """Greedy near-dup removal: drop any document matched to a smaller id.
    (Union-find over components would also collapse chains; greedy matches
    the common training-pipeline policy and needs one anti-join.)

    The signature frame is referenced four times downstream (bucket count,
    cap join-back, both self-join sides); each reference that Catalyst's
    exchange reuse can't collapse would re-scan and re-shingle the TEXT
    table — at corpus scale that is the whole dedup bill paid multiple
    times.  So the signatures (the compact side: k longs ≈ k·8 B/doc vs
    the raw text) are computed once, at call time, as a private
    ``localCheckpoint``: it belongs to the returned plan, so Spark's
    ContextCleaner frees it with the result and no DataFrame-cache entry
    outlives the call."""
    pairs = _minhash_pair_graph(
        df, text_col, id_col, k, shingle, bands, rows, threshold,
        max_bucket_size, "minhash_dedup",
    )
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _minhash_pair_graph(
    df, text_col, id_col, k, shingle, bands, rows, threshold,
    max_bucket_size, fn_name,
):
    """Shared signature→pair pipeline for the dedup policies: resolves the
    cap, checkpoints the signatures, returns the pair graph.  One copy, so
    cap semantics / signature options cannot silently diverge between
    policies."""
    max_bucket_size = _resolve_cap(max_bucket_size, "max_bucket_size", fn_name)
    sigs = minhash_signatures(df, text_col, id_col, k, shingle).localCheckpoint(eager=True)
    return minhash_lsh_pairs(sigs, id_col, bands, rows, threshold, max_bucket_size)


def minhash_dedup_cc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 64, shingle: int = 3, bands: int = 16, rows: int = 4, threshold: float = 0.7,
    max_bucket_size: int = _DefaultCap(1000),
) -> DataFrame:
    """Connected-components near-dup removal: build the LSH pair graph,
    collapse it with ``functions.graph.connected_components``, keep ONE
    document per component (the minimum id).  Unlike ``minhash_dedup``'s
    greedy policy — which drops b only when some smaller a matched it
    DIRECTLY — this collapses similarity chains (a~b, b~c drops both b and
    c even though a and c never matched), the policy large corpus cleanups
    (e.g. C4/RefinedWeb-style pipelines) usually want.

    Cost over greedy: the O(log n)-round label-propagation loop on the
    PAIR graph only — the signature/banding bill is identical.  The loop
    is eager (it must converge before the survivor set is known), and
    components come back as a lineage-free checkpoint."""
    from ..functions.graph import connected_components

    pairs = _minhash_pair_graph(
        df, text_col, id_col, k, shingle, bands, rows, threshold,
        max_bucket_size, "minhash_dedup_cc",
    )
    comp = connected_components(pairs, src="a", dst="b")
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document — fully JVM-side: explode tokens, hash with
    `xxhash64`, per-bit majority as 64 conditional long sums in ONE hash
    aggregate (map-side combine applies, so the shuffle carries 64 longs per
    doc, not per token).  No Python in the path — the previous per-row,
    per-character FNV loop was the hot-path bottleneck on a training corpus.

    Token-less documents (empty/whitespace text) get signature 0, via
    `explode_outer` + a zero vote for the null/empty token."""
    tok = F.explode_outer(words(F.col(text_col))).alias("tok")
    toks = df.select(F.col(id_col), tok)
    h = F.xxhash64("tok")

    def vote(i: int):
        return (
            F.when(F.col("tok").isNull() | (F.col("tok") == ""), 0)
            .when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        )

    agged = toks.groupBy(id_col).agg(
        *[F.sum(vote(i)).alias(f"v{i}") for i in range(64)]
    )
    # assemble the signed 64-bit signature; shiftleft(1, 63) is MIN_LONG and
    # adding the remaining non-negative bit terms stays in range, so the sum
    # never overflows even under ANSI mode
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return agged.select(id_col, sig.alias("simhash"))


def _band_layout(bands: int):
    """Split the 64 signature bits into `bands` contiguous chunks, widths as
    even as possible: (offset, width) per band."""
    base, extra = divmod(64, bands)
    out, off = [], 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_pairs(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bands: int = None,
    max_bucket_size: int = _DefaultCap(1000),
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming via banded buckets.

    Pigeonhole guarantee: d differing bits spread over bands > d contiguous
    chunks leave at least one chunk untouched, so every qualifying pair
    collides in some band — 100% recall REQUIRES bands ≥ max_hamming + 1
    (enforced; previously 4 fixed bands silently missed pairs with 4–10
    differing bits).  Bands need not divide 64: chunks are sized as evenly
    as possible.

    Buckets larger than `max_bucket_size` are skipped (see `_cap_buckets`);
    this bounds the candidate volume but WEAKENS the pigeonhole guarantee for
    pairs whose every colliding band is oversized — in practice exact and
    near-exact boilerplate groups, which upstream `exact_dedup` removes.
    `max_bucket_size=None` restores the unconditional guarantee; relying on
    the default warns once per call site (`_resolve_cap`)."""
    max_bucket_size = _resolve_cap(max_bucket_size, "max_bucket_size", "simhash_pairs")
    if bands is None:
        bands = max_hamming + 1
    assert bands >= max_hamming + 1, (
        f"bands={bands} cannot guarantee recall at max_hamming={max_hamming}: "
        "pigeonhole needs bands >= max_hamming + 1"
    )
    assert 1 <= bands <= 64
    layout = _band_layout(bands)
    b = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("bucket"),
            )
            for i, (off, w) in enumerate(layout)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        b = _cap_buckets(b, ("band", "bucket"), max_bucket_size)
    l = b.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "band", "bucket")
    r = b.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "band", "bucket")
    cand = l.join(r, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # hamming is a pure function of the pair: score → filter → distinct, so
    # the collapse shuffle carries only hamming-qualified (a, b, hamming)
    # rows (same reasoning as minhash_lsh_pairs — filter-before-dedup cuts
    # the distinct's input to actual near-dups, usually ≪ candidates)
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_neardup_pairs(
    df: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = None,
    max_bucket_size: int = _DefaultCap(1000),
) -> DataFrame:
    """Near-dup pairs by Hamming distance over ANY precomputed 64-bit
    signature column — the `simhash_pairs` banded machinery generalized to
    signatures the table already carries, e.g. the image table's perceptual
    `phash` (BASELINE input hint: `(image_id, ..., phash:int64)`).  Same
    pigeonhole recall contract: with bands >= max_hamming + 1 every
    qualifying pair collides in some band, so the banded equi-join + exact
    `bit_count(xor)` filter returns exactly the brute-force cross-join
    result without ever forming O(n²) candidates."""
    # resolve the cap HERE so the reduced-recall warning names this function
    # and dedups per user call site, not per the delegating line below
    max_bucket_size = _resolve_cap(
        max_bucket_size, "max_bucket_size", "hamming_neardup_pairs"
    )
    sigs = df.select(F.col(id_col), F.col(sig_col).cast("long").alias("simhash"))
    return simhash_pairs(sigs, id_col, max_hamming, bands, max_bucket_size)


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.5, max_shingle_df: int = _DefaultCap(1000),
    hash_shingles: bool = True,
) -> DataFrame:
    """n-gram Jaccard pairs via inverted-index self-join: only documents
    sharing at least one shingle ever meet.  Output (a, b, jaccard), a < b.

    Shingles whose document frequency exceeds `max_shingle_df` are removed
    from the universe BEFORE sizes and intersections are computed (classic
    stop-shingle removal): a shingle shared by 10⁶ docs would otherwise
    contribute a 10¹²-pair join group.  Jaccard is then EXACT over the
    reduced (informative) shingle universe — both |A∩B| and |A∪B| exclude
    stop-shingles, so the similarity stays internally consistent; it differs
    from full-universe Jaccard only for pairs whose resemblance rests on
    ubiquitous shingles, which is precisely the noise the cap removes.
    `max_shingle_df=None` gives full-universe exact Jaccard (unbounded);
    relying on the default warns once per call site (`_resolve_cap`).

    With `hash_shingles` (default) the shingle universe is the 64-bit
    `xxhash64` image of the n-gram strings: every downstream exchange —
    the distinct, the df-cap aggregate, and the inverted-index self-join —
    keys on 8-byte longs instead of ~n·word-length strings (~3× shuffle
    bytes on prose, cheaper hash-table probes).  Jaccard is then exact
    over hashed shingles: a 2⁻⁶⁴ string collision inflates |A∩B| by one —
    across 10¹² distinct shingles that perturbs a handful of pairs'
    similarity by one count globally, and never at test scale.  Pass
    ``hash_shingles=False`` for the string-universe definition."""
    max_shingle_df = _resolve_cap(max_shingle_df, "max_shingle_df", "ngram_jaccard_pairs")
    g = F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    grams = df.select(F.col(id_col), g)
    if hash_shingles:
        grams = grams.select(id_col, F.xxhash64("g").alias("g"))
    # word_ngrams is array_distinct per doc, so (id, g) is already unique in
    # the string universe; the distinct stays because the hashed universe
    # needs it by DEFINITION (two distinct shingles colliding must count
    # once) and on 8-byte keys it rides the exchange the df-cap/self-join
    # need anyway
    grams = grams.distinct()
    if max_shingle_df is not None:
        gdf = grams.groupBy("g").agg(F.count("*").alias("_df"))
        grams = grams.join(gdf.filter(F.col("_df") <= max_shingle_df), "g").drop("_df")
    sizes = grams.groupBy(id_col).count().withColumnRenamed("count", "sz")
    l = grams.select(F.col(id_col).alias("a"), "g")
    r = grams.select(F.col(id_col).alias("b"), "g")
    inter = (
        l.join(r, "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    j = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        inter.join(sa, "a").join(sb, "b")
        .select("a", "b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
