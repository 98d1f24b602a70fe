"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design rules applied throughout (these are what make the operators
100 TB-viable rather than demo code):

* **No quadratic step.** Candidate generation always goes through a
  bucket/banding equi-join (shuffle on a small key), never a cross
  join; exact similarity is computed only on candidate pairs.
* **No per-row Python, no interpreted HOF towers in the hot path.**
  Base hashing (xxhash64) runs JVM-side; signature math (MinHash
  permutations, SimHash bit sums, shingle folds) runs as
  Arrow-batched numpy kernels (see gasket_spark.functions.text) —
  measured ~10-50× over the equivalent interpreted higher-order
  function expressions, which do not participate in whole-stage
  codegen.
* **Deterministic keep rule.** Survivors are chosen by ``min(doc_id)``
  per duplicate group — reproducible across runs/partitionings (a
  ``dropDuplicates`` keep-first would depend on partition order).
* **Skew guard.** Inverted-index style joins can explode on hot
  shingles; ``max_doc_freq`` drops shingles seen in more than a
  fraction/count of docs (standard df-cap trick) — off by default at
  test scale, on at production scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gasket_spark.functions import text as T


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True) -> DataFrame:
    """Exact (hash-groupBy) dedup: one shuffle on a 128-bit content
    hash, keep the min-id representative. Returns (id, content_hash,
    dup_count)."""
    key = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.col(id_col), F.md5(key).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col),
             F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "content_hash", "dup_count")
    )


def _with_shingles(df: DataFrame, text_col: str, id_col: str,
                   n: int, max_doc_freq: int | None,
                   hashed: bool = False) -> DataFrame:
    sh = (T.hashed_shingle_set(text_col, n) if hashed
          else T.distinct_shingles(text_col, n))
    out = df.select(id_col, sh.alias("sh"))
    if max_doc_freq is not None:
        hot = (
            out.select(id_col, F.explode("sh").alias("s"))
            .groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select(F.collect_set("s").alias("hot"))
        )
        out = out.crossJoin(F.broadcast(hot)).select(
            id_col,
            F.array_except("sh", F.coalesce("hot", F.array())).alias("sh"))
    return out


def _banded_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                     max_doc_freq: int | None, num_hashes: int,
                     bands: int) -> DataFrame:
    """(id, sh, bands): each doc's hashed shingle set (array<long>) and
    its MinHash band hashes, shuffled by id. Readers that need the
    same columns share one exchange without a persist: the two
    band-join sides of :func:`minhash_lsh_pairs` read the (id, bands)
    one and its two verify-join sides the (id, sh) one, so the
    shingling runs twice per doc, not once per reader.

    Docs with EMPTY shingle sets (< n tokens, NULL text, or fully
    df-capped) are dropped: they all share the all-sentinel
    signature, so m such docs would generate 16·m²/2 candidate rows
    that the verify then discards at jaccard = 0 < threshold — the
    one quadratic hole in the band join (r13 review catch; lossless
    for any threshold > 0 because an empty set's jaccard is 0)."""
    return (_with_shingles(df, text_col, id_col, n, max_doc_freq,
                           hashed=True)
            .filter(F.size("sh") > 0)
            .select(id_col, "sh",
                    T.minhash_band_hashes(F.col("sh"), num_hashes, bands)
                    .alias("bands"))
            .repartition(id_col))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5,
                      max_doc_freq: int | None = None) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs.

    shingle → 64-hash MinHash signature → 16 bands × 4 rows → docs
    sharing any band hash become candidates (equi-join on the band
    hash — the only big shuffle) → exact Jaccard on distinct shingle
    sets filters to ``threshold``. Returns (id_a, id_b, jaccard) with
    id_a < id_b, deduplicated across bands.
    """
    sh = _banded_shingles(df, text_col, id_col, n, max_doc_freq,
                          num_hashes, bands)
    banded = sh.select(
        id_col, F.posexplode("bands").alias("band_idx", "band_hash"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, [F.col("a.band_idx") == F.col("b.band_idx"),
                   F.col("a.band_hash") == F.col("b.band_hash"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        # distinct BEFORE verify, not after: a true near-dup matches in
        # MANY bands (an exact dup in all 16), so skipping this would
        # multiply verify cost by the band count precisely on the pairs
        # that ARE duplicates — the dominant cost on dup-heavy corpora.
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, "id_a").join(sh_b, "id_b")
        .select("id_a", "id_b",
                F.when(union > 0, inter / union).otherwise(F.lit(0.0))
                .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_by_pairs(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup pairs to survivors: a doc is dropped iff it
    appears as the *larger* id in any pair (min-id survivor per
    connected component's star approximation — one pass, no iterative
    connected components; good enough when duplicate clusters are
    small, which df-capped LSH guarantees in practice)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 64,
                  blocks: int = 4, max_hamming: int = 3,
                  token_hash: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs over packed 64-bit signatures.

    TF-weighted SimHash (one long per doc) → split into ``blocks``
    equal bit-blocks; pigeonhole: hamming ≤ max_hamming < blocks ⇒ at
    least one block matches exactly ⇒ the block equi-join has perfect
    recall → verify with ``bit_count(a ^ b)`` (pure codegen — no
    arrays anywhere). 4 × 16-bit blocks give 65536 join buckets, so
    candidate volume stays near-linear even on homogeneous corpora.
    Returns (id_a, id_b, hamming).

    Because the pigeonhole block join has PERFECT recall, the output
    is exactly {pairs : hamming(sig_a, sig_b) <= max_hamming} —
    independent of the blocking. With ``token_hash="md5_60"`` (and
    ``bits<=60``) the signature itself is replicable in ANSI SQL, so
    that whole set is oracle-checkable.
    """
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole needs max_hamming < blocks, got {max_hamming} >= "
            f"{blocks}")
    block_size = bits // blocks
    mask = (1 << block_size) - 1
    sig = df.select(id_col,
                    T.simhash64(text_col, bits, token_hash).alias("sig"))
    blk = sig.select(id_col, "sig", F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("block_idx"),
            F.shiftrightunsigned("sig", i * block_size)
            .bitwiseAND(mask).alias("block_val"))
        for i in range(blocks)])).alias("b")) \
        .select(id_col, "sig", "b.block_idx", "b.block_val")
    a, b = blk.alias("a"), blk.alias("b")
    return (
        a.join(b, [F.col("a.block_idx") == F.col("b.block_idx"),
                   F.col("a.block_val") == F.col("b.block_val"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.3,
                        max_doc_freq: int | None = 256) -> DataFrame:
    """Exact n-gram Jaccard over posting lists: per-doc distinct
    shingles → one posting list of doc ids per shingle → every id
    pair within a list → common-shingle counts → |A∩B| / (|A|+|B|−|A∩B|).
    The inverted index is the scalable exact counterpart to MinHash's
    approximation. Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``max_doc_freq`` caps each shingle's document frequency before any
    pair is formed: the pair fan-out is Σ df² over shingles, so one
    boilerplate shingle in a million docs is 5·10¹¹ pairs uncapped.
    Jaccard is then taken over the capped shingle space on both sides,
    and a doc that loses every shingle drops out. The default
    (256 ⇒ ≤ ~33k pairs/shingle) is the production posture: shingles
    that common carry no near-dup signal (two docs that are REAL
    near-dups still share many rare shingles). Pass ``None`` only for
    small/curated corpora where exact Jaccard over the full shingle
    space is the point.

    The result is one lazy, linear plan, the same shape capped or
    not: one ``hashed_shingle_set`` Arrow pass, a group by shingle
    whose list size is the df (the cap is a filter on it), and a
    group by id pair over the pairs a ≤ b of each list. The diagonal
    pair (a, a) counts a's kept shingles, i.e. its post-cap set size,
    which two windows read back onto each off-diagonal pair. Building
    it fires no job and persists nothing."""
    # 64-bit hashed shingle sets: set sizes and intersection counts —
    # hence Jaccard — are identical to string shingles unless two
    # distinct shingles collide in 64 bits (P ≈ |shingles|²/2⁶⁴; the
    # oracle, which computes STRING n-grams in SQL, verifies exactly
    # this). The posting lists hold 8-byte longs instead of ~20-byte
    # strings.
    post = (
        df.select(id_col, F.explode(T.hashed_shingle_set(text_col, n))
                  .alias("s"))
        .groupBy("s").agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    )
    if max_doc_freq is not None:
        post = post.filter(F.size("ids") <= max_doc_freq)
    # pair each id with itself and every later id of its sorted list
    counts = (
        post.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select("id_a", F.explode(F.slice("ids", F.col("i") + 1,
                                          F.size("ids") - F.col("i")))
                .alias("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    )
    diag = F.when(F.col("id_a") == F.col("id_b"), F.col("n_common"))
    n_a = F.max(diag).over(Window.partitionBy("id_a"))
    n_b = F.max(diag).over(Window.partitionBy("id_b"))
    jac = F.col("n_common") / (n_a + n_b - F.col("n_common"))
    return (
        counts.select("id_a", "id_b", jac.alias("jaccard"))
        .filter((F.col("id_a") < F.col("id_b"))
                & (F.col("jaccard") >= threshold))
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold_num: int = 9, threshold_den: int = 10,
                      max_doc_freq: int | None = 256) -> DataFrame:
    """DIRECTED shingle-containment near-dup pairs: emit
    (contained_id, container_id) whenever |A∩B| ≥ (num/den)·|A| —
    the asymmetric signal Jaccard structurally misses. A short
    document quoted whole inside a long one has |A∩B| = |A| (perfect
    containment) but Jaccard |A|/|B| ≈ 0; training-data curation
    cares about exactly this shape (boilerplate wrappers, quoted
    articles, prompt templates embedded in longer pages).

    Same scalable skeleton as :func:`ngram_jaccard_pairs`: one
    df-capped inverted index on 64-bit hashed shingles, ONE
    self-equi-join on the shingle producing each unordered pair once
    (id < id), then BOTH directed containments derived from the same
    (n_common, |A|, |B|) row — no second pass over the index. The
    threshold is a RATIONAL compared by integer cross-multiply
    (n_common·den ≥ num·|A|), so the cut is engine-exact — no float
    ratio crosses a boundary differently elsewhere. ``max_doc_freq``
    caps the self-join fan-out exactly as in ngram_jaccard_pairs
    (Σ df² pairs per shingle uncapped — the 100 TB guard); under the
    cap the test is CONSERVATIVE: |A| stays the full pre-cap set
    while the intersection counts only rare shingles, so every
    emitted pair truly satisfies the contract and only
    boilerplate-dominated evidence can be missed.

    Reference parity: gasket pipes a corpus through filter stages
    (reference index.js:1-258); containment screening is such a
    stage, here one declarative plan.

    Cache lifecycle: the two mid-plan persists (inv0, inv) live as
    long as the returned lazy plan — callers that invoke repeatedly
    in a long-lived session should use
    :func:`containment_pairs_tracked` and unpersist on eviction (the
    r11 ADVICE finding; q_dedup_containment hands them to
    ``io.session_cached``). This convenience form discards the
    handles, accepting session-lifetime residency."""
    out, _cached = containment_pairs_tracked(
        df, text_col=text_col, id_col=id_col, n=n,
        threshold_num=threshold_num, threshold_den=threshold_den,
        max_doc_freq=max_doc_freq)
    return out


def containment_pairs_tracked(
        df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        n: int = 3, threshold_num: int = 9, threshold_den: int = 10,
        max_doc_freq: int | None = 256,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """:func:`containment_pairs` plus the persisted intermediate
    frames, so a caller that caches the (lazy) result can unpersist
    them on eviction instead of accumulating cached blocks across
    invocations (plain ``persist``, so ``DataFrame.unpersist`` works
    — unlike checkpoint RDD ids, which need ``io.free_checkpoint``;
    ``io.session_cached`` releases either kind of handle)."""
    # persisted at DOC grain (r14): the Arrow shingle kernel's output
    # is the per-doc distinct-hash ARRAY, and everything downstream
    # derives from it — sizes as F.size (no aggregation pass at all:
    # the kernel already deduplicated, so array size IS the pre-cap
    # distinct count, with the only delta n_sh=0 rows for shingle-less
    # docs that an inner join to the pair table drops anyway), the
    # inverted index as a cheap JVM explode per consumer. The r11 form
    # persisted the EXPLODED index and still paid a groupBy exchange
    # for sizes; worse, its three consumers raced the cold cache fill
    # in concurrent stages, each evaluating the kernel on partitions
    # not yet cached. The eager count() serializes that: exactly one
    # kernel pass, every consumer reads the cache (cold A/B at sf0.1:
    # see OPTIMIZATION_r14.md).
    sh = df.select(id_col,
                   T.hashed_shingle_set(text_col, n).alias("sh")).persist()
    sh.count()
    # |A| is the PRE-cap distinct-shingle count: the df-cap may only
    # shrink the NUMERATOR (rare-shingle intersection), never the
    # denominator — so the capped test |A∩B ∩ rare| ≥ t·|A| implies
    # the true |A∩B| ≥ t·|A| (sound; conservative when a doc is
    # mostly boilerplate). Sizing post-cap would instead INFLATE the
    # ratio one-sidedly: a 100-shingle doc with 95 hot shingles
    # would read as |A| = 5 and fire the 9/10 threshold on 5% true
    # containment. (ngram_jaccard_pairs sizes post-cap on purpose —
    # there the cap hits numerator and denominator symmetrically.)
    sizes = sh.select(id_col, F.size("sh").alias("n_sh"))
    inv0 = sh.select(id_col, F.explode("sh").alias("s"))
    if max_doc_freq is not None:
        keep = (inv0.groupBy("s")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_doc_freq).select("s"))
        # the keep table is SHINGLE-VOCABULARY sized — never
        # broadcastable at corpus scale (a blind size estimate made
        # Catalyst try at 10x sf0.1 and OOM the driver build). The
        # shuffle-hash hint keeps it a co-partitioned join on the
        # same key ``s`` the self-join below shuffles on anyway.
        inv = inv0.join(keep.hint("shuffle_hash"), "s")
    else:
        inv = inv0
    inv = inv.persist()
    # serialize the capped index's cache fill too: the self-join
    # consumes it from BOTH sides, and concurrent cold stages would
    # each re-run the explode + keep join on uncached partitions
    inv.count()
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, [F.col("a.s") == F.col("b.s"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_lo"),
                 F.col(f"b.{id_col}").alias("id_hi"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    lo = sizes.select(F.col(id_col).alias("id_lo"),
                      F.col("n_sh").alias("n_lo"))
    hi = sizes.select(F.col(id_col).alias("id_hi"),
                      F.col("n_sh").alias("n_hi"))
    j = common.join(lo, "id_lo").join(hi, "id_hi")
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    # BOTH directed containments in ONE pass over j (r13 optimization
    # round): the old fwd.union(rev) form evaluated the whole
    # candidate aggregation TWICE — the self-join + groupBy subtree
    # is not exchange-reusable across the two filter tops — which at
    # corpus scale doubles the dominant Σ df² work. Each j row now
    # emits 0-2 direction structs through one explode; row set is
    # identical (mutual containment still yields both rows).
    fwd_s = F.when(F.col("n_common") * den >= num * F.col("n_lo"),
                   F.struct(F.col("id_lo").alias("contained_id"),
                            F.col("id_hi").alias("container_id"),
                            F.col("n_common").alias("n_common"),
                            F.col("n_lo").alias("n_contained")))
    rev_s = F.when(F.col("n_common") * den >= num * F.col("n_hi"),
                   F.struct(F.col("id_hi").alias("contained_id"),
                            F.col("id_lo").alias("container_id"),
                            F.col("n_common").alias("n_common"),
                            F.col("n_hi").alias("n_contained")))
    out = (j.select(F.explode(F.filter(
               F.array(fwd_s, rev_s), lambda x: x.isNotNull())).alias("p"))
           .select("p.*"))
    return out, (sh, inv)


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", w: int = 20,
                    max_doc_freq: int | None = 256) -> DataFrame:
    """EXACT duplicated-substring spans across documents — the
    "exact substring dedup" of Lee et al. (Deduplicating Training
    Data Makes Language Models Better, 2022), re-expressed as
    DataFrame ops instead of a suffix array: any ``w``-token window
    shared verbatim by two documents is a match, and consecutive
    matches on the same alignment diagonal merge into the MAXIMAL
    duplicated span (start_a, start_b, span_tokens).

    Shape: per-position rolling ``w``-gram 64-bit hashes (one
    ``transform`` over token indices — JVM-side, no explode of the
    token stream itself), a df-capped inverted index on the hash,
    ONE self-equi-join producing each cross-doc position match, then
    the gaps-and-islands trick per (doc_a, doc_b, pos_a−pos_b)
    diagonal: runs of consecutive pos_a are contiguous spans, so a
    200-token copied passage emits ONE row, not 181. Hash collisions
    are the usual 64-bit caveat (P ≈ matches²/2⁶⁴) — the oracle twin
    recomputes STRING w-grams, which is exactly what verifies them.
    ``max_doc_freq`` caps boilerplate windows before the self-join
    (Σ df² fan-out — the 100 TB guard, same posture as
    ngram_jaccard_pairs).

    Reference parity: gasket pipes corpora through dedup stages
    (reference index.js:1-258); this is the span-grain stage, one
    declarative plan."""
    toks = F.split(F.col(text_col), " ")
    npos = F.size(toks) - (w - 1)
    # docs shorter than w tokens have no window at all — and
    # sequence(1, 0) DESCENDS to [1, 0], feeding slice an illegal
    # start of 0, so the empty case must be an explicit empty array
    idx = F.when(npos >= 1, F.sequence(F.lit(1), npos)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(toks, i, w)))
            .alias("h")))
    inv0 = (df.select(F.col(id_col).alias("_id"),
                      F.explode(grams).alias("g"))
            .select("_id", F.col("g.pos").alias("pos"),
                    F.col("g.h").alias("h")))
    if max_doc_freq is not None:
        keep = (inv0.groupBy("h")
                .agg(F.count_distinct("_id").alias("_df"))
                .filter(F.col("_df") <= max_doc_freq).select("h"))
        # window-vocabulary sized — same never-broadcast rule as
        # containment_pairs' keep table (shares the self-join's key)
        inv0 = inv0.join(keep.hint("shuffle_hash"), "h")
    a, b = inv0.alias("a"), inv0.alias("b")
    matches = (
        a.join(b, [F.col("a.h") == F.col("b.h"),
                   F.col("a._id") < F.col("b._id")])
        .select(F.col("a._id").alias("doc_a"),
                F.col("b._id").alias("doc_b"),
                F.col("a.pos").alias("pos_a"),
                F.col("b.pos").alias("pos_b"))
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (matches.select("doc_a", "doc_b", "pos_a", "pos_b", diag)
            .withColumn("_grp",
                        F.col("pos_a") - F.row_number().over(win)))
    return (runs.groupBy("doc_a", "doc_b", "diag", "_grp")
            .agg(F.min("pos_a").alias("start_a"),
                 F.min("pos_b").alias("start_b"),
                 (F.count(F.lit(1)) + (w - 1)).alias("span_tokens"))
            .select("doc_a", "doc_b", "start_a", "start_b",
                    "span_tokens"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS scheme): per position, the 64-bit hash of the k-token
    gram; per sliding window of ``window`` consecutive gram hashes,
    keep the MINIMUM — the classic local sampling with the winnowing
    GUARANTEE: any verbatim shared passage of at least
    ``window + k - 1`` tokens contributes at least one IDENTICAL
    fingerprint to both documents (pytest-pinned against a Python
    brute force). This is the sampled, index-size-bounded sibling of
    :func:`duplicate_spans`: spans keeps every window position
    (exact offsets, bigger index), winnowing keeps ~2/(window+1) of
    them (set-membership signal, ~window× smaller index) — the right
    trade at 100 TB where the fingerprint index is what you store
    and equi-join. Output: one row per (doc, distinct fingerprint),
    ready for a df-capped self-join exactly like the other inverted
    indexes here.

    Reference parity: gasket pipes corpora through screening stages
    (reference index.js:1-258); fingerprint extraction is such a
    stage, one declarative plan.

    Kernel split (r11, deepened r14): the r11 form hashed grams
    JVM-side with an interpreted transform(concat_ws(slice)) tower
    (~O(tokens·k) expression work per doc — the exact shape the
    module docstring bans from hot paths) and only ran the sliding
    MIN in numpy. r14 moves gram hashing into the same Arrow kernel:
    tokens are xxhash64'd once JVM-side, and each k-window of token
    hashes folds with the order-sensitive uint64 mix
    hashed_shingle_set uses — one vectorized pass builds the gram
    hashes AND the window minima. The fingerprint VALUES change
    (mix-of-token-hashes instead of xxhash64-of-gram-string), but a
    fingerprint is an internal sampling key: the winnowing guarantee
    only needs any deterministic injective-in-practice gram hash
    computed identically on both documents, which this is (64-bit
    collision odds unchanged), and the property tests + the
    q_fingerprint_winnow oracle (string grams in SQL) pin exactly
    that."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from gasket_spark.functions.text import _SHINGLE_MIX, tokens

    hashed = F.transform(tokens(text_col), lambda t: F.xxhash64(t))

    @pandas_udf(ArrayType(LongType()))
    def _winnow(tok_hashes: pd.Series) -> pd.Series:
        out = []
        err = np.seterr(over="ignore")
        try:
            for h in tok_hashes:
                if h is None:  # NULL text -> no fingerprints
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                x = np.asarray(h, dtype=np.int64).view(np.uint64)
                m = x.size - k + 1
                if m <= 0:
                    # no gram at all (doc shorter than k tokens)
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                acc = x[:m].copy()
                for j in range(1, k):
                    acc = acc * _SHINGLE_MIX + x[j:m + j]
                g = acc.view(np.int64)
                if m < window:
                    # short docs (>=k tokens but fewer than `window`
                    # grams) still get fingerprinted: the single
                    # window is the whole gram array
                    out.append(np.array([g.min()], dtype=np.int64))
                else:
                    mins = sliding_window_view(g, window).min(axis=1)
                    out.append(np.unique(mins))
            return pd.Series(out)
        finally:
            np.seterr(**err)

    # asNondeterministic (r13, guide 4.4): pure kernel; the hint stops
    # inferred-filter pushdown below the projection from duplicating
    # the Arrow eval per consumer. Values unchanged. (Safe under the
    # explode: Generate allows non-deterministic generator input.)
    return df.select(
        F.col(id_col).alias(id_col),
        F.explode(
            _winnow.asNondeterministic()(hashed)).alias("fp"))


def incremental_minhash_pairs(new: DataFrame, corpus: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              num_hashes: int = 64, bands: int = 16,
                              threshold: float = 0.5,
                              max_doc_freq: int | None = None) -> DataFrame:
    """Incremental near-dup detection: NEW batch vs EXISTING corpus.

    The production shape — a daily ingest is checked against the
    accumulated corpus without ever re-pairing corpus×corpus: band
    hashes are computed for both sides, but the candidate join is
    strictly new-side × corpus-side. Cost scales with
    |new| + matching-band corpus rows, not |corpus|²; at steady state
    the corpus band table is a materialized artifact updated by
    appending each accepted batch's bands (one write, no recompute).

    Returns (new_id, corpus_id, jaccard) pairs with jaccard ≥
    ``threshold``. Self-duplicates WITHIN the new batch are a separate
    call (:func:`minhash_lsh_pairs` on ``new``).
    """
    sh_new, sh_old = (
        _banded_shingles(d, text_col, id_col, n, max_doc_freq,
                         num_hashes, bands) for d in (new, corpus))

    def _bands(sh: DataFrame) -> DataFrame:
        return sh.select(
            id_col, F.posexplode("bands").alias("band_idx", "band_hash"))

    cand = (
        _bands(sh_new).alias("a")
        .join(_bands(sh_old).alias("b"),
              [F.col("a.band_idx") == F.col("b.band_idx"),
               F.col("a.band_hash") == F.col("b.band_hash")])
        .select(F.col(f"a.{id_col}").alias("new_id"),
                F.col(f"b.{id_col}").alias("corpus_id"))
        .distinct()
    )
    sa = sh_new.select(F.col(id_col).alias("new_id"),
                       F.col("sh").alias("sh_a"))
    sb = sh_old.select(F.col(id_col).alias("corpus_id"),
                       F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "new_id").join(sb, "corpus_id")
        .select("new_id", "corpus_id",
                F.when(union > 0, inter / union).otherwise(F.lit(0.0))
                .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (the
    ppjoin/AllPairs candidate principle): order every doc's shingles
    by one GLOBAL canonical order (document frequency ascending,
    rarest first — ties by shingle hash), index only each doc's first
    ``|s| − ⌈t·|s|⌉ + 1`` shingles, and equi-join on those. Any pair
    with J ≥ t must share a prefix element (its intersection is too
    large to fit in either suffix), so the filter is LOSSLESS — the
    brute-force oracle proves it per round. Candidates then verify
    exactly via array_intersect on the full shingle sets.

    vs the df-cap inverted index (ngram_jaccard_pairs): the cap
    BOUNDS the join but changes the measure (capped Jaccard); the
    prefix filter keeps the exact measure and still avoids hot-
    shingle fan-out STRUCTURALLY — high-df shingles sort to the back
    of every doc, so boilerplate never enters the index. Cost: one
    df aggregate + one doc-keyed rank window + a prefix-sized join —
    at 100 TB the index is ~half the full inverted index and the
    candidate set collapses to near-true-pairs.

    The shingle-set frame is persisted only for the DURATION of the
    build (it feeds the size table, the inverted index, and both
    rerank arms): the pair result is materialized eagerly
    (localCheckpoint) and the shingle blocks released before
    returning — repeated invocations in a long-lived session leave
    only the (near-true-pair-sized) result resident, never the
    corpus-sized shingle sets. Callers that outlive the result should
    use :func:`prefix_filter_pairs_tracked`, which also returns the
    checkpoint's persistent-RDD ids so an eviction can FREE the
    blocks (``DataFrame.unpersist`` cannot release a localCheckpoint
    — see ``io.checkpoint_tracked``); this convenience form discards
    the ids, accepting session-lifetime residency of the pair-sized
    result."""
    out, _ids = prefix_filter_pairs_tracked(
        df, text_col=text_col, id_col=id_col, n=n, threshold=threshold)
    return out


def prefix_filter_pairs_tracked(
        df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        n: int = 3, threshold: float = 0.5,
) -> tuple[DataFrame, frozenset[int]]:
    """:func:`prefix_filter_pairs` plus the persistent-RDD ids of the
    eager checkpoint, for callers that cache the result and must be
    able to release it on eviction (``io.session_cached`` frees the
    ids through ``io.free_checkpoint``)."""
    sh = df.select(id_col,
                   T.hashed_shingle_set(text_col, n).alias("sh")).persist()
    # eager fill (r14): the checkpoint action below reads this cache
    # from the index build AND both verify join sides concurrently —
    # unfilled, those stages race and re-run the Arrow shingle kernel
    # on partitions not yet cached
    sh.count()
    inv = sh.select(id_col, F.explode("sh").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    # shuffle_hash on the vocabulary-sized df table (r13 optimization
    # round, the q_dedup_edit precedent): the SMJ default sorts BOTH
    # shingle-keyed sides — the hash build skips those sorts; never
    # broadcast (the r10 OOM lesson for gram-frequency tables)
    tagged = inv.join(dfreq.hint("shuffle_hash"), "s")
    # EXACT threshold arithmetic (r13 self-review catch): the float
    # form ceil(lit(t) * n_sh) is lossy for thresholds whose product
    # rounds up across an integer (t=0.55, n=100: double product
    # 55.000000000000004 -> ceil 56 where the J=55/100 pair survives
    # the verify compare) — the double t IS the rational
    # p_num/p_den, so ceil(t·n) = (p_num·n + p_den − 1) div p_den in
    # exact integer space (decimal-widened: p_num can be ~2^52).
    # The final +1 beyond the lemma's ⌈t·n⌉−based length absorbs the
    # half-ulp class where J_real sits just below t but the verify's
    # DOUBLE compare keeps the pair (both engines verify that way) —
    # one extra indexed gram per doc buys rigor for every float t.
    p_num, p_den = float(threshold).as_integer_ratio()
    ceil_tn = F.expr(
        f"CAST((CAST(n_sh AS DECIMAL(38,0)) * {p_num} + {p_den - 1})"
        f" div {p_den} AS BIGINT)")
    p = F.col("n_sh") - ceil_tn + 2
    # Per-doc rarest-first ranking WITHOUT the rank window (r14, guide
    # §2.4 — the r13 'not yet optimized' item): row_number() over
    # (partition by doc order by _df, s) forced a full sort of every
    # (doc, gram, df) row plus a separate join back onto the doc-size
    # table, only to DISCARD all ranks past the prefix. The per-doc
    # prefix bound depends on n_sh (per-row), so WindowGroupLimit
    # can't truncate it; instead collect each doc's (df, s) pairs into
    # one array (hash aggregate — no sort, and the doc-grain exchange
    # replaces the window's identical exchange), array_sort by the
    # SAME (_df, s) struct order (total: s is distinct within a doc),
    # and slice to the prefix before posexplode. n_sh = size(array)
    # falls out for free, deleting the sizes join. Rank semantics,
    # prefix membership, and output columns are IDENTICAL — the
    # brute-force oracle twin proves the pair set per round.
    packed = (tagged.groupBy(id_col)
              .agg(F.array_sort(F.collect_list(F.struct("_df", "s")))
                   .alias("_g"))
              .withColumn("n_sh", F.size("_g")).persist())
    # doc-grain persist + eager fill (r14): the candidate self-join
    # explodes this from BOTH sides — unpersisted, each side re-ran
    # the dfreq join + hash aggregate
    packed.count()
    prefix = (packed
              .select(id_col, "n_sh",
                      F.posexplode(F.slice("_g", F.lit(1), p)))
              .select(id_col, F.col("col.s").alias("s"), "n_sh",
                      (F.col("pos") + 1).alias("_rn")))
    # shuffle_hash on the candidate self-join too (r13 optimization
    # round): SMJ sorted the ~|corpus|·p/2-row prefix table TWICE by
    # shingle before matching; the hash build per partition skips
    # both sorts (measured 5.2 -> 4.1 s cold build at sf0.1, outputs
    # identical). Build-side partitions are rare-gram rows spread by
    # hash(s) — rarest-first ordering keeps any single shingle's
    # group small, so the per-partition build is bounded.
    a, b = prefix.alias("a"), prefix.hint("shuffle_hash").alias("b")
    # ppjoin SIZE BAND, applied IN-JOIN (the r12 edit-distance-band
    # precedent): J(a,b) >= t forces t·|a| <= |b| <= |a|/t (the
    # intersection is at least t·|a∪b| >= t·max(|a|,|b|) and fits in
    # the smaller set), so banding the candidate join on shingle-set
    # sizes is LOSSLESS — the brute-force oracle twin proves it per
    # round. Stated in exact integers with one unit of slack per side
    # (same rationale as the prefix length): keep (a,b) iff
    # t·|a| <= |b|+1 and t·(|b|−1) <= |a|. Measured 24% candidate
    # cut at sf0.1 on uniform doc sizes; bigger on real corpora.
    band = [F.expr(f"CAST(a.n_sh AS DECIMAL(38,0)) * {p_num}"
                   f" <= CAST(b.n_sh + 1 AS DECIMAL(38,0)) * {p_den}"),
            F.expr(f"CAST(b.n_sh - 1 AS DECIMAL(38,0)) * {p_num}"
                   f" <= CAST(a.n_sh AS DECIMAL(38,0)) * {p_den}")]
    # ppjoin POSITIONAL filter (r13), applied in-join like the size
    # band: all common shingles of a pair sit at global-order rank >=
    # this matched gram's rank in BOTH docs, so the overlap is at most
    # min(|a| - rn_a, |b| - rn_b) + 1 for THIS match — and J >= t
    # needs overlap >= t·(|a|+|b|)/(1+t). A row whose bound can't
    # reach that is dead weight; the pair itself survives iff its
    # FIRST common prefix gram passes (for a true pair that row's
    # bound >= the real overlap, which meets the requirement), so
    # filtering match rows BEFORE the distinct is LOSSLESS — the
    # brute-force oracle proves it per round. Exact integer
    # arithmetic, with the same one-unit slack as the band for the
    # double-verify boundary class (require bound >= o_min - 1).
    # Measured at sf0.1: 1.29M -> 542k candidate pairs (2.4x).
    o_min = (f"CAST((CAST(a.n_sh + b.n_sh AS DECIMAL(38,0)) * {p_num}"
             f" + {p_num + p_den - 1}) div {p_num + p_den} AS BIGINT)")
    pos = F.expr(f"least(a.n_sh - a._rn, b.n_sh - b._rn) + 2"
                 f" >= {o_min}")
    cand = (a.join(b, [F.col("a.s") == F.col("b.s"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                       *band, pos])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    j = (cand
         .join(sh.select(F.col(id_col).alias("id_a"),
                         F.col("sh").alias("sh_a")), "id_a")
         .join(sh.select(F.col(id_col).alias("id_b"),
                         F.col("sh").alias("sh_b")), "id_b")
         .select("id_a", "id_b",
                 F.size(F.array_intersect("sh_a", "sh_b"))
                 .alias("n_common"),
                 F.size("sh_a").alias("na"), F.size("sh_b").alias("nb")))
    jac = (F.col("n_common")
           / (F.col("na") + F.col("nb") - F.col("n_common")))
    from gasket_spark.io import checkpoint_tracked

    out, ids = checkpoint_tracked(  # eager: the one action sh serves
        j.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold))
    sh.unpersist(False)
    packed.unpersist(False)
    return out, ids


def edit_distance_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", d: int = 3,
                        q: int = 2) -> DataFrame:
    """Convenience form of :func:`edit_distance_pairs_tracked` that
    discards the persisted-intermediate handle (accepting
    session-lifetime residency of the gram table — the r11 ADVICE
    finding; q_dedup_edit hands the tracked form's handles to
    ``io.session_cached``).
    Contract and docs: see the tracked twin below."""
    out, _cached = edit_distance_pairs_tracked(
        df, text_col=text_col, id_col=id_col, d=d, q=q)
    return out


def edit_distance_pairs_tracked(
        df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        d: int = 3, q: int = 2,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """EDIT-DISTANCE near-dup pairs — the character-grain sibling of
    the shingle family: all pairs with levenshtein(a, b) <= ``d``,
    found by PROVABLY LOSSLESS prefix-filter blocking (the ED-Join
    signature scheme) + exact verification.

    Blocking lemma (pigeonhole + prefix filtering): one edit
    operation overlaps at most ``q`` character q-grams, so
    edit(a, b) <= d implies |gram_set(a) \\ gram_set(b)| <= d·q AND
    |gram_set(b) \\ gram_set(a)| <= d·q. With signature(a) = the
    d·q+1 grams of a that are GLOBALLY RAREST (canonical total order
    by (document frequency, gram) — ties broken by the gram string
    so both engines derive the identical signature), the standard
    prefix-filter lemma (AllPairs/ED-Join) then gives
    sig(a) ∩ sig(b) != ∅ for every true pair: if the two signatures
    were disjoint, every gram of the signature whose max element is
    globally SMALLER would be missing from the other doc's gram set
    (any such gram present there would rank inside that doc's own
    d·q+1 prefix), putting d·q+1 grams in one difference set —
    contradiction. So the candidate join is SIGNATURE × SIGNATURE
    (r13 optimization round; previously sig × full-gram-set): the
    join touches only the d·q+1 rarest grams per doc on BOTH sides,
    so corpus-hot grams never enter either side of the join and the
    per-gram fan-out is |sig-docs-with-g|² instead of
    |sig-docs-with-g| · |all-docs-with-g| — the scaling term on
    repetitive corpora where count-filtering on hot grams would go
    quadratic (same reason ``prefix_filter_pairs`` exists for
    Jaccard). Proved lossless by the hypothesis property test
    (test_properties.py::test_edit_distance_blocking_is_lossless,
    re-pinned on the sig∩sig rule), the brute-force fixture twin,
    and the registered oracle (which keeps the sig × full shape —
    equal FINAL pair sets prove the tighter pruning loses nothing).
    A |len(a) − len(b)| <= d band prunes cheaply in-join before the
    verify.

    SHORT-STRING completeness (a real defect caught by the
    brute-force test, worth its comment): the lemma only guarantees
    a surviving signature gram when |gram_set(a)| > d·q — "zq" vs
    "zr" are distance 1 with ZERO shared bigrams. Docs with <=
    d·q grams (length < q·(d+1)) therefore join through a separate
    LENGTH-BANDED path against every doc within d of their length —
    both sides of that join are length-bounded (< q·(d+1) + d
    chars), so the short bucket is tiny on any document corpus and
    the broadcast is safe by construction.

    Verification is ONE built-in ``levenshtein(a, b, d)`` per
    candidate (JVM-side, threshold-bounded early exit; -1 means
    "exceeds d"). Output: (id_a, id_b, edit_distance) with
    id_a < id_b.

    Cross-engine caveat (pinned in tests/test_cross_engine.py):
    Spark's levenshtein counts CODEPOINTS, DuckDB's counts UTF-8
    BYTES — they agree exactly on ASCII text (the fixture corpus)
    and diverge on multi-byte characters; an oracle for non-ASCII
    corpora must normalize first.

    Reference parity: gasket pipes corpora through dedup stages
    (reference index.js:1-258); this is the typo/OCR-grain stage,
    one declarative plan."""
    sig_k = d * q + 1
    # one narrow persisted (id, text) table feeds EVERY corpus
    # consumer below — the gram explode, the short-bucket length
    # tables, and both verify text sides (r13: each of those used to
    # re-run the caller's corpus construction — the typo-injection
    # union for q_dedup_edit — once per consumer, four more times
    # per action)
    lens = df.select(F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_txt")).persist()
    # eager fill (r14): four consumers read this cache in concurrent
    # cold stages — unmaterialized, each would re-run the caller's
    # corpus construction on partitions not yet cached
    lens.count()
    toks = F.col("_txt")
    n = F.length(toks) - (q - 1)
    gidx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(gidx, lambda i: F.substring(toks, i, q)))
    # NARROW explode: only (id, gram, len) — carrying the document
    # text through the gram fan-out would multiply the shuffled bytes
    # by the document length (r11 self-review catch); the int length
    # rides along so the LENGTH BAND can prune INSIDE the candidate
    # join (below), not just at verify
    base = lens.select(F.col("_id"),
                       F.explode(grams).alias("g"),
                       F.length("_txt").alias("_len"))
    # canonical global order: (df, gram) — derived identically by any
    # engine from the same corpus, no hashing involved
    dfreq = base.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    # persist the SIGNATURE table (r13 optimization round): with the
    # sig × sig candidate join (see docstring lemma) the full ranked
    # gram table has no consumer beyond this filter, so the cache
    # holds d·q+1 rows per doc instead of every gram — the explode +
    # df join + rank window (the expensive half of the build: 2.7M
    # gram rows at sf0.1) still runs exactly once, serving both join
    # sides from one cache.
    sig = (base.join(dfreq.hint("shuffle_hash"), "g")
           .withColumn("_rk", F.row_number().over(
               Window.partitionBy("_id")
               .orderBy(F.col("_df").asc(), F.col("g").asc())))
           .filter(F.col("_rk") <= sig_k)
           .select("_id", "g", "_len").persist())
    # eager fill (r14): the sig × sig candidate join consumes this
    # from both sides — cold, the concurrent sides raced the cache
    # fill and each re-ran the explode + df-join + rank window (the
    # expensive half of the build) on partitions not yet cached
    sig.count()
    s, f = sig.alias("s"), sig.alias("f")
    # the |len(a) − len(b)| <= d band applies INSIDE the candidate
    # join (lossless: levenshtein <= d forces it) — on a repetitive
    # corpus "globally rarest" grams can still be corpus-hot (the r12
    # sf0.1 catch: 19.8k distinct 8-grams over 10k docs made 8.6M
    # unbanded candidates and pushed the verify join to the heap
    # margin; the in-join band cuts candidates ~20x for free). The
    # sig × sig join is symmetric, so `<` (not `!=`) emits each
    # unordered pair once per shared sig gram — no least/greatest
    # swap needed and half the pre-distinct rows.
    cand_sig = (s.join(f, "g")
                .filter((F.col("s._id") < F.col("f._id"))
                        & (F.abs(F.col("s._len") - F.col("f._len"))
                           <= d))
                .select(F.col("s._id").alias("id_a"),
                        F.col("f._id").alias("id_b")))
    # short-string path: docs with <= d·q grams get no signature
    # guarantee — band them against every doc within d of their
    # length (both sides length-bounded, so the broadcast is tiny)
    short_max_len = q * (d + 1) - 1
    ids = lens.select(F.col("_id"), F.length("_txt").alias("_len"))
    shorts = ids.filter(F.col("_len") <= short_max_len)
    near = ids.filter(F.col("_len") <= short_max_len + d)
    sh, nr = shorts.alias("sh"), near.alias("nr")
    cand_short = (F.broadcast(sh).join(
        nr, (F.col("sh._id") != F.col("nr._id"))
        & (F.abs(F.col("sh._len") - F.col("nr._len")) <= d))
        .select(F.least("sh._id", "nr._id").alias("id_a"),
                F.greatest("sh._id", "nr._id").alias("id_b")))
    cand = cand_sig.unionByName(cand_short).distinct()
    a = lens.select(F.col("_id").alias("id_a"), F.col("_txt").alias("_ta"))
    b = lens.select(F.col("_id").alias("id_b"), F.col("_txt").alias("_tb"))
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), d)
    out = (cand.join(a, "id_a").join(b, "id_b")
           .filter(F.abs(F.length("_ta") - F.length("_tb")) <= d)
           .withColumn("edit_distance", dist)
           .filter(F.col("edit_distance") >= 0)
           .select("id_a", "id_b", "edit_distance"))
    return out, (sig, lens)
