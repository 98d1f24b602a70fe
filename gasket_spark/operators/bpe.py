"""BPE tokenizer training and encoding — the merge-table build.

Byte-pair encoding's training loop (count adjacent symbol pairs →
take the most frequent → merge it everywhere → repeat) runs as ONE
Spark aggregation plus an in-memory loop over the DISTINCT-WORD
table, the shape standard BPE trainers use:

* the corpus is scanned ONCE into (freq, sym) — one row per distinct
  word, every pair count weighted by the word frequency (identical
  statistics to scanning raw text) — and collected: the vocabulary is
  orders of magnitude smaller than the corpus, and a loud size guard
  (``BPE_MAX_WORDS``) bounds what reaches the driver;
* every round then runs on the driver: frequency-weighted pair
  counts, the argmax, and the merge;
* the merge APPLIES as plain string ``replace`` on a space-padded
  symbol encoding (" l o w " — symbols never contain spaces, so
  " l o " can only match a real symbol boundary). Python's
  ``str.replace``, the JVM's ``replace`` and DuckDB's ``replace`` are
  the same left-to-right non-overlapping rewrite, so the loop is
  restatable verbatim in ANSI SQL (the oracle) and in a map-side JVM
  expression chain (the encoder).

Replace-vs-greedy subtlety (worth its paragraph): a single
left-to-right non-overlapping ``replace`` pass can MISS occurrences
whose leading space was consumed by the previous match (" x y x y "
merges only the first pair), so each round applies ``passes``
replace passes and then ASSERTS the pattern is gone — if any
residual occurrence survives, the build raises loudly rather than
silently leaving a round half-applied (the lsh_bucket domain-guard
posture). The fixpoint these passes reach is the operator's DEFINED
merge semantics: it is maximal (no adjacent pair remains), lossless,
and equals the classic list-greedy scan except within same-pair runs
of >= 5 symbols, where the grouping differs (" x x x x x " ->
[xx, x, xx] vs greedy [xx, xx, x] — a real divergence the
hypothesis property in tests/test_properties.py discovered and now
pins). All three engines (Spark, DuckDB, Python) share the replace
semantics, so training, encoding, and the SQL oracles agree
bit-for-bit BY CONSTRUCTION; only bit-parity with list-greedy
tokenizers (e.g. HF BPE) is scoped out on long runs. Determinism:
the winning pair breaks count ties on the pair string ascending.

Reference parity: gasket pipelines stage user transforms over a
stream (reference index.js:1-258); tokenizer training is the
canonical corpus-preprocessing stage, here one declarative loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _padded_symbols(word_col: str) -> F.Column:
    """' c h a r s ' — initial character symbols, space-padded."""
    return F.concat(F.lit(" "),
                    F.concat_ws(" ", F.split(F.col(word_col), "")),
                    F.lit(" "))


# Size contract of the driver-side merge loop: the distinct-word
# table is collected to the driver, one (freq, sym) row per word.
BPE_MAX_WORDS = 2_000_000


def bpe_merge_table(df: DataFrame, text_col: str = "text",
                    n_merges: int = 8, passes: int = 4) -> list[tuple]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    merge table as a list of (rank, left, right, pair_count) —
    driver-side because it IS a driver artifact (the tokenizer file a
    training run ships; n_merges rows, bounded by construction).

    ``passes`` bounds the per-round replace fixpoint (exact for
    same-pair runs up to 2^passes symbols; guarded loudly beyond).

    Shape: ONE Spark aggregation, then a Python loop. The corpus is
    counted into (freq, sym) at vocabulary grain — ``sym`` built by
    :func:`_padded_symbols`, the same starting symbols the SQL twin
    and the encoder use — and collected; more than ``BPE_MAX_WORDS``
    distinct words raise instead of flooding the driver. Every round
    then runs on the collected table: frequency-weighted pair counts,
    the argmax (count descending, then pair ascending by UTF-8 byte
    order — Spark's string order), and the same ``passes`` chained
    ``str.replace`` calls the JVM form applied, with the same residual
    check. The job count is independent of ``n_merges``."""
    rows = (df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
            .select("freq", _padded_symbols("w").alias("sym"))
            .limit(BPE_MAX_WORDS + 1).collect())
    if len(rows) > BPE_MAX_WORDS:
        raise ValueError(
            f"bpe_merge_table: more than BPE_MAX_WORDS={BPE_MAX_WORDS} "
            "distinct words — the merge loop holds the whole vocabulary "
            "on the driver")
    words = [(r.freq, r.sym) for r in rows]
    merges: list[tuple] = []
    for rank in range(n_merges):
        counts: dict[str, int] = {}
        for freq, sym in words:
            syms = sym.strip(" ").split(" ")
            for a, b in zip(syms, syms[1:]):
                pair = f"{a} {b}"
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p.encode("utf-8")))
        left, right = pair.split(" ")
        merges.append((rank, left, right, counts[pair]))
        pat, rep = f" {left} {right} ", f" {left}{right} "
        advanced = []
        for freq, sym in words:
            for _ in range(passes):
                sym = sym.replace(pat, rep)
            if pat in sym:
                raise ValueError(
                    f"bpe_merge_table: pattern {pair!r} survives {passes} "
                    "replace passes — raise `passes` so the round reaches "
                    "its replace fixpoint (the operator's defined merge "
                    "semantics) instead of leaving the merge half-applied")
            advanced.append((freq, sym))
        words = advanced
    return merges


def bpe_merges_df(df: DataFrame, text_col: str = "text",
                  n_merges: int = 8, passes: int = 4) -> DataFrame:
    """DataFrame form of :func:`bpe_merge_table` — (merge_rank, left,
    right, pair_count), the shape a ``queries()`` registration and
    its SQL oracle compare."""
    rows = bpe_merge_table(df, text_col, n_merges, passes)
    spark = df.sparkSession
    return spark.createDataFrame(
        rows or [], "merge_rank int, left string, right string, "
                    "pair_count bigint")


def bpe_encode(df: DataFrame, merges: list[tuple],
               text_col: str = "text", id_col: str = "doc_id",
               passes: int = 4, check_residual: bool = True) -> DataFrame:
    """Apply a learned merge table — the ENCODE half of the
    tokenizer: every word re-tokenizes by replaying the merges in
    rank order (the exact BPE inference rule), entirely as chained
    JVM ``replace`` expressions over the padded symbol encoding, so
    a 100 TB corpus tokenizes in ONE narrow map-side pass (no
    Python, no shuffle — the merge table is a driver-side literal
    chain, exactly how a broadcast tokenizer behaves) and the result
    is restatable in ANSI SQL. Returns (id_col, tokens array<string>,
    n_tokens) at document grain; token count is the pack/packing
    currency (q_pack_shards).

    Same fixpoint guard as training, and it must be INDEPENDENT of
    it: the trainer certified ``passes`` only for the corpus it
    trained on, while encode routinely runs a stored merge table
    over UNSEEN documents whose same-pair runs may exceed 2^passes
    (the r11 ADVICE catch — encode used to trust the caller and
    silently leave such a merge half-applied). ``check_residual``
    (default) therefore guards each merge IN-PLAN: a row whose
    padded stream still contains the merge pattern after the replace
    chain raises loudly at execution (per-row ``when``/
    ``raise_error`` — no extra action, no shuffle, negligible JVM
    cost). The check sits right after each merge's passes, mirroring
    the trainer's per-round residual check, because a later merge
    can legitimately RE-CREATE an earlier pair (" l x y r " with
    merge (x,y) and xy == nothing — adjacency (l, r) never forms,
    but a fused symbol equal to an earlier pattern's left/right can;
    the operator's defined rank-order semantics leaves such re-formed
    pairs unmerged, exactly as the trainer's own stream would).

    Expression-shape note (the r13 optimization round's catch): the
    guard must reference the accumulated stream through a LET binding,
    not directly. ``when(~contains(col, pat), col)`` names ``col``
    twice, and Catalyst expressions are trees, not DAGs — with the
    guard value inside a conditional branch, subexpression elimination
    does not fire, so eight guarded merge layers nested to ~2^8 copies
    of the replace chain and the encode evaluated EXPONENTIALLY in the
    merge count (measured 120 s for the sf0.1 noop-sink pass vs ~1 s
    once let-bound). ``transform(array(col), s -> guard(s))`` binds the
    evaluated value to a lambda variable: each stage is computed once,
    the guard references only the variable, and the whole chain is
    linear again — same values, same in-plan raise, still
    zero-exchange map-side JVM."""
    col = _padded_symbols_text(text_col)
    for _rank, left, right, _n in merges:
        pat, rep = F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        for _ in range(passes):
            col = F.replace(col, pat, rep)
        if check_residual:
            err = F.concat(F.lit(
                f"bpe_encode: pattern {left!r}+{right!r} survives "
                f"{passes} replace passes on "), F.col(id_col).cast(
                    "string"), F.lit(
                " — raise `passes` so every merge reaches its replace "
                "fixpoint (the operator's defined semantics) instead "
                "of silently half-applying a stored merge table to an "
                "unseen corpus"))
            col = F.get(F.transform(
                F.array(col),
                lambda s: F.when(~F.contains(s, pat), s)
                .otherwise(F.raise_error(err))), 0)
    toks = F.split(F.trim(col), " +")
    return df.select(
        F.col(id_col).alias(id_col),
        toks.alias("tokens"),
        F.size(toks).cast("bigint").alias("n_tokens"))


def bpe_train_oracle_sql(n_merges: int, passes: int = 4,
                         table: str = "corpus",
                         text_col: str = "text") -> str:
    """Unrolled ANSI-SQL twin of :func:`bpe_merge_table` (DuckDB
    dialect) — one CTE chain per round: pair counts from the previous
    word state, the 1-row argmax (count desc, pair asc), and the word
    state advanced by ``passes`` nested replaces of ``' l r '`` with
    ``' lr '``. The q_bpe_train oracle; also the pinned cross-engine
    twin in tests/test_cross_engine.py (single shared builder so the
    test and the registration can never drift)."""
    parts = [f"""
    WITH words AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table})
      WHERE w <> '' GROUP BY w),
    w0 AS (
      SELECT freq, ' ' || array_to_string(string_split_regex(w, ''), ' ')
             || ' ' AS sym
      FROM words)"""]
    for r in range(1, n_merges + 1):
        rep = "sym"
        for _ in range(passes):
            rep = (f"replace({rep}, ' ' || pair || ' ', "
                   f"' ' || replace(pair, ' ', '') || ' ')")
        parts.append(f""",
    p{r} AS (
      SELECT freq, unnest(list_transform(
        range(1, greatest(len(sy) - 1, 0) + 1),
        i -> sy[i] || ' ' || sy[i + 1])) AS pair
      FROM (SELECT freq, string_split(trim(sym), ' ') AS sy
            FROM w{r - 1})),
    b{r} AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p{r}
      GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
    w{r} AS (
      SELECT freq, {rep} AS sym FROM w{r - 1} CROSS JOIN b{r})""")
    unions = " UNION ALL ".join(
        f"""SELECT {r - 1} AS merge_rank,
               split_part(pair, ' ', 1) AS left_sym,
               split_part(pair, ' ', 2) AS right_sym, n AS pair_count
            FROM b{r}""" for r in range(1, n_merges + 1))
    parts.append(f" SELECT * FROM ({unions})")
    return "".join(parts)


def bpe_encode_oracle_sql(n_merges: int, passes: int = 4,
                          table: str = "corpus",
                          doc_table: str | None = None,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """ANSI-SQL twin of learn-then-encode: the training CTE chain of
    :func:`bpe_train_oracle_sql` (over ``table``) extended with a
    document-grain replay of every learned merge (over ``doc_table``,
    defaulting to the same table) — the q_bpe_tokens oracle shape:
    (id, tokens_str, n_tokens). Tokens flatten to a space-joined
    string per the repo's array-hashing rule (q_agg_collect
    precedent)."""
    doc_table = doc_table or table
    train = bpe_train_oracle_sql(n_merges, passes, table, text_col)
    ctes = train[:train.index(" SELECT * FROM (")]
    # the word separator is a DOUBLE space; stated as ' ' || ' '
    # because the @query registry normalizes oracle SQL with
    # " ".join(sql.split()), which would silently collapse a literal
    # '  ' to ' ' INSIDE the quotes (the r12 q_bpe_tokens catch) —
    # never put runs of >1 space in an oracle string literal
    parts = [ctes, f""",
    d0 AS (
      SELECT {id_col},
             ' ' || array_to_string(list_transform(
               string_split({text_col}, ' '),
               w -> array_to_string(string_split_regex(w, ''), ' ')),
               ' ' || ' ') || ' ' AS sym
      FROM {doc_table})"""]
    for r in range(1, n_merges + 1):
        rep = "sym"
        for _ in range(passes):
            rep = (f"replace({rep}, ' ' || pair || ' ', "
                   f"' ' || replace(pair, ' ', '') || ' ')")
        parts.append(f""",
    d{r} AS (SELECT {id_col}, {rep} AS sym
             FROM d{r - 1} CROSS JOIN b{r})""")
    parts.append(f"""
    SELECT {id_col},
           array_to_string(string_split_regex(trim(sym), ' +'), ' ')
             AS tokens_str,
           CAST(len(string_split_regex(trim(sym), ' +'))
                AS BIGINT) AS n_tokens
    FROM d{n_merges}""")
    return "".join(parts)


def _padded_symbols_text(text_col: str) -> F.Column:
    """Whole-document padded symbol stream: every WORD becomes its
    padded character symbols, words separated by a double space (a
    zero-width symbol boundary no ``" l r "`` pattern can match
    across, since patterns contain single interior spaces and
    symbols are never empty)."""
    word = F.transform(
        F.split(F.col(text_col), " "),
        lambda w: F.concat_ws(" ", F.split(w, "")))
    return F.concat(F.lit(" "), F.concat_ws("  ", word), F.lit(" "))
