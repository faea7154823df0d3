"""Deduplication family for web-scale corpora (training-data pipeline ops).

All operators take a DataFrame with (id_col, text_col) and return DataFrames;
all hashing is md5-based so every operator has an exact ANSI-SQL oracle.

Scale notes (100 TB): exact dedup is one map-side md5 + one shuffle on the
digest; MinHash-LSH shuffles once per band on short band-signature strings
(not documents); candidate verification joins only within buckets. Skewed
buckets (boilerplate shingles) are bounded by dropping over-wide buckets,
the standard LSH guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TXT


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): returns one row per distinct text
    with the keeper (min id) and the duplicate count.

    NULL text (failed extraction) is NOT a duplicate class: each NULL-text doc
    is its own singleton group (digest NULL). Without this, md5(NULL)=NULL
    would cluster every extraction failure into one giant "duplicate" group
    and downstream keep-one-drop-rest would delete distinct documents. The
    group key stays a single expression, so the plan is still one scan + one
    shuffle (the sentinel prefix "\\x00:" can never collide with a 32-hex md5)."""
    digest = F.md5(F.col(text_col))
    group_key = F.coalesce(digest, F.concat(F.lit("\x00:"), F.col(id_col).cast("string")))
    return (
        df.select(F.col(id_col), digest.alias("digest"), group_key.alias("_gk"))
        .groupBy("_gk")
        .agg(
            F.min("digest").alias("digest"),
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("digest", "keeper_id", "n_docs")
    )


def dedup_exact_pairs(df: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(dup_id, keeper_id) rows for every non-keeper duplicate.

    Shape: ONE shuffle on the digest and a window-min — no join at all. The
    keeper table has ~|distinct docs| rows, so broadcasting it (or building
    it as a separate join side) is an OOM at 10^12 docs; the window form
    keeps everything a single exchange.

    NULL-text docs never pair with anything (md5(NULL)=NULL would otherwise
    make one window partition of every extraction failure and emit all but
    one of them as duplicates); the isNotNull filter is pushed to the scan."""
    from pyspark.sql import Window

    with_digest = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("digest")
    ).filter(F.col("digest").isNotNull())
    w = Window.partitionBy("digest")
    return (
        with_digest.withColumn("keeper_id", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("keeper_id"))
        .select(F.col(id_col).alias("dup_id"), "keeper_id")
    )


def _lsh_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_perm: int,
    band_size: int,
) -> DataFrame:
    """(id, bucket) rows: MinHash signature banded into LSH bucket keys —
    the shared front half of the self-join (``minhash_lsh_pairs``) and the
    new-vs-standing join (``dedup_incremental``). Documents with no
    shingles produce no rows."""
    # exclude shingle-less docs BEFORE the hash projection, and on the cheap
    # token count: a filter on size(_h) gets pushed below the projection by
    # Catalyst with the whole shingle+md5 expression substituted into the
    # condition — doubling the dominant per-row work in the physical plan.
    # n_tokens >= k ⟺ the k-shingle list is nonempty.
    n_tokens = F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    # materialize the per-shingle integer hashes once (single md5 pass),
    # then derive every permutation by XOR over the int array
    hashed = df.filter(n_tokens >= F.lit(shingle_k)).select(
        F.col(id_col),
        TXT.shingle_hashes(TXT.word_shingles(F.col(text_col), shingle_k)).alias("_h"),
    )

    def _xor_min(salt: int):
        return F.array_min(F.transform(F.col("_h"), lambda h: h.bitwiseXOR(F.lit(salt))))

    sig = hashed.select(
        F.col(id_col),
        *[_xor_min(TXT.minhash_salt(p)).alias(f"mh{p}") for p in range(n_perm)],
    )

    n_bands = n_perm // band_size
    band_cols = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        band_cols.append(
            F.concat_ws("|", F.lit(str(b)), *cols).alias(f"band{b}")
        )
    banded = sig.select(F.col(id_col), *band_cols)

    # one row per (doc, band-signature)
    stack_expr = F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)]))
    return banded.select(F.col(id_col), stack_expr.alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding: near-duplicate CANDIDATE pairs (a < b).

    shingle → integer min-hash per permutation (one md5 per shingle, XOR
    family) → concat ``band_size`` hashes per band → self-join per band
    bucket → distinct pairs. Documents with no shingles are excluded.
    ``max_bucket``: optional skew guard — drop buckets wider than this before
    the self-join (see operators.skew.cap_buckets).
    """
    buckets = _lsh_buckets(df, id_col, text_col, shingle_k, n_perm, band_size)
    if max_bucket is not None:
        from .skew import cap_buckets

        buckets = cap_buckets(buckets, "bucket", max_bucket)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 256,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over shingle sets: pairs with
    J(a,b) >= threshold. Shuffle is on exploded distinct shingles; the
    |A∩B| count comes from a shingle-equi-join (no cross product).

    ``max_shingle_freq``: skew guard for web-scale corpora — a shingle shared
    by f documents contributes O(f²) join rows, so one piece of boilerplate
    in 10^6 docs is a 10^12-row blowup. The cap drops shingles whose
    document frequency exceeds it BEFORE the self-join (the standard df-cap:
    sizes and intersections are then both computed on the capped shingle
    universe, so J stays a true Jaccard of that universe). The cap is ON by
    default (256: one dropped shingle costs at most 256²≈65k join rows, and
    a shingle in >256 docs is boilerplate by any definition — it carries no
    near-dup signal). ``None`` is the explicit exact-variant opt-in and is
    safe only when the corpus is known boilerplate-free; mirrors how
    :func:`minhash_lsh_pairs` treats ``max_bucket``."""
    sh = (
        df.select(
            F.col(id_col), F.explode(TXT.word_shingles(F.col(text_col), shingle_k)).alias("sh")
        )
        # collapse the shingle STRING to its 64-bit hash before the distinct
        # (the first shuffle): every downstream stage — distinct, df-cap,
        # self-join — keys on 8-byte longs instead of k-word strings. The
        # same hash-equality formulation the MinHash chain already uses;
        # outputs are identical absent a 64-bit collision.
        .select(F.col(id_col), F.xxhash64(F.col("sh")).alias("sh"))
        .distinct()
    )
    if max_shingle_freq is not None:
        from .skew import cap_buckets

        sh = cap_buckets(sh, "sh", max_shingle_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_buckets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint per document (near-dup candidates share a value).

    Explode-based evaluation: md5 runs ONCE per token row; the ``bits`` bit
    contributions are cheap substring CASEs aggregated in a single groupBy.
    Semantics identical to functions.text.simhash64ish (same bit source)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("_tok"),
    ).select(F.col(id_col), F.md5(F.col("_tok")).alias("_h"))
    hexset = ("8", "9", "a", "b", "c", "d", "e", "f")
    aggs = [
        F.sum(
            F.when(F.substring(F.col("_h"), b + 1, 1).isin(*hexset), F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"_c{b}")
        for b in range(bits)
    ]
    contrib = toks.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_c{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return contrib.select(F.col(id_col), sim.alias("simhash"))


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide line-level deduplication (the CCNet/RefinedWeb boilerplate
    pass): split every document into lines, keep only the FIRST occurrence
    of each distinct line across the whole corpus (first = smallest
    (doc id, line number)), reassemble documents in original line order.
    Lines shorter than ``min_chars`` are kept unconditionally (blank
    separators and stray punctuation are not meaningful duplicates).

    Returns (id_col, text, n_lines_kept, n_lines_total); a document whose
    every line was seen earlier comes back with empty text, not dropped —
    downstream filters decide its fate.

    Scale (100 TB): ONE scan and two shuffles, both inherent — one on the
    line text for the first-occurrence rank (window row_number; identical
    lines must meet), one on the doc id to reassemble. Dropped lines ride
    to the reassembly as a keep flag instead of being filtered, so
    n_lines_total comes from the same groupBy — no second corpus scan and
    no doc_id join. No driver participation, no collect; per-window state
    is a single counter. The skew case (one boilerplate line in 10^9 docs)
    is bounded because row_number streams the partition — nothing is
    buffered per frame."""
    import re

    from pyspark.sql import Window

    pat = re.escape(sep)
    # coalesce: split(NULL) is NULL and posexplode would silently DROP the
    # document, contradicting the "comes back with empty text" contract —
    # NULL text reassembles as one empty (kept, sub-min_chars) line.
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), pat, -1)).alias(
            "line_no", "line"
        ),
    )
    w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("line_no"))
    flagged = lines.withColumn(
        "_keep",
        (F.length("line") < min_chars) | (F.row_number().over(w) == 1),
    )
    # collect_list skips the NULLs the when() leaves for dropped lines, so
    # only kept lines are buffered/sorted; counts aggregate the full set
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
        F.count(F.lit(1)).alias("n_lines_total"),
    )


def dedup_incremental(
    new_df: DataFrame,
    standing_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_perm: int = 8,
    band_size: int = 2,
    near_dup: bool = True,
) -> DataFrame:
    """Snapshot-delta dedup against a STANDING corpus: the rows of
    ``new_df`` that are neither exact nor (optionally) LSH-near duplicates
    of anything in ``standing_df``.

    The 10^12-document production shape: a new crawl snapshot is deduped
    against the accumulated corpus WITHOUT re-pairing the corpus with
    itself. Exact = md5(text) anti-join (NULL text never matches — same
    rule as ``dedup_exact``). Near-dup = the same banded MinHash buckets
    as ``minhash_lsh_pairs``, but joined new-vs-standing: the standing
    side reduces to its DISTINCT bucket keys, so the join is a semi-join
    whose output is bounded by the NEW side's bucket rows — no self-join,
    no quadratic bucket blowup, no skew cap needed (a boilerplate bucket
    in standing drops the new docs that share it, which is the semantics).

    Plan: two anti-joins on the new side (digest, then id) + one bucket
    semi-join; the standing corpus is scanned once per stage and never
    shuffled against itself. Dedup WITHIN the snapshot remains
    ``dedup_exact`` / ``minhash_lsh_pairs``, composed before or after.
    """
    digest = F.md5(F.col(text_col))
    standing_digests = standing_df.select(digest.alias("_sd")).distinct()
    survivors = new_df.withColumn("_nd", digest).join(
        standing_digests, F.col("_nd") == F.col("_sd"), "left_anti"
    ).drop("_nd")
    if near_dup:
        new_buckets = _lsh_buckets(
            survivors, id_col, text_col, shingle_k, n_perm, band_size
        )
        standing_buckets = _lsh_buckets(
            standing_df, id_col, text_col, shingle_k, n_perm, band_size
        ).select("bucket").distinct()
        drop_ids = (
            new_buckets.join(standing_buckets, "bucket", "left_semi")
            .select(id_col)
            .distinct()
        )
        survivors = survivors.join(drop_ids, id_col, "left_anti")
    return survivors


def _window_hash_mix(tok_hashes, n, window: int):
    """``window``-token sliding-window hashes as a native array expression:
    mix the W consecutive 64-bit token hashes with position-distinct
    rotate-xor (bitwise — ANSI-safe, no overflow). Building the W-word
    string per window and hashing it was 60% of the stats operator's CPU
    at the bench shape; this replaces ~80-byte string assembly + string
    hashing per window with W register ops over hashes computed once per
    token. Equality semantics: identical window text ⇒ identical mix;
    distinct windows collide with ~2^-64 probability like any 64-bit
    hash. Requires 2 <= window <= 63 (63 distinct rotations;
    :func:`_dup_windows` checks it)."""
    m = F.greatest(n - F.lit(window - 1), F.lit(0))
    slices = [F.slice(tok_hashes, j + 1, m) for j in range(window)]
    zipped = F.arrays_zip(*slices)

    def _mix(s):
        acc = None
        for j in range(window):
            h = s[str(j)]
            r = (11 * j + 7) % 63 + 1  # distinct nonzero rotations
            rot = F.shiftleft(h, r).bitwiseOR(F.shiftrightunsigned(h, 64 - r))
            acc = rot if acc is None else acc.bitwiseXOR(rot)
        return acc

    return F.when(n >= window, F.transform(zipped, _mix)).otherwise(
        F.array().cast("array<bigint>")
    )


def _dup_windows(rows: DataFrame, id_col: str, toks, tok_hashes, window: int):
    """(wins, dup): every ``window``-token window of ``rows`` as (id_col,
    pos, win_h) with the :func:`_window_hash_mix` hash, and the hashes
    that occur >= 2 times anywhere in ``rows`` — one partial-agg groupBy
    on the 8-byte hash, so boilerplate skew collapses map-side. ``window``
    must be in [2, 63]: the mix has only 63 distinct rotations."""
    if not (2 <= window <= 63):
        raise ValueError(
            f"window must be in [2, 63], got {window}: "
            "the rotate-xor window mix has only 63 distinct rotations"
        )
    wins = rows.select(
        F.col(id_col),
        F.posexplode(_window_hash_mix(tok_hashes, F.size(toks), window)).alias(
            "pos", "win_h"
        ),
    )
    dup = (
        wins.groupBy("win_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("win_h")
    )
    return wins, dup


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Exact-substring duplication statistics (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" pass,
    window-hash formulation): slide a ``window``-token window over every
    document, find windows whose exact text occurs >= 2 times anywhere in
    the corpus (other documents OR elsewhere in the same one), and report
    per document how much of it is covered by duplicated spans.

    Returns one row per input document:
    (id_col, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_frac)
    where ``dup_tokens`` is the count of DISTINCT token positions covered
    by at least one duplicated window (overlapping windows merged) and
    ``dup_frac = dup_tokens / n_tokens``. Documents shorter than ``window``
    tokens come back with zero counts, not dropped — downstream filters
    decide their fate (same contract as :func:`line_dedup`).

    Scale (100 TB): tokenization and window emission are map-side
    (`word_shingles`, JVM-only), and the window TEXT never leaves the map
    task — each window is collapsed to its xxhash64 immediately (the same
    hash-equality formulation Lee et al. use; a 64-bit collision across
    even 10^12 windows flips one count with probability ~3%·per-corpus,
    and zero at test scales). The corpus-wide occurrence count is a groupBy
    on that long — map-side partial aggregation collapses the boilerplate
    skew case (one navbar string in 10^9 docs is ONE row per map task into
    the shuffle), which is why this is a groupBy + equi-join back rather
    than a `count() over (partition by win)` window function: WindowExec
    would buffer (and spill) the entire 10^9-row hot partition. The
    join-back and the count groupBy both shuffle 8-byte keys, not window
    strings, and the join-back is an INNER join against the ≥2-occurrence
    hash set: per-doc totals (n_tokens, n_windows = max(n-W+1, 0)) are
    derived map-side, so only DUPLICATED window occurrences — a sliver at
    real dup rates — flow into the per-doc aggregate and the final doc
    join.
    Span merging is a native array fold over the per-document sorted start
    positions (bounded by document length), not an explode of every covered
    position — no W-times row blowup. No driver participation, no collect.

    ``window`` must be in [2, 63]: the rotate-xor mix assigns each of the
    W positions a distinct rotation from a schedule that cycles every 63
    positions, so a wider window would reuse rotations and let equal
    tokens at two same-rotation positions cancel out of the mix.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_tokens = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(F.size(toks))
    # per-doc base stats are pure map-side: n_windows is DERIVED from the
    # token count (max(n - W + 1, 0), exactly word_shingles' cardinality),
    # so window rows never need to flow into the per-doc aggregate unless
    # they are duplicated
    base = df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.greatest(
            n_tokens.cast("long") - F.lit(window - 1), F.lit(0).cast("long")
        ).alias("n_windows"),
    )
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    wins, dup = _dup_windows(df, id_col, toks, tok_hashes, window)
    # hash-equi INNER join against the duplicated hashes: only duplicated
    # occurrences — a sliver of the window universe at real dup rates —
    # survive into the per-doc aggregate. The join is co-partitioned with
    # the groupBy output; AQE broadcasts `dup` when the duplicated universe
    # is small.
    dup_stats = (
        wins.join(dup, "win_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_dup"),
            F.sort_array(F.collect_list(F.col("pos"))).alias("_starts"),
        )
    )
    joined = base.join(dup_stats, id_col, "left")
    # merged coverage of [s, s+window) intervals over sorted starts:
    # sum(min(window, next-prev)) + window for the last interval — exactly
    # the count of distinct covered token positions.
    m = F.size("_starts")
    gaps = F.zip_with(
        F.slice(F.col("_starts"), 1, m - 1),
        F.slice(F.col("_starts"), 2, m - 1),
        lambda a, b: F.least(b - a, F.lit(window)),
    )
    coverage = F.when(F.col("_starts").isNull() | (m == 0), F.lit(0)).otherwise(
        F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x) + F.lit(window)
    )
    return joined.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_windows"),
        F.coalesce(F.col("_n_dup"), F.lit(0)).alias("n_dup_windows"),
        coverage.cast("long").alias("dup_tokens"),
        F.round(
            coverage.cast("double")
            / F.when(F.col("n_tokens") > 0, F.col("n_tokens")).otherwise(F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


def substring_dedup_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """The REMOVAL half of the Lee et al. 2022 exact-substring pass
    (:func:`substring_dup_stats` is the measurement half): drop every
    token position covered by at least one ``window``-token window whose
    (lowercased) text occurs >= 2 times anywhere in the corpus — in ALL
    its copies, where Lee et al. keep one — and rebuild each document
    from the surviving tokens in order.

    Returns one row per input document:
    (id_col, n_tokens, kept_tokens, clean_text) — ``clean_text`` is the
    kept tokens joined by single spaces, preserving ORIGINAL case
    (window equality is case-insensitive, the removal is not a
    normalizer); '' when the document was entirely duplicated spans or
    empty, NULL only for NULL input text. Documents shorter than
    ``window`` tokens pass through unchanged (no window can cover them),
    modulo whitespace normalization — the rebuild joins with single
    spaces, the standard tokenizer-bound contract.

    Scale (100 TB): the shape is the stats pass's plus one covered-
    position explode — every stage linear in corpus tokens, nothing
    quadratic, no WindowExec on a skewed key:
      1. window hashes map-side (shared `_dup_windows`; window STRINGS
         never exist),
      2. occurrence count = ONE partial-agg groupBy on the 8-byte hash
         (boilerplate skew collapses map-side),
      3. dup-only INNER join back (a sliver at real dup rates),
      4. covered positions = explode(sequence(pos, pos+W-1)) over DUP
         occurrences only — bounded by W x dup windows — then a distinct
         and a LEFT ANTI equi-join against the exploded token rows, both
         shuffling (id, pos) pairs of longs,
      5. per-doc rebuild = one groupBy with sort_array(collect_list)
         bounded by document length (a document fits a task by the same
         contract every per-doc operator here assumes).
    """
    text = F.col(text_col)
    # ONE split of the original-case text; lowercase per token for the
    # window hashes so positions in the hash stream and the token stream
    # are aligned BY CONSTRUCTION (lowercasing whole text first could in
    # principle alter whitespace and shift positions).
    toks = F.split(F.trim(text), r"\s+")
    n_tokens = F.when(
        text.isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(toks)).cast("long")
    )
    base = df.select(
        F.col(id_col), n_tokens.alias("n_tokens"), text.isNull().alias("_null")
    )
    ne = df.filter(text.isNotNull() & (F.trim(text) != ""))
    tok_rows = ne.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(F.lower(t)))
    wins, dup = _dup_windows(ne, id_col, toks, tok_hashes, window)
    covered = (
        wins.join(dup, "win_h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(covered, [id_col, "pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("_clean"),
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.when(F.col("_null"), F.lit(None).cast("long"))
        .otherwise(F.coalesce(F.col("_kept"), F.lit(0)))
        .alias("kept_tokens"),
        F.when(F.col("_null"), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("_clean"), F.lit("")))
        .alias("clean_text"),
    )
