"""Web-text analysis as native Column expressions — the training-data-pipeline
function library (language-ID, quality scoring, token counting, document
fingerprinting, shingling, MinHash, SimHash).

Everything is expressed with builtin ``pyspark.sql.functions`` so it is
JVM-side AND reproducible in ANSI SQL for the DuckDB oracle (hashing uses
md5, identical in both engines — no engine-specific hash functions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- token counting --------------------------------------------------------


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("bigint")


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish subword proxy: count of word-piece matches
    ([A-Za-z]{1,4} runs + digits + punctuation singles)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"), 0)
    ).cast("bigint")


# --- quality scoring --------------------------------------------------------

_STOPWORDS = ["the", "and", "for", "that", "with"]


def _occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences via length difference — the same
    trick is expressible in ANSI SQL for the oracle."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def quality_features(text: Column) -> dict[str, Column]:
    n_chars = F.length(text).cast("bigint")
    n_tokens = token_count_ws(text)
    n_stop = sum(
        (_occurrences(F.lower(text), f" {w} ") for w in _STOPWORDS), F.lit(0)
    ).cast("bigint")
    n_punct = sum(
        (_occurrences(text, c) for c in [".", ",", "!", "?"]), F.lit(0)
    ).cast("bigint")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_stopwords": n_stop,
        "n_punct": n_punct,
        "stop_ratio": n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"),
        "punct_ratio": n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"),
        "mean_token_len": n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"),
    }


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + stopword presence
    + sane punctuation density. Deterministic, closed-form."""
    f = quality_features(text)
    len_ok = (f["n_chars"] >= 200) & (f["n_chars"] <= 100000)
    stop_ok = f["stop_ratio"] >= 0.01
    punct_ok = f["punct_ratio"] <= 0.2
    tok_ok = (f["mean_token_len"] >= 2.0) & (f["mean_token_len"] <= 12.0)
    score = (
        len_ok.cast("int") + stop_ok.cast("int") + punct_ok.cast("int") + tok_ok.cast("int")
    ).cast("double") / F.lit(4.0)
    return score


# --- language id (n-gram / stopword heuristic) ------------------------------

_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " les ", " et "],
    "es": [" el ", " los ", " que "],
    "pt": [" de ", " os ", " uma "],
}


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum((_occurrences(low, m) for m in markers), F.lit(0)).cast("bigint")
        for lang, markers in _LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax over marker-hit counts; ties broken by language order; 'und'
    (undetermined) when no markers hit at all."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for lang in ["en", "de", "fr", "es", "pt"]:
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


# --- fingerprinting ----------------------------------------------------------

_FNV_MOD = 1 << 31


def doc_fingerprint(text: Column) -> Column:
    """Rolling polynomial fingerprint over whitespace tokens:
    h = sum_i pos_i * (len(token_i) * 131 + first_char_code) mod 2^31.
    Integer-exact and expressible identically in ANSI SQL (posexplode ↔
    generate_subscripts)."""
    toks = F.split(F.trim(text), r"\s+")
    # closed-form over aggregate() on the token array — no per-row python
    return F.pmod(
        F.aggregate(
            F.zip_with(
                toks,
                F.sequence(F.lit(1), F.size(toks)),
                lambda t, i: F.pmod(
                    i * (F.length(t) * F.lit(131) + F.coalesce(F.ascii(F.substring(t, 1, 1)), F.lit(0))),
                    F.lit(_FNV_MOD),
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: F.pmod(acc + v, F.lit(_FNV_MOD)),
        ),
        F.lit(_FNV_MOD),
    )


# --- shingling / MinHash / SimHash -------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> (space-joined), via transform over
    token positions — JVM-side."""
    # PERF: never index the token array inside a per-element lambda — Catalyst
    # inlines the split() expression, making it O(tokens²) per row. Instead
    # zip k shifted slices (split evaluates a constant number of times per
    # row) and concat element-wise.
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(toks)
    m = F.greatest(n - F.lit(k - 1), F.lit(0))
    shifted = [F.slice(toks, j + 1, m) for j in range(k)]
    zipped = F.arrays_zip(*shifted)
    shingled = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    return F.when(n >= k, shingled).otherwise(F.array().cast("array<string>"))


def shingle_hashes(shingles: Column) -> Column:
    """One 60-bit integer hash per shingle: bigint of the first 15 hex chars
    of md5 — computed ONCE; permutations derive from it by XOR (cheap integer
    ops instead of k md5 passes). Identical in DuckDB:
    ``('0x' || substr(md5(s),1,15))::BIGINT``."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )


def minhash_salt(p: int) -> int:
    """Deterministic 60-bit XOR salt for permutation p (golden-ratio mix)."""
    return (p * 0x9E3779B97F4A7C15) & ((1 << 60) - 1)


def simhash64ish(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens using the MSB of each md5 hex nibble as
    the bit source (bit b of token t = md5(t)[b] ∈ {8..f}), majority-weighted
    by token frequency. Returns a ``bits``-bit bigint. Expressible in ANSI SQL
    (same md5-substring trick)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    hashes = F.transform(toks, lambda t: F.md5(t))
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        # sum over tokens of +1/-1 for bit b
        contrib = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.substring(h, b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        out = out + F.when(contrib > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def extract_text_from_html(html: Column) -> Column:
    """Deterministic HTML→text extraction, entirely JVM-side (the per-row
    invariant of BASELINE.json: byte-identical extracted text per url —
    asserted in tests against the pages generator's known wrapping).

    Chain: decode utf-8 → drop <script>/<style> subtrees → strip tags →
    unescape the common entities → collapse whitespace. RE2-compatible
    patterns (no backreferences) so the DuckDB oracle can run the exact
    same chain."""
    t = html.cast("string")
    t = F.regexp_replace(t, r"(?s)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?s)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, rep in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# PII patterns: RE2-compatible AND Java-regex-compatible (no lookaround, no
# backreferences, explicit character classes instead of \s whose definition
# differs between the engines) so the DuckDB oracle can run the identical
# chain. Order matters: emails before phones (an email's digits must not be
# half-eaten by the phone pattern), IPs before phones (dotted quads look
# like phone fragments).
_PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3,4}[ -]?[0-9]{0,4}\b", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and international-format phone numbers
    to typed placeholders — the standard pre-training redaction pass. Pure
    JVM regexp_replace chain (no Python in the hot path); the exact same
    three patterns run in DuckDB for the oracle."""
    out = text
    for pat, rep in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_redaction_sql(col: str) -> str:
    """The DuckDB twin of ``redact_pii`` (nested regexp_replace with the
    global flag), built from the same pattern table."""
    expr = col
    for pat, rep in _PII_PATTERNS:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{rep}', 'g')"
    return expr


def vocab_topk(
    df,
    k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Top-k vocabulary with term and document frequencies — the vocab-build
    step of a tokenizer/IDF pipeline. Rank is deterministic (count desc,
    token asc).

    Plan: explode → ONE groupBy shuffle on the token (count + exact
    distinct-doc count), then TakeOrdered for the global top-k — no full
    sort shuffle; the rank window runs on k rows only. At 100 TB the token
    table is the shuffle, and it is the minimal one (map-side partial
    counts collapse each partition to its distinct tokens first)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    topk = counts.orderBy(F.col("term_count").desc(), F.col("token")).limit(k)
    w = Window.orderBy(F.col("term_count").desc(), F.col("token"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf_top_terms(
    df,
    m: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
):
    """Per-document top-m keywords by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the sklearn-style smooth variant; ties by
    token asc) — the keyword-extraction / doc-representation step.

    Plan: one explode + one (doc, token) count shuffle; document
    frequencies aggregate from the same counted frame (map-side partial),
    joined back on the token; the final rank window shuffles on the doc id.
    ``n_docs`` (corpus size) is a driver-side scalar count when not given —
    a count, never a collect."""
    from pyspark.sql import Window

    n = n_docs if n_docs is not None else df.count()
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n + 1))) / (F.col("df") + 1)) + F.lit(1.0)
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf", F.round(F.col("tf") * idf, 6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= m)
        .select(id_col, "token", "tfidf", "rank")
    )


# --- unicode normalization -------------------------------------------------

# C0 controls minus \t \n \r, plus DEL — the bytes that break tokenizers and
# make visually-identical texts hash differently. C1 (\x80-\x9f) left alone:
# regex semantics over UTF-8 differ between engines there.
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def normalize_text(text: Column) -> Column:
    """Unicode NFC normalization + control-character strip — the canonical
    first step before any hashing/dedup/tokenization pass (decomposed
    accents and stray controls otherwise make visually-identical documents
    hash apart). Arrow-vectorized pandas UDF (pandas ``Series.str.normalize``
    is C-accelerated); the ONLY non-native expression in this module, because
    Spark SQL has no NFC builtin. Exact DuckDB oracle:
    ``regexp_replace(nfc_normalize(x), '[ctrl class]', '', 'g')``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc_strip(s):  # pd.Series -> pd.Series
        return s.str.normalize("NFC").str.replace(_CTRL_RE, "", regex=True)

    return _nfc_strip(text)
