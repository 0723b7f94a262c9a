"""Text-analysis column functions for the documents pipeline.

All pure ``pyspark.sql.functions`` expressions — they compile into
whole-stage codegen and run at full JVM speed over 100 TB of text; no
Python crosses the hot path. The LLM-data-pipeline use cases (token
counting, quality scoring, language ID, fingerprinting) per the north
star in BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword seed lists for the heuristic language ID /
# stopword-ratio features. Public knowledge (common function words).
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MARKERS = {
    # language → characters/words whose presence is a strong signal
    "de": r"[äöüß]|\b(und|der|die|das|nicht)\b",
    "fr": r"[àâçéèêëîïôùûœ]|\b(le|la|les|et|est|une)\b",
    "es": r"[áéíóúñ¿¡]|\b(el|los|las|es|una|que)\b",
    "zh": r"[一-鿿]",
}


def normalize_text(col: Column | str) -> Column:
    """Lowercase + trim + collapse internal whitespace (canonical form)."""
    return F.regexp_replace(F.lower(F.trim(F.col(col) if isinstance(col, str) else col)), r"\s+", " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (``size(split(trim(text), '\\s+'))``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


# GPT-2-style pre-tokenizer pattern, restricted to the subset shared by
# Java regex (Spark) and RE2 (DuckDB): no lookahead, only alternation,
# non-capturing groups and unicode classes. Each match approximates one
# BPE token BEFORE merges — the standard cheap token-budget estimator
# for LLM-training-data accounting (true BPE needs the merge table; the
# pre-tokenizer splits are where ~90% of the count is decided).
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate BPE token count: matches of the pre-tokenizer split
    regex (codegen'd JVM regex — no Python, no tokenizer library)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0)))


def winnow_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    use_md5: bool = False,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every ``k``-char-gram of the normalized text,
    slide a window of ``w`` consecutive gram hashes, keep the minimum
    hash of each window. Returns a DataFrame of distinct
    ``(id_col, fp)`` rows.

    Winnowing guarantees any shared substring of length ``k + w - 1``
    contributes at least one shared fingerprint, while selecting only
    ~``2/(w+1)`` of all gram hashes — the classic partial-overlap /
    containment detector (MOSS).

    Shape: ``posexplode`` the gram hashes, then a sliding ``min`` over a
    ``(id, pos)`` window frame — linear in text length, one shuffle on
    the document id (documents are independent, so no global window).
    A pure-array formulation (``transform(seq_j, j -> array_min(
    slice(grams, j, w)))``) is NOT used deliberately: Spark higher-order
    functions re-evaluate the captured ``grams`` expression per lambda
    element, turning winnowing into O(len²) hash evaluations per row.

    ``use_md5=True`` swaps the JVM-native ``xxhash64`` for ``md5`` so a
    DuckDB oracle can replay the identical selection; production uses
    the default (8-byte longs, not 32-char strings).
    """
    from pyspark.sql import Window

    hash_fn = F.md5 if use_md5 else F.xxhash64
    s = normalize_text(text_col)
    n_grams = F.greatest(F.length(F.col("__s")) - F.lit(k - 1), F.lit(1))
    # Repartition on the id BEFORE the gram explode: (a) a few large
    # input files would otherwise serialize the whole O(total text)
    # hash work onto a few tasks; (b) the exchange pre-satisfies the
    # window's hash-distribution requirement, so it is the SAME single
    # shuffle, just moved ahead of the heavy compute; (c) the shuffle
    # boundary materializes the normalized text once per row (projection
    # collapse would otherwise re-normalize per gram element). The
    # partition count is explicit because AQE would coalesce on shuffle
    # BYTES (text is small) while the per-row gram/hash work it gates is
    # the real cost — compute-heavy, data-light.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    grams = (
        df.select(F.col(id_col), s.alias("__s"))
        # NULL text must emit NO fingerprints: substring(NULL) is NULL
        # and hash(NULL) is a CONSTANT (xxhash64's seed), so without
        # this filter every null-text doc would share one fake
        # fingerprint and become a mutual near-dup candidate. (The SQL
        # oracle's range(1, NULL) already yields nothing.)
        .filter(F.col("__s").isNotNull())
        .repartition(n_parts, F.col(id_col))
        # Explode positions first, hash second: a hash inside a
        # higher-order lambda runs interpreted (~5× slower than the
        # codegen'd row expression this compiles to).
        .select(
            id_col,
            "__s",
            F.explode(F.sequence(F.lit(0), n_grams - F.lit(1))).alias("__pos"),
        )
        .select(
            id_col,
            "__pos",
            hash_fn(F.substring(F.col("__s"), F.col("__pos") + F.lit(1), F.lit(k))).alias("__h"),
        )
    )
    frame = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    part = Window.partitionBy(id_col)
    return (
        grams.select(
            id_col,
            "__pos",
            F.min("__h").over(frame).alias("fp"),
            F.count(F.lit(1)).over(part).alias("__n"),
        )
        # windows start at 0-based pos 0..max(n_grams-w, 0): every full
        # w-frame, or the single clipped frame when n_grams < w.
        .filter(F.col("__pos") <= F.greatest(F.col("__n") - F.lit(w), F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.!?,;:]", ""))
    return n_punct / F.length(c)


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Number of stopword occurrences (regex word-boundary match)."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(stopwords) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(0)))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    The exact-dedup key. (The reference's only dedup is the keep-first
    uuid dedup at io_utils.py:34 in /root/reference; this generalizes it
    to content-addressed dedup for document tables.)
    """
    return F.md5(normalize_text(col))


def lang_guess(col: Column | str) -> Column:
    """Heuristic language ID via marker characters/words, default 'en'."""
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(F.lower(c).rlike(LANG_MARKERS["zh"]), F.lit("zh"))
    for lang in ("de", "fr", "es"):
        expr = expr.when(F.lower(c).rlike(LANG_MARKERS[lang]), F.lit(lang))
    return expr.otherwise(F.lit("en"))


# ------------------------------------------------------------- HTML → text

# Block elements whose CONTENT is boilerplate, dropped whole (the
# trafilatura-style main-content rule, regex-subset edition); remaining
# tags are stripped but their content kept. Patterns stay inside the
# syntax both Java regex (Spark) and RE2 (DuckDB) accept — lazy
# quantifiers, no backreferences, no lookaround.
HTML_DROP_BLOCKS = ("head", "style", "script", "nav", "footer", "aside")
# decode order is load-bearing: named entities first, &amp; LAST —
# decoding &amp; first would turn '&amp;lt;' into a fresh '&lt;' and
# corrupt the round-trip (the classic double-decode bug).
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&copy;", "©"),
    ("&amp;", "&"),
)


def html_main_text(col: Column | str) -> Column:
    """Main-content extraction from an HTML string — the web-corpus
    ingestion step (Common-Crawl-style pipelines) between fetch and the
    quality/dedup stages: drop boilerplate BLOCKS (head/style/script/
    nav/footer/aside) with their content, strip remaining tags keeping
    their content, decode the core entities, collapse whitespace.

    Pure JVM regexp/replace chain (whole-stage codegen, no Python) and
    engine-portable by construction — ``sql_html_main_text`` emits the
    identical chain as ANSI SQL, which is what lets the census query
    carry a value-exact DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    for tag in HTML_DROP_BLOCKS:
        c = F.regexp_replace(c, f"<{tag}[^>]*>.*?</{tag}>", "")
    c = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def sql_html_main_text(expr: str) -> str:
    """DuckDB mirror of html_main_text over a SQL expression (RE2
    accepts the same lazy-quantifier patterns; the 'g' flag replays
    Spark's replace-all default)."""
    out = expr
    for tag in HTML_DROP_BLOCKS:
        out = f"regexp_replace({out}, '<{tag}[^>]*>.*?</{tag}>', '', 'g')"
    out = f"regexp_replace({out}, '<[^>]*>', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
