"""Text-analysis operators: language ID, quality scoring, token
counting, fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen) — no
Python UDFs. Outputs are integers/strings only, so the DuckDB-oracle
value hash is exact (no float rounding games).

The reference's analogue surface: per-page char counts and text
presence thresholds (GetInfoOnPDF.java:812-851,
PdfContentExtractor.java:52,70-86), filename sanitization and text
normalization utilities; these operators extend that to corpus-level
training-data hygiene.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import words_col
from .extract_pipeline import map_rows, spread
from .packing import prefix_sums

# small deterministic stopword sets; order of LANGS is the tie-break
# precedence for lang_id (first wins on equal score)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "von", "zu", "den", "ein"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}
LANGS = tuple(LANG_STOPWORDS)

# BPE-ish token classes: letter runs, digit runs, single other glyphs
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _stopword_hits(lang: str, words: str = "w"):
    vals = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
    return F.expr(
        f"size(filter({words}, x -> array_contains(array({vals}), x)))"
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(id, pred_lang, score) — argmax of per-language stopword hit
    counts over whitespace tokens; 'und' when no stopword hits at all.
    Ties resolved by LANGS order via a strict-> comparison chain."""
    base = spread(df, id_col).select(F.col(id_col).alias("id"),
                     words_col(text_col).alias("w"))
    scored = base.select(
        "id", *[_stopword_hits(lang).alias(f"s_{lang}") for lang in LANGS]
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANGS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANGS:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select(
        "id", pred.alias("pred_lang"), best.cast("long").alias("score")
    )


def quality_stats(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Integer quality metrics per doc:
       n_chars, n_words, n_distinct_words, mean_word_len_x100 (integer
       division), punct_count, quality (0-3 bucket).
    Quality buckets: +1 for >= 20 words, +1 for distinct ratio >= 50%,
    +1 for mean word length in [300, 900] x100."""
    t = F.col(text_col)
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        words_col(text_col).alias("w"),
        F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("long").alias("punct_count"),
        F.length(F.regexp_replace(t, r"\s", "")).cast("long").alias("n_nonspace"),
    )
    stats = base.select(
        "id", "n_chars", "punct_count",
        F.size("w").cast("long").alias("n_words"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct_words"),
        "n_nonspace",
    ).withColumn(
        "mean_word_len_x100",
        F.when(F.col("n_words") > 0,
               F.floor(F.col("n_nonspace") * 100 / F.col("n_words")).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )
    quality = (
        F.when(F.col("n_words") >= 20, 1).otherwise(0)
        + F.when(F.col("n_distinct_words") * 2 >= F.col("n_words"), 1).otherwise(0)
        + F.when(F.col("mean_word_len_x100").between(300, 900), 1).otherwise(0)
    ).cast("long")
    return stats.select(
        "id", "n_chars", "n_words", "n_distinct_words",
        "mean_word_len_x100", "punct_count", quality.alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_ws_tokens, n_regex_tokens) — whitespace tokens and
    BPE-ish regex tokens (letter runs / digit runs / single symbols)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(words_col(text_col)).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
        .cast("long").alias("n_regex_tokens"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, fp) — order-insensitive document fingerprint: md5 of the
    sorted distinct word set. Robust to word reordering; the shingle
    fingerprint variant (rolling hash over n-grams) is
    dedup.minhash_signature_cols."""
    sorted_words = F.array_sort(F.array_distinct(words_col(text_col)))
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(F.array_join(sorted_words, " ")).alias("fp"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Gopher/MassiveText-style repetition signal (public filtering
    literature): the share of the text's word n-grams taken by the
    single most frequent one. Highly repetitive documents (boilerplate,
    keyword stuffing) show rep_x1000 near 1000.

    Output: (id, n_grams, top_count, rep_x1000) — all integers;
    rep_x1000 = top_count * 1000 DIV n_grams (exact on both engines).
    Docs with fewer than n words emit no row. One explode + two
    aggregations, all shuffles on the doc id."""
    w = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"), words_col(text_col).alias("w"))
        .filter(F.size("w") >= n)
    )
    joined = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    grams = F.expr(f"transform(sequence(0, size(w) - {n}), i -> {joined})")
    g = w.select("id", F.explode(grams).alias("gm"))
    cnt = g.groupBy("id", "gm").agg(F.count("*").alias("cnt"))
    return (
        cnt.groupBy("id")
        .agg(F.sum("cnt").cast("long").alias("n_grams"),
             F.max("cnt").cast("long").alias("top_count"))
        .withColumn("rep_x1000",
                    F.expr("CAST(top_count * 1000 DIV n_grams AS BIGINT)"))
    )


def c4_filter(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", min_words: int = 20,
              max_word_len: int = 20) -> DataFrame:
    """C4-style document keep filter (public C4/RealNews filtering
    rules re-expressed as column predicates): enough words, no
    pathologically long token, sane mean word length. Output:
    (id, n_words, max_word_len, mean_word_len_x100, keep)."""
    from .dedup import words_col

    w = words_col(text_col)
    n_words = F.size(w).cast("long")
    max_wl = F.array_max(F.transform(w, lambda x: F.length(x))).cast("long")
    n_nonspace = F.length(
        F.regexp_replace(F.col(text_col), r"\s", "")).cast("long")
    mean_x100 = F.when(n_words > 0,
                       F.floor(n_nonspace * 100 / n_words)).otherwise(0) \
        .cast("long")
    keep = ((n_words >= min_words) & (max_wl <= max_word_len)
            & mean_x100.between(200, 1000)).cast("int")
    return df.select(
        F.col(id_col).alias("id"), n_words.alias("n_words"),
        max_wl.alias("max_word_len"), mean_x100.alias("mean_word_len_x100"),
        keep.alias("keep"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document top-k terms by tf/df — keyword extraction for
    training-data topicality signals, integer-exact so the oracle
    hashes match: score = tf * 1_000_000 // df (tf/df ordering is
    preserved under the fixed-point blowup; ties break by term asc).
    Two shuffles (tf groupBy, df groupBy on the term key) + one
    broadcast-size df join per term; the window is per-doc.

    Output: (id, term, tf, df, rank)."""
    from pyspark.sql import Window

    toks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(words_col(text_col)).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("id", "term").agg(
        F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.floor(F.col("tf") * 1_000_000 / F.col("df"))
        .cast("long"))
    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "df", "rank")
    )


def hash_sample(df: DataFrame, rate_pct: int = 10, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Deterministic content-hash sampling — the reproducible corpus
    subsampling idiom (a rerun or a different cluster keeps the SAME
    sample, unlike rand()): keep docs whose md5(text) 4-hex-digit
    prefix falls under rate_pct% of 0x10000. Pure filter, pushes to
    the scan, no shuffle."""
    bucket = F.conv(F.substring(F.md5(text_col), 1, 4), 16, 10).cast("long")
    return (
        spread(df, id_col)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * 100 < F.lit(rate_pct) * 65536)
        .select(F.col(id_col).alias("id"), "bucket")
    )


# PII scrubbing classes — RE2-safe patterns (no lookarounds) so the
# Spark (Java regex) and DuckDB (RE2) sides agree; order matters: class
# i is counted on text already scrubbed of classes < i, and the oracle
# replicates exactly that order
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}-\d{3}-\d{3,4}", "<PHONE>"),
)


def scrub_pii(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Corpus PII scrubbing — the training-data hygiene pass that must
    run before text ships to a training mix: emails, IPv4 addresses and
    international phone numbers are replaced by typed placeholders.
    Pure regexp column chain (JVM-side, no UDF, no shuffle): per doc
    the per-class match counts plus the scrubbed text's md5. Composes
    with S12-style span redaction for extracted corpora; this is the
    raw-text form."""
    out = F.col(text_col)
    cols = [F.col(id_col).alias("id")]
    for name, pat, _repl in PII_PATTERNS:
        cols.append(F.size(F.regexp_extract_all(out, F.lit(pat), 0))
                    .cast("long").alias(f"n_{name}"))
        out = F.regexp_replace(out, pat, _repl)
    cols.append(F.md5(out).alias("scrubbed_md5"))
    return spread(df, id_col).select(*cols)


# RE2-safe (no lookarounds/backrefs — works in Spark AND DuckDB, and
# contains no quote/backslash-escape characters so the same literal
# embeds in both engines' pattern strings): scheme URLs plus bare
# www. hosts
URL_REGEX = (r"((https?://|www\.)"
             r"[A-Za-z0-9._~:/?#@!$&*+,;=%-]+)")


def url_host(url_col) -> "F.Column":
    """Registrable host of a URL column: strip the scheme, cut at the
    first path/port/query/fragment delimiter, lowercase. ONE
    derivation shared by extract_urls and domain_caps so both always
    key on the same host."""
    return F.lower(F.regexp_replace(
        F.regexp_replace(url_col, r"^https?://", ""),
        r"[/:?#].*$", ""))


def extract_urls(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """URL extraction for web-corpus hygiene (the corpus-level
    analogue of the H5 autolink matcher, EmlProcessingUtils autolink):
    every URL occurrence with its registrable host, one row per
    occurrence in document order. Pure column expressions —
    regexp_extract_all + posexplode, no Python."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_REGEX), 1)
    return (
        df.select(F.col(id_col).alias("id"), urls.alias("urls"))
        .select("id", F.posexplode("urls").alias("pos", "url"))
        .select("id", F.col("pos").cast("long").alias("pos"), "url",
                url_host(F.col("url")).alias("domain"))
    )


def domain_caps(df: DataFrame, max_per_domain: int = 2,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-domain document cap — the standard web-pipeline guard
    against a single host dominating the corpus: keep the first
    ``max_per_domain`` documents per domain of each document's FIRST
    URL, ranked by a deterministic hash of the id (reproducible across
    cluster sizes, like hash_sample). Documents without URLs pass
    through uncapped. One window over the domain key — domains are the
    natural partition and the skew IS the thing being capped, so the
    window input per domain is already bounded by the cap's purpose;
    at 100 TB the same plan holds with the domain-hash shuffle."""
    from pyspark.sql import Window

    first_url = F.regexp_extract(F.col(text_col), URL_REGEX, 1)
    with_dom = df.select(
        F.col(id_col).alias("id"),
        F.when(first_url != "", url_host(first_url)).alias("domain"),
    )
    # URL-less docs bypass the window entirely: routing them through
    # it would funnel every such doc into one NULL partition — the
    # exact skew this operator exists to prevent
    no_dom = with_dom.filter(F.col("domain").isNull()).select(
        "id", "domain", F.lit(1).cast("long").alias("rnk"))
    w = Window.partitionBy("domain").orderBy(
        F.lower(F.md5(F.col("id").cast("string"))), F.col("id"))
    capped = (
        with_dom.filter(F.col("domain").isNotNull())
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= max_per_domain)
    )
    return capped.unionByName(no_dom)


# Domain-mixture weights in 1/64ths, cycled by source index % 4:
# 1.0x (keep all), 0.5x, 0.25x (downsample), 2.0x (UPSAMPLE — the
# high-quality-source repetition idiom from LLM data-mixing recipes)
MIX_WEIGHTS_X64: tuple[int, ...] = (64, 32, 16, 128)


def domain_mix_sample(df: DataFrame,
                      weights_x64: tuple[int, ...] = MIX_WEIGHTS_X64,
                      id_col: str = "doc_id",
                      source_col: str = "source") -> DataFrame:
    """Deterministic source-mixture sampling — the LLM-pretraining
    data-mixing stage (each source gets a target weight; weights < 1
    downsample, weights > 1 REPLICATE the source, cf. the published
    Pile/LLaMA mixture tables — public recipes, no reference
    analogue): a doc with weight w (in 1/64ths) emits floor(w/64)
    copies plus one more iff its id-hash bucket falls under the
    fractional remainder. Hash-based, so a rerun or a different
    cluster size reproduces the SAME mixture (unlike rand()).

    Output: (id, domain, copy_idx) — one row per emitted copy;
    dropped docs emit none. Pure map + generate, no shuffle; the
    decision pushes to the scan."""
    sid = F.concat(F.lit("doc-"), F.col(id_col).cast("string"))
    src_idx = F.regexp_extract(F.col(source_col), r"(\d+)$", 1).cast("int")
    w_arr = F.array(*[F.lit(int(w)) for w in weights_x64])
    w64 = F.element_at(w_arr, (src_idx % len(weights_x64)) + 1)
    # bucket in [0, 256) from the first two md5 hex digits; the
    # fractional remainder w64 % 64 (in 1/64ths) scales by 4 onto it
    bucket = F.conv(F.substring(F.md5(sid), 1, 2), 16, 10).cast("int")
    n_copies = (w64 / F.lit(64)).cast("int") + F.when(
        bucket < (w64 % 64) * 4, F.lit(1)).otherwise(F.lit(0))
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        spread(df, id_col)
        .select(sid.alias("id"), F.col(source_col).alias("domain"),
                F.explode(copies).alias("copy_idx"))
        .select("id", "domain", F.col("copy_idx").cast("int"))
    )


def vocab_topk(df: DataFrame, k: int = 50, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Corpus vocabulary top-k — the tokenizer-training census
    (WordPiece/BPE vocab building starts from exactly this table):
    whitespace tokens ranked by total count desc, term asc. Output:
    (rank, term, n_total, n_docs).

    Scale shape: explode + one partial-agg'd groupBy on the term (the
    map-side combine absorbs Zipf's head), then a top-k — a global
    sort of the distinct-term table, which is vocabulary-sized, not
    corpus-sized."""
    from pyspark.sql import Window

    toks = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"),
                F.explode(words_col(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = toks.groupBy("term").agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("id").cast("long").alias("n_docs"),
    )
    w = Window.orderBy(F.desc("n_total"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "term", "n_total", "n_docs")
    )


def bigram_lm_fit(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Corpus-fit scoring with a self-trained bigram model — the
    KenLM-style quality/boilerplate signal from public web-pipeline
    recipes (CCNet et al.), made integer-exact so two engines agree
    bit-for-bit: train bigram counts over the WHOLE corpus, then score
    each document by the average conditional probability of its
    bigrams, avg_i(1000 * c(w1w2) // c(w1 ·)) // n — formulaic
    (high-fit) text scores high, novel text low. No floats anywhere.

    Output: (id, n_bigrams, fit_x1000); docs with < 2 words emit
    n_bigrams = 0, fit 0.

    Scale shape: two keyed aggregations (bigram counts, left-word
    counts) + two shuffle joins back on those keys + one per-doc
    groupBy — every stage partial-aggregates; the model IS a
    DataFrame, never driver state."""
    d = spread(df, id_col).select(F.col(id_col).alias("id"),
                                  words_col(text_col).alias("w"))
    grams = (
        d.filter(F.size("w") >= 2)
        .select(
            "id",
            F.explode(
                F.zip_with(F.slice("w", 1, F.size("w") - 1),
                           F.slice("w", 2, F.size("w") - 1),
                           lambda a, b: F.struct(a.alias("w1"),
                                                F.concat_ws(" ", a, b)
                                                .alias("gm")))
            ).alias("g"),
        )
        .select("id", F.col("g.w1").alias("w1"), F.col("g.gm").alias("gm"))
    )
    c12 = grams.groupBy("gm").agg(F.count("*").alias("c12"))
    c1 = grams.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        grams.join(c12, "gm").join(c1, "w1")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_bigrams"),
             F.sum(F.expr("(1000 * c12) div c1")).alias("p_sum"))
        .select("id", "n_bigrams",
                F.expr("p_sum div n_bigrams").cast("long")
                .alias("fit_x1000"))
    )
    # docs with < 2 words never reach the bigram table — re-attach
    return (
        d.select("id").join(scored, "id", "left")
        .select("id",
                F.coalesce("n_bigrams", F.lit(0)).cast("long")
                .alias("n_bigrams"),
                F.coalesce("fit_x1000", F.lit(0)).cast("long")
                .alias("fit_x1000"))
    )


# Tracking query params stripped by URL canonicalization - campaign /
# click identifiers every public web-dedup recipe (CCNet, RefinedWeb)
# drops before URL-level dedup. RE2-safe, embeds verbatim in the
# DuckDB oracle's list_filter.
TRACKING_PARAM_REGEX = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$)"


def normalize_urls(df: DataFrame, id_col: str = "id",
                   url_col: str = "url") -> DataFrame:
    """URL canonicalization for crawl-frontier / corpus URL dedup -
    RFC 3986 section 6 syntax-based normalization plus the
    tracking-param strip, the step that makes URL-keyed dedup
    actually collapse mirror fetches:

      1. bare 'www.' URLs get the http:// scheme (same promotion as
         the H5 autolinker, EmlProcessingUtils);
      2. fragment dropped;
      3. scheme + host lowercased (path/query case preserved);
      4. default ports dropped (:80 for http, :443 for https);
      5. tracking query params dropped (TRACKING_PARAM_REGEX), the
         '?' dropped too when nothing survives;
      6. empty path becomes '/'.

    Pure column expressions end-to-end (regexp algebra + one
    higher-order filter over the split query) - JVM-side, no UDF, so
    the same plan canonicalizes 10^12 URLs with zero Python workers.
    Output: (id, url, canon_url), one row per input row."""
    u0 = F.col(url_col)
    u1 = F.when(u0.rlike(r"^(?i)www\."),
                F.concat(F.lit("http://"), u0)).otherwise(u0)
    u1 = F.regexp_replace(u1, r"#.*$", "")
    head = F.regexp_extract(u1, r"^(?i)(https?://[^/?#]*)", 1)
    tail = F.regexp_replace(u1, r"^(?i)https?://[^/?#]*", "")
    host = F.lower(head)
    host = F.regexp_replace(host, r"^(http://[^/?#]*):80$", "$1")
    host = F.regexp_replace(host, r"^(https://[^/?#]*):443$", "$1")
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.when(tail.contains("?"),
                   F.regexp_replace(tail, r"^[^?]*\?", "")
                   ).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda x: (~x.rlike(TRACKING_PARAM_REGEX)) & (x != ""),
    )
    q2 = F.array_join(params, "&")
    canon = F.concat(
        host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )
    return df.select(F.col(id_col).alias("id"), u0.alias("url"),
                     canon.alias("canon_url"))


# A mojibake bigram: an UTF-8 lead byte read as Latin-1 (\u00c2 /
# \u00c3 / \u00e2) followed by a continuation byte (U+0080-U+00BF) -
# the signature of UTF-8 text decoded with a single-byte codec.
MOJIBAKE_INDICATOR = "[\u00c2-\u00c3\u00e2][\u0080-\u00bf]"

# Full-match: the string, reinterpreted as Latin-1 bytes, is strict
# RFC 3629 UTF-8 (no overlongs, no surrogates, <= U+10FFFF). Chars
# >= U+0100 fail automatically, making the Latin-1-range check
# implicit.
UTF8_AS_LATIN1_REGEX = (
    "^(?:[\u0000-\u007f]"
    "|[\u00c2-\u00df][\u0080-\u00bf]"
    "|\u00e0[\u00a0-\u00bf][\u0080-\u00bf]"
    "|[\u00e1-\u00ec][\u0080-\u00bf]{2}"
    "|\u00ed[\u0080-\u009f][\u0080-\u00bf]"
    "|[\u00ee-\u00ef][\u0080-\u00bf]{2}"
    "|\u00f0[\u0090-\u00bf][\u0080-\u00bf]{2}"
    "|[\u00f1-\u00f3][\u0080-\u00bf]{3}"
    "|\u00f4[\u0080-\u008f][\u0080-\u00bf]{2})*$"
)


def fix_encoding(df: DataFrame, id_col: str = "id",
                 text_col: str = "text") -> DataFrame:
    """Mojibake repair - the ftfy-style fix for UTF-8 text that was
    decoded as Latin-1 upstream ('caf\u00e9' arriving as
    'caf\u00c3\u00a9'), a standard cleaning pass in public
    web-corpus pipelines.

    A document is repaired only when ALL THREE hold, otherwise it
    passes through byte-identical:
      (a) it shows a MOJIBAKE_INDICATOR bigram,
      (b) read as Latin-1 bytes, the whole string is STRICTLY valid
          UTF-8 (UTF8_AS_LATIN1_REGEX below - RFC 3629 table
          inlined, overlongs and surrogates excluded). The guard
          runs BEFORE the decode, because Spark 4's ANSI decode
          raises MALFORMED_CHARACTER_CODING instead of emitting
          U+FFFD; CASE WHEN branches evaluate lazily per row, so
          guarded rows never reach the decoder.

    The repair itself is decode(encode(text, 'ISO-8859-1'), 'UTF-8')
    - both JVM codec expressions, whole-stage-codegen friendly, no
    Python. Output: (id, text, fixed, changed 0/1)."""
    t = F.col(text_col)
    candidate = (t.rlike(UTF8_AS_LATIN1_REGEX)
                 & t.rlike(MOJIBAKE_INDICATOR))
    repaired = F.decode(F.encode(t, "ISO-8859-1"), "UTF-8")
    fixed = F.when(candidate, repaired).otherwise(t)
    return df.select(F.col(id_col).alias("id"), t.alias("text"),
                     fixed.alias("fixed"),
                     (fixed != t).cast("long").alias("changed"))


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_quality_filter(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021,
    table A1 - the rule set most public pretraining pipelines start
    from), as one pass of integer-exact column algebra. A document
    KEEPS only when every rule holds:

      r_wc     50 <= word count <= 100,000
      r_mwl    mean word length in [3, 10]      (as 3n <= chars <= 10n)
      r_sym    (hash + ellipsis) / words <= 0.1 (as 10*sym <= n)
      r_bullet <= 90% of lines start with a bullet
      r_ell    <= 30% of lines end with an ellipsis
      r_alpha  >= 80% of words contain an alphabetic char
      r_stop   >= 2 distinct designated stop words present

    Every ratio is restated as an integer cross-multiplication, so
    the DuckDB oracle reproduces the flags bit-for-bit with no float
    in sight. One projection, no shuffle, no UDF - at 10^12 docs this
    is a map-only stage fused into the scan."""
    t = F.col(text_col)
    w = F.split(t, r"\s+")
    lines = F.split(t, "\n")
    n = F.size(w).cast("long")
    chars = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    n_hash = (F.length(t) - F.length(F.regexp_replace(t, "#", ""))) \
        .cast("long")
    n_ell = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0)) \
        .cast("long")
    n_lines = F.size(lines).cast("long")
    bullets = F.size(F.filter(
        lines, lambda x: x.rlike(r"^\s*[-*]"))).cast("long")
    ell_ends = F.size(F.filter(
        lines, lambda x: x.rlike(r"\.\.\.$"))).cast("long")
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) \
        .cast("long")
    n_stop = F.size(F.array_intersect(
        F.array_distinct(w),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))).cast("long")

    flag = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("long")
    r_wc = flag((n >= 50) & (n <= 100_000))
    r_mwl = flag((3 * n <= chars) & (chars <= 10 * n))
    r_sym = flag(10 * (n_hash + n_ell) <= n)
    r_bullet = flag(10 * bullets <= 9 * n_lines)
    r_ell = flag(10 * ell_ends <= 3 * n_lines)
    r_alpha = flag(5 * alpha >= 4 * n)
    r_stop = flag(n_stop >= 2)
    keep = (r_wc.cast("boolean") & r_mwl.cast("boolean")
            & r_sym.cast("boolean") & r_bullet.cast("boolean")
            & r_ell.cast("boolean") & r_alpha.cast("boolean")
            & r_stop.cast("boolean"))
    return df.select(
        F.col(id_col).alias("id"), n.alias("n_words"),
        r_wc.alias("r_wc"), r_mwl.alias("r_mwl"), r_sym.alias("r_sym"),
        r_bullet.alias("r_bullet"), r_ell.alias("r_ell"),
        r_alpha.alias("r_alpha"), r_stop.alias("r_stop"),
        flag(keep).alias("keep"))


def lm_quality_partition(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """CCNet-style corpus partition by language-model fit: score each
    document with the self-trained bigram LM (bigram_lm_fit) and
    split at the CORPUS MEAN - head (above or at the mean) is the
    high-quality slice public pipelines feed first. The mean rule is
    the integer cross-multiplication fit*count >= sum(fit), so both
    engines decide each doc with pure integer arithmetic.

    Scale shape: the LM fit is two counting shuffles (shared with
    bigram_lm_fit); the threshold is ONE extra row broadcast back -
    no global sort, no window over a single partition, which is what
    a naive percentile split would cost at 10^12 docs."""
    fit = bigram_lm_fit(df, id_col=id_col, text_col=text_col)
    stats = fit.agg(
        F.sum("fit_x1000").cast("long").alias("sum_fit"),
        F.count("*").cast("long").alias("n_docs"))
    joined = fit.crossJoin(F.broadcast(stats))
    head = (F.col("fit_x1000") * F.col("n_docs")
            >= F.col("sum_fit"))
    return joined.select(
        "id", "fit_x1000",
        F.when(head, F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("head"))


NFC_SCHEMA = "doc_id long, n_chars_src long, text_nfc string"


def nfc_normalize(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization (UAX #15) — the canonical-composition
    cleanup a multilingual text pipeline runs before tokenization and
    hashing (decomposed 'e'+U+0301 and composed 'é' must not hash to
    different dedup keys). Spark ships no normalizer built-in, so this
    is one narrow map_rows stage over Python's unicodedata (the stdlib's
    full UCD tables) — the sanctioned slow path for work the JVM can't
    express; no shuffle, per-row nulls pass through.

    Output: (doc_id, n_chars_src, text_nfc) — the source char count
    rides along so callers can derive composed-char deltas without
    re-reading the input."""
    import unicodedata

    src = df.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"))

    def run(did, s):
        if s is None:
            yield did, None, None
        else:
            yield did, len(s), unicodedata.normalize("NFC", s)

    return map_rows(src, run, NFC_SCHEMA)


def bpe_pair_counts(df: DataFrame, k: int = 20, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """BPE merge statistics, iteration 1 (Sennrich et al. 2016,
    arXiv:1508.07909 — the tokenizer-training op one step past
    vocab_topk's census): adjacent SYMBOL pairs inside each word —
    char bigrams plus the final char paired with the '</w>'
    end-of-word marker — weighted by corpus word frequency; the top-k
    pair is exactly BPE's first merge. Output: (rank, pair, total).

    Scale shape: the corpus collapses to the word-frequency table
    FIRST (one partial-agg'd groupBy; Zipf's head absorbed map-side),
    pairs explode from the vocabulary (vocabulary-sized, not
    corpus-sized), and the top-k sorts the distinct-pair table. The
    full BPE loop is this op iterated with merged symbols — each
    round the same two shuffles over vocabulary-sized data."""
    wordfreq = (
        spread(df, id_col)
        .select(F.explode(words_col(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").cast("long").alias("freq"))
    )
    bigrams = F.when(
        F.length("word") >= 2,
        F.expr("transform(sequence(1, length(word) - 1),"
               " i -> substring(word, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    tail = F.concat(
        F.substring(F.col("word"), -1, 1), F.lit("</w>"))
    pairs = wordfreq.select(
        "freq",
        F.explode(F.concat(bigrams, F.array(tail))).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").cast("long").alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("total"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "pair", "total")
    )


def lang_balance_sample(df: DataFrame, target_per_lang: int = 70,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        lang_col: str = "lang") -> DataFrame:
    """Language-balanced downsampling — the head-language cap every
    multilingual pretraining mix applies (cf. CCNet/ROOTS language
    budgets). NOT a per-language window: at 10^12 docs a language
    partition is corpus-scale and a rank-based cap would global-sort
    it. Instead the standard scalable shape: per-language counts (a
    tiny agg, broadcast back) set an INTEGER permille keep-rate
    floor(target*1000/n_lang), and each doc keeps iff its
    content-hash permille (same bucket as hash_split) falls under its
    language's rate — deterministic, map-only after one broadcast
    join, reproducible across cluster sizes, and exact copies get one
    fate. Expected kept ~= target per language (hash-thinning, not an
    exact top-k — the 100-TB-honest trade).

    Output: (id, lang, n_lang, bucket, keep) for EVERY input row."""
    counts = df.groupBy(lang_col).agg(
        F.count("*").cast("long").alias("n_lang"))
    rate = F.least(
        F.lit(1000).cast("long"),
        F.floor(F.lit(target_per_lang) * 1000 / F.col("n_lang"))
        .cast("long"))
    bucket = (
        F.conv(F.substring(F.md5(F.col(text_col).cast("binary")), 1, 8),
               16, 10).cast("long") % 1000
    )
    return (
        df.join(F.broadcast(counts), lang_col)
        .select(
            F.col(id_col).alias("id"), F.col(lang_col).alias("lang"),
            "n_lang", bucket.alias("bucket"),
            F.when(bucket < rate, 1).otherwise(0).cast("int")
            .alias("keep"),
        )
    )


def _bpe_apply_merge(seq, left: str, right: str):
    """Merge one BPE pair inside a space-separated symbol sequence
    column, EXACTLY matching canonical leftmost token-list pairing
    (tests/test_bpe.py proves it, same-symbol runs included).

    A naive replace of ' left right ' on the single-spaced string is
    wrong twice over: back-to-back occurrences share their boundary
    space (only every other one matches per pass), and same-symbol
    runs ('b b b b b') pair 1-2/4-5 instead of the canonical 1-2/3-4.
    The fix: widen separators to TWO spaces, then the pattern
    ' left  right ' consumes exactly one space on each side, so the
    leftmost non-overlapping scan both engines' replace() implements
    re-acquires the very next occurrence — canonical pairing in ONE
    pass. Separators stay exactly two spaces afterwards (one left
    over from each consumed side + one reinserted), so collapsing
    back is a plain '  '->' ' replace. Symbols never contain spaces,
    so the pattern cannot match inside a longer symbol."""
    pat = f" {left}  {right} "
    rep = f" {left}{right} "
    wide = F.concat(F.lit(" "), F.replace(seq, F.lit(" "), F.lit("  ")),
                    F.lit(" "))
    merged = F.replace(wide, F.lit(pat), F.lit(rep))
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


def bpe_train_merges(df: DataFrame, n_merges: int = 6,
                     text_col: str = "text"):
    """Full BPE training loop (Sennrich et al. 2016,
    arXiv:1508.07909) — bpe_pair_counts iterated: each round counts
    adjacent symbol pairs over the word-frequency table, merges the
    most frequent pair (ties broken by pair string ascending), and
    rewrites the vocabulary. Returns (merges, vocab): merges =
    [(left, right, total)] in merge order, vocab = DataFrame
    (word, freq, seq) after all merges.

    Scale shape: the corpus collapses to the word-frequency table
    ONCE (the only corpus-sized shuffle); every iteration then runs
    two vocabulary-sized aggregations plus a 1-row argmax collect —
    the same bounded driver-side collect the IVF trainer uses
    (n_merges rows total, independent of corpus size). At 10^12 docs
    the vocabulary is millions of rows, not trillions; caching it
    between iterations keeps each round O(vocab)."""
    wordfreq = (
        spread(df)
        .select(F.explode(words_col(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").cast("long").alias("freq"))
    )
    vocab = wordfreq.select(
        "word", "freq",
        F.concat(F.regexp_replace("word", "(.)", "$1 "),
                 F.lit("</w>")).alias("seq"),
    )
    vocab.persist()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # guard the fully-merged case: a 1-symbol seq must contribute
        # no pairs (sequence(0, -1) would go DESCENDING and index out
        # of bounds — the DuckDB oracle's range(1, len) is already
        # empty there)
        pairs = F.expr(
            "case when size(split(seq, ' ')) >= 2 then"
            " transform(sequence(0, size(split(seq, ' ')) - 2),"
            " i -> concat(split(seq, ' ')[i], ' ',"
            " split(seq, ' ')[i + 1]))"
            " else array() end")
        counted = (
            vocab.select("freq", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("total"))
            .orderBy(F.desc("total"), F.asc("pair"))
            .limit(1)
        )
        rows = counted.collect()  # bounded: 1 row per merge
        if not rows:
            break  # vocabulary fully merged before n_merges rounds
        best = rows[0]
        left, right = best["pair"].split(" ", 1)
        merges.append((left, right, int(best["total"])))
        nxt = vocab.select(
            "word", "freq",
            _bpe_apply_merge(F.col("seq"), left, right).alias("seq"),
        )
        nxt.persist()
        vocab.unpersist()
        vocab = nxt
    return merges, vocab


def bpe_train_table(df: DataFrame, n_merges: int = 6,
                    text_col: str = "text") -> DataFrame:
    """The learned merge table as a DataFrame: (rank, lhs, rhs,
    merged, total) — rank is merge order ('lhs'/'rhs' because
    LEFT/RIGHT are SQL reserved words). Each total comes from a
    distributed vocabulary aggregation; the table itself is n_merges
    rows (driver-assembled, the sanctioned bounded-collect pattern)."""
    spark = df.sparkSession
    merges, vocab = bpe_train_merges(df, n_merges, text_col)
    vocab.unpersist()
    rows = [(i + 1, a, b, a + b, t)
            for i, (a, b, t) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank long, lhs string, rhs string, merged string,"
        " total long")


def bpe_encode_tokens(df: DataFrame, n_merges: int = 6, k: int = 25,
                      text_col: str = "text") -> DataFrame:
    """Train BPE then encode: the symbol census of the corpus after
    n_merges merges — token totals weighted by word frequency, top-k
    by (total desc, symbol asc). Wrong ANY merge and the census
    shifts, so this gate validates the whole training loop
    distributively. Output: (rank, symbol, total)."""
    _, vocab = bpe_train_merges(df, n_merges, text_col)
    syms = vocab.select(
        "freq", F.explode(F.split("seq", " ")).alias("symbol"))
    counts = syms.groupBy("symbol").agg(
        F.sum("freq").cast("long").alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("total"), F.asc("symbol"))
    out = (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "symbol", "total")
    )
    vocab.unpersist()
    return out


# fastText-style hashed linear quality classifier: 64 hash buckets,
# integer weights in [-500, 500] derived from sha256('qcw:{i}') — a
# deterministic stand-in for trained weights (training a real
# classifier needs labeled data this corpus doesn't ship; the Spark
# plumbing — feature hashing, bucket lookup, per-doc reduction — is
# the part that transfers). Integer weights keep the per-doc score an
# exact associative sum, so Spark and DuckDB agree bit for bit
# regardless of reduction order.
QC_BUCKETS = 64
QC_WEIGHTS: list[int] = [
    (int.from_bytes(__import__("hashlib").sha256(
        f"qcw:{i}".encode()).digest()[:4], "big") % 1001) - 500
    for i in range(QC_BUCKETS)
]


def quality_classifier_score(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             weights: list[int] | None = None) -> DataFrame:
    """Hashed linear text classifier (the fastText/CCNet quality-
    classifier shape, Joulin et al. 2016 arXiv:1607.01759): each token
    hashes to one of QC_BUCKETS buckets (first 8 hex chars of md5, the
    repo-standard portable hash), the bucket indexes a weight vector,
    and the document score is the weight sum; label = score > 0.

    Scale shape: pure per-row column expressions — transform() maps
    tokens to weights inside the JVM, aggregate() folds the sum; NO
    explode, NO shuffle, map-only over the corpus (the only correct
    shape at 10^12 docs: a classifier pass must not cost a shuffle).
    `weights` defaults to the deterministic QC_WEIGHTS stand-in; pass
    trained_weights_list(train_quality_classifier(...)) to run the
    actually-trained model. Output: (id, n_tokens, score, label int)."""
    ws = QC_WEIGHTS if weights is None else weights
    wlit = F.array(*[F.lit(w) for w in ws])
    words = words_col(text_col)
    wexpr = F.transform(
        words,
        lambda t: F.element_at(
            wlit,
            (F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10)
             .cast("long") % len(ws) + 1).cast("int")),
    )
    score = F.aggregate(wexpr, F.lit(0).cast("long"),
                        lambda acc, w: acc + w)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("long").alias("n_tokens"),
        score.alias("score"),
        (score > 0).cast("int").alias("label"),
    )


def corpus_stats_report(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        bucket_tokens: int = 64,
                        n_buckets: int = 8) -> DataFrame:
    """Corpus data card (the 'datasheet' rollup every released
    training corpus publishes — Gebru et al. 2021 arXiv:1803.09010):
    per (predicted language, doc-length bucket) document counts,
    token/byte totals, and token min/max. Language uses the lang_id
    stopword-argmax inline (recomputed in the same projection, not a
    join — a data card must cost one pass, not two shuffles); length
    buckets are floor(n_tokens / bucket_tokens) capped at
    n_buckets - 1.

    Scale shape: map-side partial aggregation onto at most
    |LANGS|+1 times n_buckets keys — the shuffle moves one row per
    (task, key), so the report costs a scan plus a ~40-row exchange
    regardless of corpus size. All-integer outputs keep the oracle
    exact (sums, not means: the reader divides)."""
    base = spread(df, id_col).select(
        words_col(text_col).alias("w"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
    )
    scored = base.select(
        "w", "n_bytes",
        *[_stopword_hits(lang).alias(f"s_{lang}") for lang in LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANGS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANGS:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    n_tokens = F.size("w").cast("long")
    keyed = scored.select(
        pred.alias("lang"),
        F.least(F.floor(n_tokens / bucket_tokens),
                F.lit(n_buckets - 1)).cast("long").alias("len_bucket"),
        n_tokens.alias("n_tokens"),
        "n_bytes",
    )
    return keyed.groupBy("lang", "len_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_bytes").cast("long").alias("sum_bytes"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


def lang_pred_expr(words: str = "w"):
    """The lang_id stopword-argmax as a single column expression over
    an already-materialized word-array column — for pipelines that
    need the label inside an existing projection without a join."""
    hits = {lang: _stopword_hits(lang, words) for lang in LANGS}
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANGS:
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return pred


def train_quality_classifier(df: DataFrame, label_col: str = "label",
                             text_col: str = "text",
                             buckets: int = QC_BUCKETS) -> DataFrame:
    """DISTRIBUTED training of the hashed linear classifier that
    quality_classifier_score runs inference for (fastText shape,
    Joulin et al. 2016): per hash bucket, count token occurrences in
    positive vs negative documents and emit the class-balanced rate
    difference as the weight —
        weight_b = n_pos_b * 10^6 div total_pos
                 - n_neg_b * 10^6 div total_neg
    an integer parts-per-million log-odds surrogate (integer div keeps
    both engines bit-exact; ppm normalization keeps the arithmetic in
    BIGINT at any corpus size, where a raw cross-product of counts
    would overflow).

    Scale shape: one explode + map-side partial agg onto `buckets`
    keys (the shuffle moves one row per task per bucket); the totals
    join is a broadcast of ONE row. The model is `buckets` rows — tiny
    by construction — which is what makes the collect-to-literal
    scoring path legitimate. Output: (bucket, n_pos, n_neg, weight)."""
    toks = spread(df).select(
        F.col(label_col).cast("long").alias("y"),
        F.explode(words_col(text_col)).alias("t"),
    )
    bucket = (F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 8),
                     16, 10).cast("long") % buckets).alias("bucket")
    agg = toks.groupBy(bucket).agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
    )
    totals = agg.agg(
        F.greatest(F.sum("n_pos"), F.lit(1)).alias("tp"),
        F.greatest(F.sum("n_neg"), F.lit(1)).alias("tn"),
    )
    return agg.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (F.expr("n_pos * 1000000 div tp")
         - F.expr("n_neg * 1000000 div tn"))
        .cast("long").alias("weight"),
    )


def trained_weights_list(weights_df: DataFrame,
                         buckets: int = QC_BUCKETS) -> list[int]:
    """Collect a trained (bucket, weight) table into the dense weight
    list quality_classifier_score consumes. The collect is bounded at
    `buckets` rows BY CONSTRUCTION (the model, not the data) — the
    same sanctioned pattern as the IVF centroid literals; untrained
    buckets default to weight 0."""
    ws = [0] * buckets
    for r in weights_df.select("bucket", "weight").collect():
        ws[int(r["bucket"])] = int(r["weight"])
    return ws


# UT1/blocklist-style banned domains for the gate corpus; real
# deployments broadcast a list of ~1e6 entries the same way (literal
# array below a few thousand, broadcast-joined lookup table above).
URL_BLOCKLIST: tuple[str, ...] = (
    "site2.example.com", "mirror3.org", "tracker.test",
)


def url_blocklist_filter(df: DataFrame,
                         blocklist: tuple[str, ...] = URL_BLOCKLIST,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Domain-blocklist filtering — the UT1-style web-pipeline hygiene
    stage: a document is dropped when ANY of its URLs' hosts matches a
    blocklist entry exactly or as a dot-suffix ('mirror3.org' blocks
    'www.mirror3.org'). URL-less documents pass.

    The blocklist rides as a literal array (the broadcast-as-literal
    pattern from ivf.py); the match is a pure F.exists column
    expression, so the whole filter is scan + one groupBy on the doc
    id — no Python, no extra shuffle beyond the per-doc rollup.

    Output: (id, n_urls, n_blocked, keep:int) — keep = 1 iff no URL
    is blocked (vacuously for URL-less docs).
    """
    urls = extract_urls(df, id_col=id_col, text_col=text_col)
    b = F.array(*[F.lit(x) for x in blocklist])
    blocked = F.exists(
        b,
        lambda d: (F.col("domain") == d)
        | F.col("domain").endswith(F.concat(F.lit("."), d)),
    ).cast("int")
    agg = urls.groupBy("id").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(blocked).cast("long").alias("n_blocked"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return (
        base.join(agg, "id", "left")
        .select(
            "id",
            F.coalesce("n_urls", F.lit(0)).cast("long").alias("n_urls"),
            F.coalesce("n_blocked", F.lit(0)).cast("long")
            .alias("n_blocked"),
            (F.coalesce("n_blocked", F.lit(0)) == 0).cast("int")
            .alias("keep"),
        )
    )


def token_budget_select(df: DataFrame, budget_tokens: int,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Data selection under a token budget — the published
    quality-ranked selection idiom (take the best documents until the
    token budget is spent; cf. the public DsDm/DataComp-LM-style
    recipes): rank the corpus by quality_stats' bucket (descending,
    id-asc ties), then keep every document whose CUMULATIVE token
    count before it is under ``budget_tokens`` (greedy fill — the
    boundary-crossing doc is taken).

    The cumulative count and the rank are packing.prefix_sums over
    (quality desc, id): its two shuffles and one collect bounded by
    the range count. No single-partition global window anywhere.

    Output: (id, quality, n_tokens, cum_before, sel_rank).
    """
    q = quality_stats(df, id_col=id_col, text_col=text_col)
    toks = q.select(
        "id", F.col("n_words").cast("long").alias("n_tokens"),
        F.col("quality").cast("long").alias("quality"),
    )
    return (
        prefix_sums(toks, [F.col("quality").desc(), F.col("id")],
                    {"cum_before": F.col("n_tokens"), "sel_rank": F.lit(1)})
        .filter(F.col("cum_before") < budget_tokens)
        .select("id", "quality", "n_tokens", "cum_before",
                (F.col("sel_rank") + 1).alias("sel_rank"))
    )


def collapse_repeated_lines(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Consecutive-duplicate-line collapse — the extraction-cleanup
    stage for template/boilerplate artifacts (repeated headers,
    progress spinners, quoted-reply runs): keep each line only when it
    differs from the line directly above it. One posexplode + one
    lag() window keyed by the doc id — the window partitions by
    document, so the plan is scan + a single doc-hash shuffle.

    Output: (id, n_lines, n_kept, out_text) with out_text the
    newline-rejoin of the survivors in original order.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    marked = lines.withColumn(
        "keep",
        (F.col("pos") == 0)
        | ~F.col("line").eqNullSafe(F.lag("line").over(w)),
    )
    return marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.filter(
                    F.collect_list(F.struct("pos", "keep", "line")),
                    lambda s: s["keep"],
                )),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("out_text"),
    )


def dehyphenate_text(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hyphenation repair + line unwrap — the classic PDF-extraction
    post-process (pdftotext's dehyphenation): a word broken across a
    line break as 'exam-\\nple' rejoins with the soft hyphen REMOVED
    iff the continuation starts lowercase; a capital after the hyphen
    means a true compound like 'Spark-\\nNative', which joins with the
    hyphen KEPT but no space (the newline was a wrap, not a word gap);
    remaining single line breaks become spaces. Map-only regexp chain,
    no shuffle.

    Output: (id, n_joined, n_wrapped, out_text).
    """
    t = F.col(text_col)
    n_joined = F.size(F.split(t, r"-\n[a-z]")) - 1
    n_wrapped = F.size(F.split(t, r"\n")) - 1
    fixed = F.regexp_replace(t, r"-\n([a-z])", r"$1")
    fixed = F.regexp_replace(fixed, r"-\n", "-")
    unwrapped = F.regexp_replace(fixed, r"\n", " ")
    return df.select(
        F.col(id_col).alias("id"),
        n_joined.cast("long").alias("n_joined"),
        n_wrapped.cast("long").alias("n_wrapped"),
        unwrapped.alias("out_text"),
    )


def readability(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document in exact integer milli-units
    (the classic readability feature in quality-filter stacks, next
    to gopher_quality's heuristics). Syllables use the deterministic
    vowel-group proxy — runs of [aeiouy]+ in the lowercased text —
    sentences are runs of [.!?]+; both are single regexp counts, so
    the whole operator is one map-only projection (no shuffle, no
    UDF) and the DuckDB oracle reproduces it bit-for-bit.

    fre_milli = 206835 - (1015 * n_words) div n_sentences
                       - (84600 * n_syllables) div n_words
    with both denominators floored at 1 (empty docs stay defined).

    Output: (id, n_words, n_sentences, n_syllables, fre_milli).
    """
    t = F.col(text_col)
    n_words = F.size(words_col(text_col)).cast("long")
    n_sent = (F.size(F.split(t, r"[.!?]+")) - 1).cast("long")
    n_syll = (F.size(F.split(F.lower(t), r"[aeiouy]+")) - 1).cast("long")
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"), n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    return base.select(
        "id", "n_words", "n_sentences", "n_syllables",
        (F.lit(206835)
         - F.expr("(1015 * n_words) div greatest(1L, n_sentences)")
         - F.expr("(84600 * n_syllables) div greatest(1L, n_words)")
         ).cast("long").alias("fre_milli"),
    )


DSIR_BUCKETS = 256


def dsir_weights(df: DataFrame, target_pred, text_col: str = "text",
                 n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Hashed-n-gram importance weights — the DSIR recipe (Xie et al.
    2023, arXiv:2302.03169): unigram + bigram features hash into
    ``n_buckets`` buckets; the target distribution is fit on the rows
    where ``target_pred`` (a boolean Column over df) holds, the raw
    distribution on every row, and each bucket's importance weight is
    the smoothed rate difference in exact integer ppm —

        w_b = (c_target_b + 1) * 10^6 div (total_target + B)
            - (c_raw_b    + 1) * 10^6 div (total_raw    + B)

    (rate difference instead of the paper's log-ratio for the same
    reason train_quality_classifier uses it: integer-exact on both
    engines, same ranking direction for the smoothing regime used).

    Scale shape: one explode + map-side partial agg onto ``n_buckets``
    keys (a constant-size exchange at any corpus size), then a one-row
    totals cross join — the IVF/classifier bounded-state pattern.
    Output: (bucket, c_target, c_raw, weight)."""
    w = words_col(text_col)
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(F.slice(w, 1, F.size(w) - 1),
                    (lambda t, i: F.concat(t, F.lit(" "),
                                           F.element_at(w, i + 2)))),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(w, bigrams)
    hashed = spread(df).select(
        target_pred.cast("long").alias("is_t"),
        F.explode(feats).alias("f"),
    ).select(
        "is_t",
        (F.conv(F.substring(F.md5(F.col("f").cast("binary")), 1, 8),
                16, 10).cast("long") % n_buckets).alias("bucket"),
    )
    counts = hashed.groupBy("bucket").agg(
        F.sum("is_t").cast("long").alias("c_target"),
        F.count("*").cast("long").alias("c_raw"),
    )
    totals = counts.agg(
        F.sum("c_target").cast("long").alias("t_target"),
        F.sum("c_raw").cast("long").alias("t_raw"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket", "c_target", "c_raw",
        (F.expr(f"(c_target + 1) * 1000000"
                f" div (t_target + {n_buckets})")
         - F.expr(f"(c_raw + 1) * 1000000"
                  f" div (t_raw + {n_buckets})")).cast("long")
        .alias("weight"),
    )


def dsir_select(df: DataFrame, k: int = 50, id_col: str = "doc_id",
                text_col: str = "text", lang_col: str = "lang",
                target_lang: str = "en",
                n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    score every document by the sum of its hashed unigram+bigram
    feature weights under dsir_weights (target = rows whose
    ``lang_col`` equals ``target_lang``) and keep the top-k by
    (score desc, id asc) — the deterministic argmax-k variant of the
    paper's Gumbel resampling (sandbox determinism; the weights and
    per-doc scores are the algorithm, the sampler is a one-line swap).

    Scale shape: the corpus explodes to hashed (id, target-flag,
    bucket) ONCE and is staged for its two consumers (weight fit +
    per-doc scoring) — one scan, not two; weights are ``n_buckets``
    rows broadcast back, the per-doc score is one partial agg on
    doc_id, and only the top-k (bounded) crosses the final
    single-partition boundary — the same top-k discipline as
    vocab_topk. Output: (rank, id, n_feats, score)."""
    from ..runtime.staging import stage

    w = words_col(text_col)
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(F.slice(w, 1, F.size(w) - 1),
                    (lambda t, i: F.concat(t, F.lit(" "),
                                           F.element_at(w, i + 2)))),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(w, bigrams)
    hashed = stage(spread(df, id_col).select(
        F.col(id_col).alias("id"),
        (F.col(lang_col) == target_lang).cast("long").alias("is_t"),
        F.explode(feats).alias("f"),
    ).select(
        "id", "is_t",
        (F.conv(F.substring(F.md5(F.col("f").cast("binary")), 1, 8),
                16, 10).cast("long") % n_buckets).alias("bucket"),
    ))
    counts = hashed.groupBy("bucket").agg(
        F.sum("is_t").cast("long").alias("c_target"),
        F.count("*").cast("long").alias("c_raw"),
    )
    totals = counts.agg(
        F.sum("c_target").cast("long").alias("t_target"),
        F.sum("c_raw").cast("long").alias("t_raw"),
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (F.expr(f"(c_target + 1) * 1000000"
                f" div (t_target + {n_buckets})")
         - F.expr(f"(c_raw + 1) * 1000000"
                  f" div (t_raw + {n_buckets})")).cast("long")
        .alias("weight"),
    )
    per_bucket = hashed.groupBy("id", "bucket").agg(
        F.count("*").cast("long").alias("c"))
    scored = (
        per_bucket.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(F.sum("c").cast("long").alias("n_feats"),
             F.sum(F.col("c") * F.col("weight")).cast("long")
             .alias("score"))
    )
    from pyspark.sql import Window

    rk = Window.orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank",
                          F.row_number().over(rk).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "id", "n_feats", "score")
    )


def bpe_fertility(df: DataFrame, n_merges: int = 6,
                  id_col: str = "doc_id", text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """Tokenizer-fertility report per language — the standard
    multilingual-tokenizer audit (subword fertility = subword tokens
    per word, e.g. Rust et al. 2021 arXiv:2012.15613): train the
    corpus BPE (bpe_train_merges, the gated loop), then measure per
    ``lang_col`` how many subword symbols the learned merges leave
    per word and per character, in exact integer ppm.

    Scale shape: the corpus collapses once to (lang, word) counts —
    the same word-frequency shuffle BPE training already pays — and
    joins the vocabulary's word -> n_subtokens table on the word key
    (vocabulary-sized, not corpus-sized); the rollup lands on the
    language universe. Output: (lang, n_words, n_tokens, n_chars,
    fertility_ppm, chars_per_token_ppm)."""
    _, vocab = bpe_train_merges(df, n_merges, text_col)
    sub = vocab.select(
        "word",
        F.size(F.split("seq", " ")).cast("long").alias("n_sub"))
    lw = (
        spread(df, id_col)
        .select(F.col(lang_col).alias("lang"),
                F.explode(words_col(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    rolled = lw.join(sub, "word").groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_sub")).cast("long")
        .alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("word")).cast("long")
        .alias("n_chars"),
    )
    out = rolled.select(
        "lang", "n_words", "n_tokens", "n_chars",
        F.expr("n_tokens * 1000000 div greatest(1L, n_words)")
        .cast("long").alias("fertility_ppm"),
        F.expr("n_chars * 1000000 div greatest(1L, n_tokens)")
        .cast("long").alias("chars_per_token_ppm"),
    )
    vocab.unpersist()
    return out


def calibration_bins(df: DataFrame, n_bins: int = 10,
                     id_col: str = "doc_id", text_col: str = "text",
                     lang_col: str = "lang",
                     positive_lang: str = "en") -> DataFrame:
    """Classifier reliability table (the calibration audit every
    deployed quality filter needs — Guo et al. 2017
    arXiv:1706.04599): bucket quality_classifier_score's per-doc
    scores into ``n_bins`` equal-width bins over the observed score
    range and report, per bin, the doc count, the exact score sum and
    the observed positive count/rate (ground truth = ``lang_col`` ==
    ``positive_lang``) — all integers, the reader divides.

    Scale shape: one bounded two-scalar aggregate (min/max score, the
    token_budget_select literal-total pattern) broadcast as literals,
    then map-side partial agg onto at most ``n_bins`` keys — a
    constant exchange at any corpus size, no window, no sort.
    Output: (bin, n_docs, sum_score, n_pos, pos_rate_x1000)."""
    scored = quality_classifier_score(
        df.select(F.col(id_col), F.col(text_col),
                  (F.col(lang_col) == positive_lang).cast("long")
                  .alias("_pos")),
        id_col=id_col, text_col=text_col,
    ).join(
        df.select(F.col(id_col).alias("id"),
                  (F.col(lang_col) == positive_lang).cast("long")
                  .alias("pos")),
        "id",
    )
    lohi = scored.agg(F.min("score").alias("lo"),
                      F.max("score").alias("hi")).collect()[0]
    lo, hi = int(lohi["lo"]), int(lohi["hi"])
    span = max(1, hi - lo + 1)
    binned = scored.select(
        F.least(F.lit(n_bins - 1),
                F.expr(f"(score - {lo}) * {n_bins} div {span}"))
        .cast("long").alias("bin"),
        "score", "pos",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("score").cast("long").alias("sum_score"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("sum(pos) * 1000 div count(*)").cast("long")
        .alias("pos_rate_x1000"),
    )


def heavy_hitters(df: DataFrame, threshold_frac: int = 64,
                  text_col: str = "text",
                  capacity: int | None = None) -> DataFrame:
    """Exact corpus heavy hitters via a Misra-Gries candidate prune
    (Misra & Gries 1982; merge rule per Agarwal et al. 2013, "Mergeable
    summaries"): tokens whose global count is >= N / ``threshold_frac``
    where N is the total token count. The classic two-phase shape for
    10^12-doc vocabularies:

      1. candidate pass — per PARTITION, a bounded Misra-Gries sketch
         (``capacity`` counters, default 2x threshold_frac) over the
         token stream inside one Arrow stage; pigeonhole guarantees
         any global heavy hitter survives in at least one partition's
         sketch, so the union of per-partition candidates is a
         superset of the true answer regardless of partitioning
         (k counters keep every token with count > N/(k+1), so this
         needs ``capacity >= threshold_frac``; a smaller one raises
         ValueError);
      2. exact pass — only the candidate set (bounded:
         partitions x capacity words) is counted exactly and filtered
         against the true threshold.

    The final output depends ONLY on exact global counts, so it is
    bit-identical at any parallelism even though intermediate sketches
    differ — the same determinism argument as extract_parallelism_
    parity. Versus a naive groupBy over every token, the shuffle
    carries candidate words only instead of the full vocabulary.

    Output: (word, total, share_ppm = total * 10^6 div N)."""
    from ..runtime.staging import stage

    cap = capacity or 2 * threshold_frac
    if cap < threshold_frac:
        raise ValueError(
            f"capacity {cap} < threshold_frac {threshold_frac}: the sketch "
            "could drop a true heavy hitter")
    # one corpus scan: the token arrays are staged for their three
    # consumers (sketch pass, total count, exact candidate count)
    toks = stage(spread(df).select(words_col(text_col).alias("w")))

    def sketch(batches):
        mg: dict[str, int] = {}
        for rb in batches:
            counts = pc.value_counts(pc.list_flatten(rb.column(0)))
            for t, c in zip(counts.field("values").to_pylist(),
                            counts.field("counts").to_pylist()):
                if t:
                    mg[t] = mg.get(t, 0) + c
            if len(mg) > cap:
                # mergeable-summary shrink: subtract the (cap+1)-th
                # largest count, drop non-positive counters
                kth = sorted(mg.values(), reverse=True)[cap]
                mg = {t: c - kth for t, c in mg.items() if c > kth}
        yield pa.RecordBatch.from_arrays([pa.array(list(mg), pa.string())],
                                         names=["word"])

    candidates = toks.mapInArrow(sketch, "word string").distinct()
    n_total = int(
        toks.agg(F.sum(F.size("w")).alias("n")).collect()[0]["n"] or 0)
    exploded = toks.select(F.explode("w").alias("word")) \
        .filter(F.col("word") != "")
    counted = (
        exploded.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("total"))
        .filter(F.col("total") * threshold_frac >= n_total)
    )
    return counted.select(
        "word", "total",
        F.expr(f"total * 1000000 div greatest(1L, {n_total}L)")
        .cast("long").alias("share_ppm"),
    )


def collocation_lift_topk(df: DataFrame, k: int = 25,
                          min_count: int = 5,
                          text_col: str = "text") -> DataFrame:
    """Collocation mining by integer lift (the PMI-family association
    score, Church & Hanks 1990, computed as the exact-integer lift
    ratio instead of its log): for adjacent word pairs with corpus
    count >= ``min_count``,

        lift_x1000 = (c_ab * N div c_a) * 1000 div c_b

    where N is the total token count — >1000 means the pair co-occurs
    more than independence predicts. Top-k by (lift desc, pair asc).

    Scale shape: two partial-agg'd groupBys (unigrams, adjacent
    bigrams — both vocabulary-sized, not corpus-sized), two
    vocabulary joins on the word keys, one bounded top-k. The inner
    product c_ab * N is the overflow ceiling (~10^18 at 10^12-token
    corpora); re-scale the constant at larger N. Output:
    (rank, pair, c_ab, lift_x1000)."""
    from ..runtime.staging import stage

    w = words_col(text_col)
    # staged: three consumers (unigrams, bigrams, token total)
    toks = stage(spread(df).select(w.alias("w")))
    uni = (
        toks.select(F.explode("w").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").cast("long").alias("c"))
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(F.slice("w", 1, F.size("w") - 1),
                    (lambda t, i: F.concat(
                        t, F.lit(" "),
                        F.element_at(F.col("w"), i + 2)))),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        toks.select(F.explode(bigrams).alias("pair"))
        .groupBy("pair").agg(F.count("*").cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_total = int(
        toks.agg(F.sum(F.size("w")).alias("n")).collect()[0]["n"] or 0)
    a = F.split_part(F.col("pair"), F.lit(" "), F.lit(1))
    b = F.split_part(F.col("pair"), F.lit(" "), F.lit(2))
    joined = (
        bi.join(uni.select(F.col("word").alias("_a"),
                           F.col("c").alias("c_a")),
                a == F.col("_a"))
        .join(uni.select(F.col("word").alias("_b"),
                         F.col("c").alias("c_b")),
              b == F.col("_b"))
        .select("pair", "c_ab",
                F.expr(f"(c_ab * {n_total}L div c_a) * 1000 div c_b")
                .cast("long").alias("lift_x1000"))
    )
    from pyspark.sql import Window

    rk = Window.orderBy(F.desc("lift_x1000"), F.asc("pair"))
    return (
        joined.withColumn("rank",
                          F.row_number().over(rk).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "pair", "c_ab", "lift_x1000")
    )


def lang_confusion(df: DataFrame, text_col: str = "text",
                   lang_col: str = "lang") -> DataFrame:
    """Language-ID confusion matrix — the eval artifact behind every
    deployed lang filter (which true languages leak into which
    predicted buckets): lang_id's stopword argmax computed INLINE
    (lang_pred_expr, no self-join) against the table's ground-truth
    ``lang_col``, rolled up per (true, predicted) cell with the match
    count split out.

    Scale shape: one projection + map-side partial agg onto at most
    |langs| x (|langs|+1) keys — constant exchange at any corpus
    size. Output: (true_lang, pred_lang, n_docs, n_match)."""
    base = spread(df).select(
        F.col(lang_col).alias("true_lang"),
        words_col(text_col).alias("w"),
    )
    pred = lang_pred_expr("w")
    keyed = base.select(
        "true_lang", pred.alias("pred_lang"),
        (F.col("true_lang") == pred).cast("long").alias("m"),
    )
    return keyed.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
    )


def mix_plan(df: DataFrame, parts: dict[str, int],
             text_col: str = "text",
             source_col: str = "source") -> DataFrame:
    """Data-mixture planner — the per-source token budgeting table
    behind every published pretraining mix (epochs per source at a
    target sampling ratio, as in the LLaMA/GPT-3 data tables): given
    integer mixture ``parts`` per source (relative weights), size a
    one-epoch-equivalent token budget (the corpus total) and report
    per source how many tokens the mix draws and the implied epoch
    count in exact integer milli-epochs —

        tokens_needed = total_tokens * parts_s div sum(parts)
        epochs_x1000  = tokens_needed * 1000 div n_tokens_s

    epochs > 1000 flags up-sampled sources (multiple passes), < 1000
    down-sampled ones.

    Scale shape: one partial-agg'd groupBy onto the source universe,
    a one-row totals broadcast, a literal parts map — constant
    exchange at any corpus size. Sources absent from ``parts`` get
    weight 0. Output: (source, n_tokens, target_ppm, tokens_needed,
    epochs_x1000)."""
    total_parts = sum(parts.values())
    if total_parts <= 0:
        raise ValueError("parts must sum to a positive total")
    counts = (
        spread(df)
        .select(F.col(source_col).alias("source"),
                F.size(words_col(text_col)).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    totals = counts.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"))
    pmap = F.create_map(
        *[F.lit(v) for kv in parts.items() for v in kv])
    return counts.crossJoin(F.broadcast(totals)).select(
        "source", "n_tokens",
        F.coalesce(F.element_at(pmap, F.col("source")), F.lit(0))
        .cast("long").alias("_parts"),
        "total_tokens",
    ).select(
        "source", "n_tokens",
        F.expr(f"_parts * 1000000 div {total_parts}").cast("long")
        .alias("target_ppm"),
        F.expr(f"total_tokens * _parts div {total_parts}")
        .cast("long").alias("tokens_needed"),
        F.expr(f"(total_tokens * _parts div {total_parts}) * 1000"
               " div greatest(1L, n_tokens)").cast("long")
        .alias("epochs_x1000"),
    )


_SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "\\u0400-\\u04FF"),
    ("greek", "\\u0370-\\u03FF"),
    ("arabic", "\\u0600-\\u06FF"),
    ("cjk", "\\u4E00-\\u9FFF"),
)


def script_detect(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Unicode-script profile per document — the writing-system signal
    multilingual pipelines use beside stopword lang-id (script is
    robust where stopword lists are not: short docs, unseen
    languages): per-script character counts over five major ranges,
    measured as length deltas after regexp_replace (one JVM regex per
    script, map-only, no shuffle), plus the dominant script by
    (count desc, declaration order) with 'other' when nothing hits.

    Output: (id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
    script)."""
    t = F.col(text_col)
    counts = {
        name: (F.length(t)
               - F.length(F.regexp_replace(t, f"[{rng}]", "")))
        .cast("long")
        for name, rng in _SCRIPT_RANGES
    }
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )
    best = F.greatest(*[F.col(f"n_{name}")
                        for name, _ in _SCRIPT_RANGES])
    pred = F.when(best <= 0, F.lit("other"))
    for name, _ in _SCRIPT_RANGES:
        pred = pred.when(F.col(f"n_{name}") == best, F.lit(name))
    return base.select(
        "id", *[f"n_{name}" for name, _ in _SCRIPT_RANGES],
        pred.alias("script"),
    )


def corpus_drift(df: DataFrame, slice_pred, text_col: str = "text",
                 n_buckets: int = 128) -> DataFrame:
    """Corpus drift monitor — the A/B distribution check run between
    snapshots or pipeline versions (hashed-unigram L1 distance, the
    integer-exact cousin of the usual KL/chi-square drift scores):
    tokens hash into ``n_buckets``; slice A = rows where
    ``slice_pred`` holds, slice B = the rest; each bucket reports both
    raw counts, both smoothed ppm rates and the absolute ppm gap —
    sum(l1_ppm) over the output is the corpus-level drift score.

    Scale shape: one explode + partial agg onto ``n_buckets`` keys,
    then a one-row totals broadcast — constant exchange at any corpus
    size. Output: (bucket, c_a, c_b, ppm_a, ppm_b, l1_ppm)."""
    hashed = spread(df).select(
        slice_pred.cast("long").alias("is_a"),
        F.explode(words_col(text_col)).alias("t"),
    ).filter(F.col("t") != "").select(
        "is_a",
        (F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 8),
                16, 10).cast("long") % n_buckets).alias("bucket"),
    )
    counts = hashed.groupBy("bucket").agg(
        F.sum("is_a").cast("long").alias("c_a"),
        (F.count("*") - F.sum("is_a")).cast("long").alias("c_b"),
    )
    totals = counts.agg(
        F.sum("c_a").cast("long").alias("t_a"),
        F.sum("c_b").cast("long").alias("t_b"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket", "c_a", "c_b",
        F.expr(f"(c_a + 1) * 1000000 div (t_a + {n_buckets})")
        .cast("long").alias("ppm_a"),
        F.expr(f"(c_b + 1) * 1000000 div (t_b + {n_buckets})")
        .cast("long").alias("ppm_b"),
        F.expr(f"abs((c_a + 1) * 1000000 div (t_a + {n_buckets})"
               f" - (c_b + 1) * 1000000 div (t_b + {n_buckets}))")
        .cast("long").alias("l1_ppm"),
    )


# RE2-compatible sentence chunking (no lookbehind): maximal runs of
# non-terminators followed by an optional terminator run
_SENTENCE_RE = "[^.!?]+[.!?]*"


def qa_mine(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Heuristic question-answer pair mining — the weak-supervision
    QA-harvest pass (question sentence + its immediate successor)
    used to bootstrap retrieval/QA training sets from raw text:
    sentence-chunk with one RE2-safe regex (shared verbatim with the
    DuckDB oracle — no lookbehind), keep sentences ending in '?', and
    pair each with the sentence that follows it; questions at
    document end (no successor) drop.

    Pure column expressions (regexp_extract_all + a filtered
    transform over the index range), map-only. Output:
    (id, pair_no, question, answer)."""
    sents = F.expr(
        f"transform(regexp_extract_all({text_col},"
        f" '({_SENTENCE_RE})', 1), s -> trim(s))")
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"), sents.alias("s"))
    pairs = base.filter(F.size("s") >= 2).select(
        "id",
        F.posexplode(
            F.expr("transform(filter(sequence(0, size(s) - 2),"
                   " i -> s[i] like '%?'),"
                   " i -> struct(s[i] as q, s[i + 1] as a))")
        ).alias("pair_no", "p"),
    )
    return pairs.select(
        "id", F.col("pair_no").cast("long").alias("pair_no"),
        F.col("p.q").alias("question"), F.col("p.a").alias("answer"),
    )


# UTS #39-style confusable map (a deliberately small, documented
# subset): the Cyrillic and Greek letters that render identically to
# Latin in most fonts — the set behind classic mixed-script spoofing
# ('pаypal' with U+0430). Keys/values are parallel strings for
# translate(); 1:1 by construction.
_CONFUSABLE_SRC = (
    "аеорсхуіѕј"
    "ΑΒΕΗΙΚΜΝΟΡ"
    "ΤΧο"
)
_CONFUSABLE_DST = "aeopcxyisjABEHIKMNOPTXo"
assert len(_CONFUSABLE_SRC) == len(_CONFUSABLE_DST)


def homoglyph_skeleton(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Confusable-skeleton normalization (UTS #39 'skeleton' idea,
    restricted to the documented Cyrillic/Greek->Latin lookalike
    subset above): maps every confusable character to its Latin
    twin, counts them, and flags spoof candidates — the cleaning
    stage that catches homoglyph-obfuscated spam/phishing text that
    survives NFC (these are DISTINCT code points, not combining
    forms, so text_nfc_normalize cannot see them).

    Everything is one narrow JVM-side projection (translate +
    length arithmetic), map-only, no Python, no shuffle. Output:
    (id, n_confusables, skeleton, is_spoof)."""
    t = F.col(text_col)
    skeleton = F.translate(t, _CONFUSABLE_SRC, _CONFUSABLE_DST)
    n_conf = (F.length(t)
              - F.length(F.translate(t, _CONFUSABLE_SRC, ""))) \
        .cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        n_conf.alias("n_confusables"),
        skeleton.alias("skeleton"),
        (n_conf > 0).alias("is_spoof"),
    )


def domain_prefix_boilerplate(df: DataFrame, domain_col: str = "domain",
                              text_col: str = "text",
                              cap: int = 64) -> DataFrame:
    """Per-domain template-prefix mining — the site-header removal
    stage of web-corpus cleaning: the longest common prefix of ALL of
    a domain's documents equals LCP(min(text), max(text)) under
    lexicographic order (any divergence surfaces in the extremes), so
    ONE partial-aggregable groupBy(min, max, count) replaces any
    all-pairs comparison, and the LCP itself is a bounded column
    expression (prefix-equality is monotone, so counting equal
    prefixes up to ``cap`` chars IS the LCP length). Output:
    (domain, n_docs, prefix_len, prefix)."""
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min(text_col).alias("m1"),
        F.max(text_col).alias("m2"),
    )
    m1, m2 = F.col("m1"), F.col("m2")
    bound = F.least(F.length(m1), F.length(m2), F.lit(cap))
    k = F.size(F.filter(
        F.sequence(F.lit(1), bound),
        lambda i: m1.substr(F.lit(1), i) == m2.substr(F.lit(1), i),
    ))
    # sequence(1, 0) would throw; guard the empty-string extreme
    k = F.when(bound > 0, k).otherwise(F.lit(0))
    return agg.select(
        "domain", "n_docs",
        k.cast("long").alias("prefix_len"),
        m1.substr(F.lit(1), k).alias("prefix"),
    )


def lm_trigram_backoff(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Held-out trigram scoring with STUPID BACKOFF (Brants et al.
    2007, "Large Language Models in Machine Translation" — the
    count-ratio backoff Google built for web-scale corpora precisely
    because it needs no discounting math): the model trains on the
    EVEN-doc_id half of the corpus and scores the ODD half, so unseen
    trigrams genuinely occur and the backoff path is live (training
    on the full corpus would see every scored trigram at least once —
    the bigram_lm_fit gate's in-corpus fit measures formulaicness;
    this one measures generalization).

    Integer-exact per trigram position:
        seen:    s = (1000 * c3(w1w2w3)) div c2(w1w2)
        backoff: s = (4 * ((1000 * c2(w2w3)) div c1(w2))) div 10
                 (alpha = 0.4 as the x10 integer)
        else 0
    with c1 counting bigram LEFT occurrences (bigram_lm_fit's
    denominator convention). Output per odd doc: (id, n_trigrams,
    n_seen, n_backoff, fit_x1000 = sum div n).

    Scale shape: three partial-agg'd count tables (trigram, bigram,
    left-word — vocabulary-sized, broadcastable on real corpora),
    four lookup joins from the scored half, one per-doc groupBy. The
    model IS a DataFrame; no driver state."""
    base = spread(df, id_col).select(
        F.col(id_col).cast("long").alias("id"),
        words_col(text_col).alias("w"))
    train = base.filter(F.col("id") % 2 == 0)
    g2 = (train.filter(F.size("w") >= 2)
          .select(F.explode(F.expr(
              "transform(sequence(0, size(w) - 2),"
              " i -> struct(w[i] as w1, concat(w[i], ' ', w[i+1])"
              " as gm))")).alias("b"))
          .select("b.w1", "b.gm"))
    c12 = g2.groupBy("gm").agg(F.count("*").alias("c12"))
    c1 = g2.groupBy("w1").agg(F.count("*").alias("c1"))
    g3 = (train.filter(F.size("w") >= 3)
          .select(F.explode(F.expr(
              "transform(sequence(0, size(w) - 3),"
              " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"))
              .alias("tg")))
    c123 = g3.groupBy("tg").agg(F.count("*").alias("c123"))

    score_half = base.filter(F.col("id") % 2 == 1)
    pos = (score_half.filter(F.size("w") >= 3)
           .select("id", F.explode(F.expr(
               "transform(sequence(0, size(w) - 3),"
               " i -> struct("
               "  concat(w[i], ' ', w[i+1], ' ', w[i+2]) as tg,"
               "  concat(w[i], ' ', w[i+1]) as b12,"
               "  concat(w[i+1], ' ', w[i+2]) as b23,"
               "  w[i+1] as mid))")).alias("t"))
           .select("id", "t.tg", "t.b12", "t.b23", "t.mid"))
    joined = (
        pos.join(F.broadcast(c123), "tg", "left")
        .join(F.broadcast(c12), pos["b12"] == c12["gm"], "left")
        .join(F.broadcast(c12.select(F.col("gm").alias("gm_b"),
                                     F.col("c12").alias("cb"))),
              pos["b23"] == F.col("gm_b"), "left")
        .join(F.broadcast(c1), pos["mid"] == c1["w1"], "left")
    )
    seen = F.col("c123").isNotNull()
    backoff = F.col("cb").isNotNull() & F.col("c1").isNotNull()
    s = (F.when(seen, F.expr("(1000 * c123) div c12"))
         .when(backoff, F.expr("(4 * ((1000 * cb) div c1)) div 10"))
         .otherwise(F.lit(0)))
    agg = (joined.groupBy("id").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.sum(seen.cast("long")).cast("long").alias("n_seen"),
        F.sum((~seen & backoff).cast("long")).cast("long")
        .alias("n_backoff"),
        F.sum(s).alias("p_sum")))
    out = score_half.select("id").join(agg, "id", "left")
    return out.select(
        "id",
        F.coalesce("n_trigrams", F.lit(0)).cast("long")
        .alias("n_trigrams"),
        F.coalesce("n_seen", F.lit(0)).cast("long").alias("n_seen"),
        F.coalesce("n_backoff", F.lit(0)).cast("long")
        .alias("n_backoff"),
        F.coalesce(F.expr("p_sum div n_trigrams"), F.lit(0))
        .cast("long").alias("fit_x1000"))


def quality_ensemble_vote(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Majority-vote quality ensemble — the public-pipeline pattern of
    COMBINING weak quality signals instead of trusting one (FineWeb's
    ablation-driven filter stacking, the CCNet head/tail split, and
    fastText-style classifiers all feed ensembles in practice): three
    independent integer signals vote, a document keeps on >= 2 votes.

      label     hashed linear classifier score > 0
                (quality_classifier_score, map-only)
      head      bigram-LM corpus fit above the corpus mean
                (lm_quality_partition's cross-multiplied rule)
      len_head  token count above the corpus mean
                (same broadcast-mean rule on length)

    Scale shape: two map-only passes + the LM's counting shuffles;
    every corpus statistic arrives as a broadcast 1-row aggregate —
    no global sort, no rank window. Output: (id, label, head,
    len_head, votes, keep) — all integers."""
    ids = F.col(id_col).cast("long")
    base = df.select(ids.alias("id"), F.col(text_col).alias("text"))
    clf = quality_classifier_score(base, id_col="id").select(
        "id", F.col("label").cast("long").alias("label"), "n_tokens")
    lm = lm_quality_partition(base, id_col="id").select("id", "head")
    lstats = clf.agg(F.sum("n_tokens").alias("tot_tok"),
                     F.count("*").alias("n_docs"))
    lhead = (clf.crossJoin(F.broadcast(lstats))
             .select("id", "label",
                     (F.col("n_tokens") * F.col("n_docs")
                      >= F.col("tot_tok")).cast("long")
                     .alias("len_head")))
    out = lhead.join(lm, "id")
    votes = F.col("label") + F.col("head") + F.col("len_head")
    return out.select(
        "id", "label", F.col("head").cast("long").alias("head"),
        "len_head",
        votes.cast("long").alias("votes"),
        (votes >= 2).cast("int").cast("long").alias("keep"))


def ngram_novelty(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty — the inverse of boilerplate
    coverage (a doc whose shingles appear NOWHERE else is original
    content; one built from corpus-common shingles is template):
    novelty_x1000 = (1000 * corpus-unique distinct n-grams) div
    (distinct n-grams). The diversity-audit companion to
    substring_dup_coverage (which measures the duplicated side).

    Scale shape: one shingle explode + ONE partial-agg'd document-
    frequency groupBy on the shingle key + a join back and a per-doc
    groupBy — the ngram_jaccard index shape without the self-join.
    Output: (id, n_shingles, n_unique, novelty_x1000); docs with
    < n tokens emit 0 / 0 / 0."""
    from .dedup import _shingled

    sh = _shingled(df, id_col, text_col, n)
    inv = (sh.select("id", F.explode_outer("shingles").alias("s")))
    from ..runtime.staging import stage

    inv = stage(inv)  # consumed by df-counts and the per-doc agg
    freq = (inv.filter(F.col("s").isNotNull())
            .groupBy("s").agg(F.count("*").alias("dfreq")))
    agg = (inv.join(F.broadcast(freq), "s", "left")
           .groupBy("id")
           .agg(F.count(F.col("s")).cast("long").alias("n_shingles"),
                F.sum((F.col("dfreq") == 1).cast("int")).cast("long")
                .alias("n_unique")))
    return agg.select(
        "id", "n_shingles",
        F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        F.coalesce(F.expr("(1000 * n_unique) div n_shingles"),
                   F.lit(0)).cast("long").alias("novelty_x1000"))
