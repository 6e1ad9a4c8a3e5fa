"""Text-analysis operators over documents (SURVEY §2 D7-D10).

Everything is built from deterministic, engine-portable primitives
(regex, arithmetic, md5) so each query carries a DuckDB oracle — no
transcendental functions whose libm rounding could differ between JVM
and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import (
    BPE_RE,
    md5_fingerprint,
    normalize_text,
    rolling_hash,
    word_ngrams,
    ws_tokens,
)

ORACLE: dict[str, str] = {}

# Tiny per-language stopword lists (alphabetical lang order = tie-break order).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "and", "is", "of"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
    "zh": ("de", "shi", "he", "zai", "le"),
}

_DUCK_TOKENS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> length(t) > 0)"


def _stop_hits(tokens, words: tuple[str, ...]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def _duck_hits(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> list_contains([{lst}], t)))"


# ------------------------------------------------------------------ D7
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID: argmax of per-language token hits,
    alphabetical tie-break, 'und' (undetermined) when no hits."""
    docs = table(spark, sf_dir, "documents")
    # stage the token array once: five per-language hit counters would
    # otherwise each re-split the text (CodegenFallback higher-order
    # filters — the doc_repetition_stats lesson)
    staged = docs.select(
        "doc_id", "lang", ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    toks = F.col("toks")
    scored = staged.select(
        "doc_id",
        "lang",
        *[_stop_hits(toks, ws).alias(f"s_{lang}") for lang, ws in sorted(STOPWORDS.items())],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in sorted(STOPWORDS)])
    pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"s_{lang}") == best), F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"), best.cast("int").alias("n_hits")
    )


_hit_cols = ",\n           ".join(
    f"{_duck_hits(ws)} AS s_{lang}" for lang, ws in sorted(STOPWORDS.items())
)
_best = f"greatest({', '.join('s_' + g for g in sorted(STOPWORDS))})"
_pred_chain = " ".join(
    f"WHEN s_{lang} = {_best} THEN '{lang}'" for lang in sorted(STOPWORDS)
)
ORACLE["lang_id"] = f"""
WITH toks_t AS (
    SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents
),
scored AS (
    SELECT doc_id, lang,
           {_hit_cols}
    FROM toks_t
)
SELECT doc_id, lang,
       -- NULL hits (NULL text) are as undetermined as zero hits (r13
       -- NULL-text audit: Spark's when-chain falls through to 'und')
       CASE WHEN {_best} = 0 OR {_best} IS NULL THEN 'und'
            {_pred_chain} END AS pred_lang,
       {_best}::INT AS n_hits
FROM scored
"""


# ------------------------------------------------------------------ D8
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token count, mean token length,
    punctuation density, stopword ratio → linear [0,1] score.

    Pure rational arithmetic → bit-identical across engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    n_tok = F.size(toks)
    char_len = F.length("text")
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    en_hits = _stop_hits(ws_tokens(F.lower(F.col("text"))), STOPWORDS["en"])
    # stage the integer measures once, then emit exact-integer ratios
    # (bigint div) and the composite score as floor(score·10⁶) of the
    # identical double chain — no round() half-rule exposure anywhere.
    # Downstream consumers (clean_corpus, quality_weighted_sample)
    # threshold on quality_e6 with pure integer comparisons.
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        char_len.alias("char_len"),
        punct.alias("punct"),
        en_hits.alias("en_hits"),
    )
    punct_ratio = F.col("punct") / F.greatest("char_len", F.lit(1))
    stop_ratio = F.col("en_hits") / F.greatest("n_tok", F.lit(1))
    score = (
        F.lit(0.4) * F.least(F.col("n_tok") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(4.0) * stop_ratio, F.lit(1.0))
    )
    return base.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        F.expr("(char_len * 10000L) div greatest(n_tok, 1)").alias("span_e4"),
        F.expr("(punct * 1000000L) div greatest(char_len, 1)").alias("punct_ppm"),
        F.expr("(en_hits * 1000000L) div greatest(n_tok, 1)").alias("stop_ppm"),
        F.floor(score * 1000000).alias("quality_e6"),
    )


ORACLE["doc_quality"] = f"""
WITH base AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS n_tok,
           length(text) AS char_len,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct,
           (SELECT {_duck_hits(STOPWORDS['en'])} FROM (SELECT {_DUCK_TOKENS} AS toks)) AS en_hits
    FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       (char_len * 10000) // greatest(n_tok, 1) AS span_e4,
       (punct * 1000000) // greatest(char_len, 1) AS punct_ppm,
       (en_hits * 1000000) // greatest(n_tok, 1) AS stop_ppm,
       CAST(floor((CAST(0.4 AS DOUBLE) * least(n_tok / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
           + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct / greatest(char_len, 1))
           + CAST(0.3 AS DOUBLE) * least(CAST(4.0 AS DOUBLE) * (en_hits / greatest(n_tok, 1)), CAST(1.0 AS DOUBLE)))
           * 1000000) AS BIGINT) AS quality_e6
FROM base
"""


# ------------------------------------------------------------------ D9
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0))).alias("bpe_tokens"),
    )


ORACLE["token_count"] = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0))::INT AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}'))::INT AS bpe_tokens
FROM documents
"""


# ------------------------------------------------------------------ D10
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint over normalized text + normalized length.

    The rolling-hash prefix variant lives in functions.rolling_hash
    (engine-specific → unit-tested, not oracled).
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fp"),
        F.length(normalize_text(F.col("text"))).alias("norm_len"),
    )


ORACLE["doc_fingerprint"] = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))::INT AS norm_len
FROM documents
"""


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash prefix fingerprint (polynomial hash over the first 16
    normalized chars; DuckDB expresses the same fold with list_reduce)."""
    docs = table(spark, sf_dir, "documents")
    # coalesce: NULL text folds to the empty-prefix hash 0 on DuckDB
    # (list_prepend seeds the reduce) while Spark's aggregate over a
    # NULL array is NULL — same contract: no content, seed hash (r13
    # NULL-text audit)
    return docs.select(
        "doc_id",
        F.coalesce(
            rolling_hash(normalize_text(F.col("text"))), F.lit(0).cast("bigint")
        ).alias("rh16"),
    )


ORACLE["doc_rolling_fingerprint"] = """
WITH norm AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
    FROM documents
)
SELECT doc_id,
       list_reduce(
           list_prepend(0::BIGINT,
               [ascii(c)::BIGINT FOR c IN string_split(substring(n, 1, 16), '')]),
           (acc, c) -> (acc * 257 + c) % 2147483647
       ) AS rh16
FROM norm
"""


# ------------------------------------------------------------------ D38
def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (nats) of the token distribution — the
    quality/diversity signal that separates natural text (high entropy)
    from boilerplate and keyword-stuffed spam (low): H = ln n − Σc·ln c ⁄ n.

    One explode + per-(doc, token) count, then one per-doc aggregate —
    both map-side-combinable; the c·ln c sum folds integer counts through
    ln, the same per-addend doubles in both engines (same tolerance class
    as doc_unigram_logprob, which hash-matches at 10× this scale).
    """
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(ws_tokens(normalize_text(F.col("text")))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Σ c·ln c folded through DECIMAL(28,12): each addend is a
    # deterministic scalar on integer counts, and the decimal sum is
    # exact under ANY partitioning/merge order (a raw double sum is
    # order-dependent — the one nondeterminism a driver-side shuffle
    # layout could expose). vocab is count(*) — tf rows are already
    # distinct per (doc, tok), so countDistinct would only buy an Expand.
    # Emission is floor(H·10⁶) of the identical double, never round().
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") * F.log("c")).cast("decimal(28,12)")).alias("sclogc"),
        )
        .select(
            "doc_id",
            "n_tok",
            "vocab",
            F.floor(
                (F.log("n_tok") - F.col("sclogc").cast("double") / F.col("n_tok"))
                * 1000000
            ).alias("entropy_e6"),
        )
    )


_DUCK_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

ORACLE["doc_entropy"] = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                              t -> length(t) > 0)) AS tok
    FROM documents
),
tf AS (
    SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tok,
       count(*) AS vocab,
       CAST(floor((ln(sum(c))
                   - sum(CAST(c * ln(c) AS DECIMAL(28,12)))::DOUBLE / sum(c))
                  * 1000000) AS BIGINT) AS entropy_e6
FROM tf GROUP BY doc_id
"""


# ----------------------------------------------------------------- D57
#: the Gopher rule-filter stop set (Rae et al. 2021, App. A1.1: "must
#: contain at least two of" these English words)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule filter (Rae et al. 2021, Appendix A —
    the published web-corpus quality gate; MassiveText's C4-successor):
    word count in [50, 100k], mean word length in [3, 10], symbol-to-
    word ratio (# and ellipsis) <= 0.1, <= 90% of lines bullet-started,
    <= 30% of lines ellipsis-ended, >= 80% of words containing an
    alphabetic char, and >= 2 Gopher stopwords present.

    Emits the raw integer measures, each rule as a boolean, and the
    conjunction — downstream corpus cleaning filters on pass_gopher
    while the per-rule flags say WHY a doc died. Every threshold is a
    CROSS-MULTIPLIED integer comparison (3·n <= chars <= 10·n, not a
    mean), so there is no division and no float anywhere: bit-identical
    across engines by construction. One scan, no shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    # stage the three split arrays ONCE: higher-order array functions
    # are CodegenFallback, and inlining `words`/`lines` into their 2/3
    # consumers re-splits the text per reference (the
    # doc_repetition_stats lesson — CollapseProject keeps this
    # projection because the aliases are expensive and multiply-used)
    staged = docs.select(
        "doc_id",
        F.col("text"),
        ws_tokens(F.col("text")).alias("words"),
        ws_tokens(F.lower(F.col("text"))).alias("lower_words"),
        F.split(F.col("text"), "\n").alias("lines"),
    )
    words, lower_words, lines = (
        F.col("words"), F.col("lower_words"), F.col("lines")
    )
    base = staged.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("bigint").alias("word_chars"),
        F.size(lines).cast("bigint").alias("n_lines"),
        (
            F.length("text") - F.length(F.expr("replace(text, '#', '')"))
            # integer div like the oracle's `// 3` — the char delta is
            # always a multiple of 3 so the value is unchanged, but the
            # all-integer invariant now holds by OPERATOR, not by range
            + F.expr(
                "(length(text) - length(replace(text, '...', ''))) div 3"
            )
        ).cast("bigint").alias("symbols"),
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        ).cast("bigint").alias("bullet_lines"),
        F.size(
            F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
        ).cast("bigint").alias("ellipsis_lines"),
        F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).cast("bigint").alias("alpha_words"),
        F.size(
            F.filter(stops, lambda s: F.array_contains(lower_words, s))
        ).cast("bigint").alias("stop_hits"),
    )
    r_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
    r_mwl = (
        (F.col("n_words") > 0)
        & (F.col("word_chars") >= 3 * F.col("n_words"))
        & (F.col("word_chars") <= 10 * F.col("n_words"))
    )
    r_sym = F.col("symbols") * 10 <= F.col("n_words")
    r_bullet = F.col("bullet_lines") * 10 <= 9 * F.col("n_lines")
    r_ellipsis = F.col("ellipsis_lines") * 10 <= 3 * F.col("n_lines")
    r_alpha = F.col("alpha_words") * 10 >= 8 * F.col("n_words")
    r_stop = F.col("stop_hits") >= 2
    return base.select(
        "*",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_bullet & r_ellipsis & r_alpha & r_stop).alias(
            "pass_gopher"
        ),
    )


_DUCK_WORDS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)"
_GOPHER_STOPS_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPS)

ORACLE["quality_gopher_rules"] = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_words,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS word_chars,
           CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           CAST(length(text) - length(replace(text, '#', ''))
                + (length(text) - length(replace(text, '...', ''))) // 3
                AS BIGINT) AS symbols,
           CAST(len(list_filter(string_split(text, chr(10)),
                l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                     OR starts_with(ltrim(l), '•'))) AS BIGINT) AS bullet_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
                l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ellipsis_lines,
           CAST(len(list_filter({_DUCK_WORDS},
                w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
           CAST(len(list_filter([{_GOPHER_STOPS_SQL}],
                s -> list_contains(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                               t -> length(t) > 0), s))) AS BIGINT) AS stop_hits
    FROM documents
)
SELECT *,
       (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet_lines
        AND r_ellipsis_lines AND r_alpha_words AND r_stopwords) AS pass_gopher
FROM (
    SELECT *,
           (n_words >= 50 AND n_words <= 100000) AS r_word_count,
           (n_words > 0 AND word_chars >= 3 * n_words
            AND word_chars <= 10 * n_words) AS r_mean_word_len,
           (symbols * 10 <= n_words) AS r_symbol_ratio,
           (bullet_lines * 10 <= 9 * n_lines) AS r_bullet_lines,
           (ellipsis_lines * 10 <= 3 * n_lines) AS r_ellipsis_lines,
           (alpha_words * 10 >= 8 * n_words) AS r_alpha_words,
           (stop_hits >= 2) AS r_stopwords
    FROM base
)
"""


# ----------------------------------------------------------------- D86
#: stand-in for the published word blocklist C4 filters on (the "List of
#: Dirty, Naughty, Obscene or Otherwise Bad Words"); the rule mechanics
#: — lowercase token membership — are what this row proves, and a
#: deployment swaps in the full list
C4_BADWORDS = ("porn", "xxx", "nsfw")


def quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 rule filter (Raffel et al. 2020 §2.2 — the other
    published web-corpus rule set beside Gopher's): lines are KEPT only
    when they end in a terminal punctuation mark (. ! ? or a closing
    quote), contain ≥ 5 words, and do not contain the word
    "javascript"; the page passes only when the kept lines carry ≥ 3
    sentences and the page has no "lorem ipsum", no curly brace, and no
    blocklisted word. Emits the integer measures, each page-level rule
    as a boolean, and the conjunction — the same report-not-drop shape
    as quality_gopher_rules, so a cleaning pipeline filters on pass_c4
    while the per-rule flags say why a page died.

    Sentences are counted as terminal-punctuation marks ([.!?]) within
    the kept lines (the C4 heuristic granularity). All measures are
    integers and all rules integer/boolean comparisons — bit-identical
    across engines by construction. One scan, no shuffle; the line and
    token arrays are staged once (the doc_repetition_stats
    CodegenFallback lesson).
    """
    docs = table(spark, sf_dir, "documents").withColumn(
        "t", F.coalesce(F.col("text"), F.lit(""))
    )
    line_arr = F.filter(
        F.transform(F.split(F.col("t"), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    staged = docs.select(
        "doc_id",
        F.col("t"),
        line_arr.alias("lines"),
        ws_tokens(F.lower(F.col("t"))).alias("lower_words"),
    )

    def _keep(l):
        words_ok = (
            F.size(F.filter(F.split(l, r"\s+"), lambda w: F.length(w) > 0))
            >= 5
        )
        punct_ok = (
            l.endswith(".") | l.endswith("!") | l.endswith("?")
            | l.endswith('"')
        )
        return punct_ok & words_ok & ~F.lower(l).contains("javascript")

    kept = F.filter(F.col("lines"), _keep)
    bad = F.array(*[F.lit(w) for w in C4_BADWORDS])
    base = staged.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.aggregate(
            kept,
            F.lit(0).cast("bigint"),
            lambda acc, l: acc
            + F.regexp_count(l, F.lit("[.!?]")).cast("bigint"),
        ).alias("n_sentences"),
        (~F.col("t").contains("{")).alias("r_no_brace"),
        (~F.lower(F.col("t")).contains("lorem ipsum")).alias("r_no_lorem"),
        (
            F.size(
                F.filter(bad, lambda w: F.array_contains(F.col("lower_words"), w))
            )
            == 0
        ).alias("r_no_badwords"),
    )
    r_sent = F.col("n_sentences") >= 3
    return base.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        r_sent.alias("r_min_sentences"),
        "r_no_lorem",
        "r_no_brace",
        "r_no_badwords",
        (
            r_sent
            & F.col("r_no_lorem")
            & F.col("r_no_brace")
            & F.col("r_no_badwords")
        ).alias("pass_c4"),
    )


_C4_BADWORDS_SQL = ", ".join(f"'{w}'" for w in C4_BADWORDS)
_C4_KEEP_SQL = (
    "(ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')"
    " OR ends_with(l, '\"'))"
    " AND len(list_filter(string_split_regex(l, '\\s+'),"
    " w -> length(w) > 0)) >= 5"
    " AND NOT contains(lower(l), 'javascript')"
)

ORACLE["quality_c4_rules"] = f"""
WITH staged AS (
    SELECT doc_id, coalesce(text, '') AS t,
           list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                                      l -> trim(l)),
                       l -> length(l) > 0) AS lines,
           list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                       w -> length(w) > 0) AS lower_words
    FROM documents
),
kq AS (
    SELECT doc_id, t, lines, lower_words,
           list_filter(lines, l -> {_C4_KEEP_SQL}) AS kept
    FROM staged
),
base AS (
    SELECT doc_id,
           len(lines) AS n_lines,
           len(kept) AS n_kept_lines,
           coalesce(CAST(list_sum(list_transform(kept,
                l -> len(regexp_extract_all(l, '[.!?]')))) AS BIGINT), 0)
               AS n_sentences,
           NOT contains(t, '{{') AS r_no_brace,
           NOT contains(lower(t), 'lorem ipsum') AS r_no_lorem,
           len(list_filter([{_C4_BADWORDS_SQL}],
                           w -> list_contains(lower_words, w))) = 0
               AS r_no_badwords
    FROM kq
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences,
       (n_sentences >= 3) AS r_min_sentences,
       r_no_lorem, r_no_brace, r_no_badwords,
       (n_sentences >= 3 AND r_no_lorem AND r_no_brace AND r_no_badwords)
           AS pass_c4
FROM base
"""


# ----------------------------------------------------------------- D58
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per (lang, source): BPE-ish tokens
    per whitespace word and per character, in ppm. Fertility is the
    standard cross-lingual tokenizer-efficiency metric (tokens/word ~1
    for English-centric BPE on English, 2-4x on underrepresented
    scripts): a corpus mix decided on DOCUMENT counts silently
    over-charges high-fertility languages in the token budget — this
    is the table that surfaces it.

    Map-side combined aggregate over one scan; |lang x source| groups.
    """
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("ws_words"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0)))
        .cast("bigint")
        .alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_words").alias("ws_words"),
            F.sum("bpe_tokens").alias("bpe_tokens"),
            F.sum("chars").alias("chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "ws_words",
            "bpe_tokens",
            "chars",
            F.expr("(bpe_tokens * 1000000L) div greatest(ws_words, 1)").alias(
                "tok_per_word_ppm"
            ),
            F.expr("(bpe_tokens * 1000000L) div greatest(chars, 1)").alias(
                "tok_per_char_ppm"
            ),
        )
        .orderBy("lang", "source")
    )


ORACLE["tokenizer_fertility"] = f"""
WITH per_doc AS (
    SELECT lang, source,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS ws_words,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS chars
    FROM documents
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(ws_words) AS BIGINT) AS ws_words,
       CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(CAST(sum(bpe_tokens) AS BIGINT) * 1000000
            // greatest(CAST(sum(ws_words) AS BIGINT), 1) AS BIGINT) AS tok_per_word_ppm,
       CAST(CAST(sum(bpe_tokens) AS BIGINT) * 1000000
            // greatest(CAST(sum(chars) AS BIGINT), 1) AS BIGINT) AS tok_per_char_ppm
FROM per_doc
GROUP BY lang, source
ORDER BY lang, source
"""


# ----------------------------------------------------------------- D63
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct types vs
    cumulative tokens over ten deterministic md5-decile corpus prefixes
    (a hash decile IS a uniform random sample, which is the
    statistically right way to measure type growth — ingestion order
    would confound it with source ordering). A corpus whose curve
    flattens early is boilerplate/duplication-heavy; one that keeps
    climbing is genuinely diverse — the single-plot summary dedup and
    mixture decisions get judged against (Heaps 1978).

    Scale: the corpus collapses to ONE (term → min-decile, count)
    aggregate plus a per-decile doc/token rollup; the cumulative window
    runs over exactly 10 rows. No corpus-wide window, no distinct over
    raw tokens in the cumsum — vocab_cum(d) = Σ new_terms(≤d) because a
    type's first decile is unique. All-integer emission.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    dec = F.expr(
        "(cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)"
        " AS bigint) * 10L) div 4294967296L"
    )
    toks = docs.select(
        dec.alias("decile"),
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"),
    )
    new_terms = (
        toks.groupBy("term")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    per_dec = docs.select(
        dec.alias("decile"),
        F.size(ws_tokens(F.lower(F.col("text")))).cast("bigint").alias("n_tok"),
    ).groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_dec.join(new_terms, "decile", "left")
        .select(
            "decile",
            "n_docs",
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).cast("bigint").alias("new_terms"),
        )
        .withColumn("docs_cum", F.sum("n_docs").over(w))
        .withColumn("tokens_cum", F.sum("n_tokens").over(w))
        .withColumn("vocab_cum", F.sum("new_terms").over(w))
        .select(
            "decile", "n_docs", "n_tokens", "new_terms",
            "docs_cum", "tokens_cum", "vocab_cum",
            F.expr("(vocab_cum * 1000000L) div greatest(tokens_cum, 1L)").alias(
                "type_token_ppm"
            ),
        )
        .orderBy("decile")
    )


ORACLE["vocab_growth"] = f"""
WITH docs_d AS (
    SELECT doc_id, text,
           (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            * 10) // 4294967296 AS decile
    FROM documents
),
toks AS (
    SELECT decile, unnest({_DUCK_TOKENS}) AS term FROM docs_d
),
new_terms AS (
    SELECT decile, count(*) AS new_terms FROM (
        SELECT term, min(decile) AS decile FROM toks GROUP BY term
    ) GROUP BY decile
),
per_dec AS (
    SELECT decile, count(*) AS n_docs,
           CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS n_tokens
    FROM docs_d GROUP BY decile
),
base AS (
    SELECT p.decile, p.n_docs, p.n_tokens,
           CAST(coalesce(n.new_terms, 0) AS BIGINT) AS new_terms
    FROM per_dec p LEFT JOIN new_terms n USING (decile)
),
cum AS (
    SELECT *,
           CAST(sum(n_docs) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_cum,
           CAST(sum(n_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
           CAST(sum(new_terms) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
    FROM base
)
SELECT decile, n_docs, n_tokens, new_terms, docs_cum, tokens_cum, vocab_cum,
       CAST((vocab_cum * 1000000) // greatest(tokens_cum, 1) AS BIGINT) AS type_token_ppm
FROM cum
ORDER BY decile
"""


# ----------------------------------------------------------------- D64
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap: Jaccard similarity of the
    distinct-term sets of every source pair, in integer ppm. Two
    "different" domains sharing 90% of their vocabulary are one mirror
    wearing two names (route them to near-dup, not the mixture
    weights); near-zero overlap flags a language or template boundary.
    The |sources|² matrix is the input to source-level mixture and
    dedup-scope decisions.

    Scale: the corpus collapses to a distinct (source, term) posting
    frame once; the pair join is per-TERM (each term contributes
    C(sources_containing_it, 2) rows — bounded by the SOURCE count
    squared, never by corpus size), then one |pairs|-row aggregate.
    Set sizes join back from a |sources|-row frame (bounded → may
    broadcast, like region/nation).
    """
    docs = table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    inter = (
        st.alias("a")
        .join(st.alias("b"), "term")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n_terms").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n_terms").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "(n_common * 1000000L) div (n_a + n_b - n_common)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE["source_overlap_jaccard"] = f"""
WITH st AS (
    SELECT DISTINCT source, unnest({_DUCK_TOKENS}) AS term
    FROM documents
),
sizes AS (
    SELECT source, count(*) AS n_terms FROM st GROUP BY source
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_common
    FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       CAST(sa.n_terms AS BIGINT) AS n_a,
       CAST(sb.n_terms AS BIGINT) AS n_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST((i.n_common * 1000000)
            // (sa.n_terms + sb.n_terms - i.n_common) AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY i.source_a, i.source_b
"""


# ----------------------------------------------------------------- D66
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition report — the Gopher repetition section
    (Rae et al. 2021 §A1.1) that quality_gopher_rules leaves out:
    duplicate-LINE fraction and duplicate word-TRIGRAM fraction, the two
    signals that catch boilerplate pages, scraper loops, and
    degenerate-generation text that global dedup never sees (the
    repeats live INSIDE one document).

    Scale: every metric is computed IN-ROW with array higher-order
    functions (split → array_distinct → size) — one scan, zero
    shuffles, zero UDFs; a 100 TB corpus pays exactly one pass.
    All-integer outputs (ppm via bigint div; nullif guards empty docs),
    so cross-engine hashing is exact. `is_repetitive` pins Gopher's
    dup_line > 30% / dup_trigram > 20% cuts as integer
    cross-multiplications.

    The line/word arrays are STAGED in their own projection before any
    consumer touches them: higher-order array functions are
    CodegenFallback (interpreted), so inlining `words` into its four
    consumers re-splits the text four times per row — CollapseProject
    declines to merge the two projections precisely because the alias
    is expensive and multiply-referenced. Measured at sf0.1: 9.6 s
    inlined → 0.9 s staged, value-identical (same oracle hash).
    """
    docs = table(spark, sf_dir, "documents").withColumn(
        "t", F.coalesce(F.col("text"), F.lit(""))
    )
    line_arr = F.filter(
        F.transform(F.split(F.col("t"), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    word_arr = ws_tokens(F.lower(F.col("t")))
    staged = docs.select(
        "doc_id", line_arr.alias("lines"), word_arr.alias("words")
    )
    words = F.col("words")
    base = staged.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size(F.array_distinct("lines")).cast("bigint").alias("n_uniq_lines"),
        F.size(words).cast("bigint").alias("n_words"),
        F.when(
            F.size(words) >= 3,
            F.size(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(words) - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(words, i),
                            F.element_at(words, i + 1),
                            F.element_at(words, i + 2),
                        ),
                    )
                )
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_uniq_tris"),
    ).withColumn(
        "n_tris",
        F.when(F.col("n_words") >= 3, F.col("n_words") - 2)
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    return base.select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.col("n_uniq_lines")).alias("n_dup_lines"),
        F.expr(
            "((n_lines - n_uniq_lines) * 1000000L) div nullif(n_lines, 0)"
        ).alias("dup_line_ppm"),
        "n_tris",
        (F.col("n_tris") - F.col("n_uniq_tris")).alias("n_dup_tris"),
        F.expr(
            "((n_tris - n_uniq_tris) * 1000000L) div nullif(n_tris, 0)"
        ).alias("dup_tri_ppm"),
        # Gopher cuts as integer cross-multiplications (no ppm rounding
        # in the decision): dup_lines/lines > 3/10 OR dup_tris/tris > 1/5
        (
            ((F.col("n_lines") - F.col("n_uniq_lines")) * 10 > F.col("n_lines") * 3)
            | ((F.col("n_tris") - F.col("n_uniq_tris")) * 5 > F.col("n_tris"))
        ).alias("is_repetitive"),
    )


ORACLE["doc_repetition_stats"] = """
WITH base AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                                      l -> trim(l)),
                       l -> length(l) > 0) AS lines,
           list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                       t -> length(t) > 0) AS toks
    FROM documents
),
counts AS (
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_distinct(lines)) AS BIGINT) AS n_uniq_lines,
           CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS BIGINT)
               AS n_tris,
           CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
                    list_transform(range(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                )) ELSE 0 END AS BIGINT) AS n_uniq_tris
    FROM base
)
SELECT doc_id,
       n_lines,
       n_lines - n_uniq_lines AS n_dup_lines,
       CAST(((n_lines - n_uniq_lines) * 1000000) // nullif(n_lines, 0) AS BIGINT)
           AS dup_line_ppm,
       n_tris,
       n_tris - n_uniq_tris AS n_dup_tris,
       CAST(((n_tris - n_uniq_tris) * 1000000) // nullif(n_tris, 0) AS BIGINT)
           AS dup_tri_ppm,
       ((n_lines - n_uniq_lines) * 10 > n_lines * 3
        OR (n_tris - n_uniq_tris) * 5 > n_tris) AS is_repetitive
FROM counts
"""


# ----------------------------------------------------------------- D67
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared lang × predicted lang with
    counts and the row share in ppm — the QA rollup a pipeline watches
    to decide whether the lang-ID heuristic (or an upstream source's
    declared metadata) has drifted. Composes the already-verified
    lang_id emission; one groupBy over its output, map-side combined
    (|langs|² cells, O(1) at any corpus size)."""
    pred = lang_id(spark, sf_dir)
    per_lang = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(per_lang, "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr("(n_docs * 1000000L) div n_lang").alias("share_ppm"),
            (F.col("lang") == F.col("pred_lang")).alias("is_match"),
        )
        .orderBy("lang", "pred_lang")
    )


ORACLE["langid_confusion"] = f"""
WITH pred AS ({ORACLE["lang_id"]}),
cells AS (
    SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
    FROM pred GROUP BY lang, pred_lang
),
per_lang AS (
    SELECT lang, sum(n_docs) AS n_lang FROM cells GROUP BY lang
)
SELECT c.lang, c.pred_lang, c.n_docs,
       CAST((c.n_docs * 1000000) // p.n_lang AS BIGINT) AS share_ppm,
       c.lang = c.pred_lang AS is_match
FROM cells c JOIN per_lang p ON c.lang = p.lang
ORDER BY c.lang, c.pred_lang
"""


# ------------------------------------------------------------------ D72
#: how many merge candidates the report surfaces
BPE_TOP_PAIRS = 30


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge statistics (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units"):
    the corpus-weighted frequency of every ADJACENT CHARACTER PAIR
    inside words, top ``BPE_TOP_PAIRS`` by count — exactly the argmax
    set the first BPE merge step consumes. Re-running this operator
    after applying a merge table is one training iteration, so this is
    the distributed kernel of tokenizer training.

    Scale shape — the textbook BPE trick, distributed: the corpus
    first collapses to its DISTINCT-WORD frequency table (one map-side
    combined groupBy; vocab grows ~Heaps-law sublinearly, so at 100 TB
    this is millions of rows, not trillions), and pair counting then
    explodes only distinct words weighted by their frequency — the
    1000× repeated token costs one row, not 1000. Pair extraction is an
    in-row higher-order transform over character offsets (no UDF); the
    top-N comes from a distributed TakeOrderedAndProject over the
    O(|Σ|²)-bounded pair frame, and only the ≤ 30 finalists ever enter
    the rank window — no single-partition sort anywhere.

    Determinism: ties rank by pair text ascending; both engines use
    character (not byte) substring semantics.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    prs = wf.where(F.length("w") >= 2).select(
        "n_w",
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = prs.groupBy("pair").agg(F.sum("n_w").cast("bigint").alias("n_pair"))
    # distributed TopK (TakeOrderedAndProject) first, so the rank window
    # only ever sees the <= BPE_TOP_PAIRS finalists — no single-partition
    # sort of the full pair frame (the events_top_paths device)
    finalists = counts.orderBy(F.desc("n_pair"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    w = Window.orderBy(F.desc("n_pair"), F.asc("pair"))
    return finalists.withColumn("rank", F.row_number().over(w)).select(
        "rank", "pair", "n_pair"
    )


ORACLE["bpe_pair_stats"] = f"""
WITH words AS (
    SELECT unnest({_DUCK_TOKENS}) AS w FROM documents
),
wf AS (SELECT w, count(*) AS n_w FROM words GROUP BY 1),
prs AS (
    SELECT n_w, unnest([substr(w, i, 2) FOR i IN range(1, length(w))]) AS pair
    FROM wf WHERE length(w) >= 2
),
counts AS (SELECT pair, sum(n_w)::BIGINT AS n_pair FROM prs GROUP BY 1)
SELECT rank, pair, n_pair FROM (
    SELECT *, row_number() OVER (ORDER BY n_pair DESC, pair ASC) AS rank
    FROM counts
)
WHERE rank <= {BPE_TOP_PAIRS}
"""


# ------------------------------------------------------------------ D81
#: sequential BPE merges trained by bpe_merge_sequence
BPE_MERGES = 8


def bpe_merge_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training (Sennrich et al. 2016) — the actual
    distributed tokenizer-training step that bpe_pair_stats' single-
    iteration statistics feed: BPE_MERGES sequential merges over the
    corpus' distinct-word frequency table, emitting the learned merge
    table (merge_idx, pair, n_pair-at-merge-time). Each iteration is
    (a) a deterministic argmax over the weighted adjacent-symbol-pair
    counts (ties → pair text ascending) and (b) an in-row greedy
    left-to-right non-overlapping rewrite of every word's symbols.

    Scale shape: the corpus collapses ONCE to distinct words (Heaps-
    sublinear, bpe_pair_stats' device); each iteration is then a
    map-side-combined pair count + a distributed TakeOrdered(1) argmax
    (one tiny row to the driver — the kmeans/pagerank bounded-EAGER
    loop class) + ONE narrow JVM string replace. No UDF, no shuffle
    beyond the pair groupBy, vocab never leaves the executors.

    The rewrite trick that keeps both engines exact: words are encoded
    with a TERMINATING marker per symbol ("hello" → "h|e|l|l|o|"), so
    the merge of pair (s1, s2) is the plain string replace of
    "s1|s2|" with "s1s2|" — adjacent occurrences share NO boundary
    characters (unlike space-separated encodings), and both Spark and
    DuckDB's replace() scan left-to-right non-overlapping: exactly
    BPE's greedy semantics, one codegen'd expression per iteration.
    The vocabulary is restricted to purely-alphabetic words (^[a-z]+$
    after lowercasing) so the marker can never collide with a symbol.
    """
    return spark.createDataFrame(
        _bpe_merge_rows(spark, sf_dir),
        schema="merge_idx int, pair string, n_pair bigint",
    )


#: vocabularies up to this many DISTINCT alphabetic word types run the
#: whole BPE_MERGES merge loop in ONE python kernel over a single
#: applyInPandas group (r15; the CC/pagerank/logit fused-tier device):
#: each distributed merge round is a full pair-count job + a
#: TakeOrdered(1) argmax — pure scheduling floor when the distinct-word
#: table fits a task (Heaps-law: ~40k types at sf0.1). The kernel runs
#: the identical (count → argmax → non-overlapping replace) recurrence —
#: python str.replace IS the left-to-right non-overlapping rewrite both
#: engines' replace() implements, integer counts are order-free, and
#: the (count DESC, pair ASC) tie-break is the same total order (ASCII
#: space/letters compare identically) — so tier choice cannot flip a
#: value; equality is pinned by pytest. Above the cutoff the
#: distributed per-round loop runs (the 100 TB tier: millions of types
#: stay on the executors).
BPE_FUSED_MAX_WORDS = 200_000


def _bpe_fused_rows(wf) -> list[tuple[int, str, int]]:
    """All BPE_MERGES rounds in one kernel over the (enc, n_w)
    distinct-word frequency table (small-vocab tier — see
    BPE_FUSED_MAX_WORDS). Incremental pair maintenance: round 1 counts
    every word's adjacent symbol pairs once; each merge then re-counts
    ONLY the words whose encoding contains the merged pair (subtract
    old pairs, rewrite, add new), so 8 rounds cost far less than 8 full
    passes."""

    def kernel(pdf):
        import pandas as pd

        def pairs_of(enc: str) -> list[str]:
            syms = [s for s in enc.split("|") if s]
            return [f"{syms[i]} {syms[i + 1]}" for i in range(len(syms) - 1)]

        encs = pdf["enc"].tolist()
        nws = pdf["n_w"].tolist()
        counts: dict[str, int] = {}
        for enc, nw in zip(encs, nws):
            for p in pairs_of(enc):
                counts[p] = counts.get(p, 0) + nw
        merges = []
        for t in range(BPE_MERGES):
            if not counts:
                break
            # argmax by (n_pair DESC, pair ASC) — the distributed
            # orderBy(desc(n_pair), asc(pair)).limit(1)
            pair = min(counts, key=lambda p: (-counts[p], p))
            n_pair = counts[pair]
            if n_pair <= 0:
                break
            merges.append((t + 1, pair, n_pair))
            s1, s2 = pair.split(" ")
            old, new = f"{s1}|{s2}|", f"{s1}{s2}|"
            for i, enc in enumerate(encs):
                if old not in enc:
                    continue
                nw = nws[i]
                for p in pairs_of(enc):
                    counts[p] -= nw
                enc = enc.replace(old, new)
                encs[i] = enc
                for p in pairs_of(enc):
                    counts[p] = counts.get(p, 0) + nw
            counts = {p: n for p, n in counts.items() if n > 0}
        return pd.DataFrame(
            {
                "merge_idx": [m[0] for m in merges],
                "pair": [m[1] for m in merges],
                "n_pair": [m[2] for m in merges],
            }
        )

    out = (
        wf.groupBy(F.lit(1).alias("g"))
        .applyInPandas(kernel, "merge_idx int, pair string, n_pair bigint")
        .collect()
    )
    return [(int(r["merge_idx"]), r["pair"], int(r["n_pair"])) for r in out]


def _bpe_merge_rows(
    spark: SparkSession, sf_dir: str, fused_max_words: int = -1
) -> list[tuple[int, str, int]]:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
    wf = (
        words.where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .select(F.regexp_replace("w", "(.)", "$1|").alias("enc"), "n_w")
    )

    from ..reliability import pin, unpin

    cur = pin(wf, eager=False)
    # small-vocab tier (r15): the tier-sizing count is ALSO what
    # materializes the pinned distinct-word table, so the gate costs
    # no extra pass; pass fused_max_words=0 to force the per-round
    # distributed loop (tests)
    if fused_max_words < 0:
        fused_max_words = BPE_FUSED_MAX_WORDS
    if 0 < fused_max_words and cur.count() <= fused_max_words:
        rows = _bpe_fused_rows(cur)
        unpin(cur)
        return rows
    prev = None
    merges: list[tuple[int, str, int]] = []
    for t in range(BPE_MERGES):
        # stage the symbol array in its own projection — referencing the
        # higher-order split three times inline would re-evaluate it per
        # reference (the doc_repetition_stats CodegenFallback lesson)
        pairs = (
            cur.select(
                "n_w",
                F.expr(r"filter(split(enc, '\\|'), s -> s != '')").alias("syms"),
            )
            .where(F.size("syms") >= 2)
            .select(
                "n_w",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat(element_at(syms, i), ' ',"
                        " element_at(syms, i + 1)))"
                    )
                ).alias("pair"),
            )
        )
        # this argmax job is ALSO what materializes cur's lazy pin (built
        # from prev's pinned blocks), so the loop pays ONE job per merge
        # instead of argmax + an extra count() materializer — prev is
        # only released after cur has been realized from it
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n_w").cast("bigint").alias("n_pair"))
            .orderBy(F.desc("n_pair"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            unpin(prev)
        if not top:
            break
        pair, n_pair = top[0]["pair"], int(top[0]["n_pair"])
        merges.append((t + 1, pair, n_pair))
        s1, s2 = pair.split(" ")
        nxt = pin(
            cur.select(
                F.expr(f"replace(enc, '{s1}|{s2}|', '{s1}{s2}|')").alias("enc"),
                "n_w",
            ),
            eager=False,
        )
        prev, cur = cur, nxt
    unpin(cur)
    if prev is not None:
        unpin(prev)
    return merges


def _bpe_fit_ctes(k: int = BPE_MERGES) -> str:
    """The BPE training chain as CTEs: w0 (encoded distinct-word freq
    table) through w{k}, with p{t}/m{t} (pair counts / argmax) between.
    The rewrite LEFT-joins the argmax row so an early merge exhaustion
    (no pairs left) carries the vocabulary through unchanged — exactly
    the Spark loop's break semantics."""
    ctes = [
        f"""w0 AS (
    SELECT regexp_replace(w, '(.)', '\\1|', 'g') AS enc, count(*) AS n_w
    FROM (SELECT unnest({_DUCK_TOKENS}) AS w FROM documents)
    WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY 1
)"""
    ]
    legs = []
    for t in range(k):
        ctes.append(
            f"""p{t} AS (
    SELECT unnest([syms[i] || ' ' || syms[i + 1] FOR i IN range(1, len(syms))])
               AS pair,
           n_w
    FROM (
        SELECT list_filter(string_split(enc, '|'), s -> s != '') AS syms, n_w
        FROM w{t}
    ) WHERE len(syms) >= 2
),
m{t} AS (
    SELECT pair, n_pair FROM (
        SELECT pair, sum(n_w)::BIGINT AS n_pair,
               row_number() OVER (ORDER BY sum(n_w) DESC, pair ASC) AS rn
        FROM p{t} GROUP BY pair
    ) WHERE rn = 1
),
w{t + 1} AS (
    SELECT CASE WHEN m.pair IS NULL THEN w.enc
               ELSE replace(w.enc,
                            replace(m.pair, ' ', '|') || '|',
                            replace(m.pair, ' ', '') || '|') END AS enc,
           w.n_w
    FROM w{t} w LEFT JOIN m{t} m ON TRUE
)"""
        )
        legs.append(f"SELECT {t + 1} AS merge_idx, pair, n_pair FROM m{t}")
    _BPE_LEGS[k] = legs
    return ",\n".join(ctes)


#: merge-emission legs per k, filled by _bpe_fit_ctes (module-build time)
_BPE_LEGS: dict[int, list[str]] = {}


def _bpe_merge_oracle(k: int = BPE_MERGES) -> str:
    """bpe_merge_sequence mirrored: chained CTEs, one (pair-count →
    argmax → replace-rewrite) triple per merge (the kmeans/pagerank
    unrolled-iteration device)."""
    ctes = _bpe_fit_ctes(k)
    legs = _BPE_LEGS[k]
    return (
        "WITH "
        + ctes
        + "\nSELECT merge_idx, pair, n_pair FROM ("
        + " UNION ALL ".join(f"({s})" for s in legs)
        + ")"
    )


from ..functions import materialize_ctes as _mat

ORACLE["bpe_merge_sequence"] = _mat(_bpe_merge_oracle())


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply step — encode the corpus with the learned merge table
    and report what tokenizer training actually bought: distinct words,
    word instances, total character-symbols before, total symbols after
    the BPE_MERGES merges, and the corpus compression in ppm. This is
    the consumer of bpe_merge_sequence (the fit → apply pairing of
    quality_classifier_fit/score), and symbols-after is the token count
    this merge table would feed a model — the tokenizer-budget number.

    Scale: the merge table is ≤ BPE_MERGES collected rows (EAGER,
    bounded); encoding applies the SAME chain of narrow JVM string
    replaces training used — composed into ONE expression over the
    distinct-word table — then a single map-side-combined aggregate.
    The corpus never re-tokenizes per merge.
    """
    merges = sorted(
        (r["merge_idx"], r["pair"])
        for r in bpe_merge_sequence(spark, sf_dir).collect()
    )
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
    wf = (
        words.where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .select(F.regexp_replace("w", "(.)", "$1|").alias("enc"), "n_w")
    )
    expr = "enc"
    for _, pair in merges:
        s1, s2 = pair.split(" ")
        expr = f"replace({expr}, '{s1}|{s2}|', '{s1}{s2}|')"
    staged = wf.select(
        "n_w",
        F.expr(r"size(filter(split(enc, '\\|'), s -> s != ''))").alias("nc"),
        F.expr(
            rf"size(filter(split({expr}, '\\|'), s -> s != ''))"
        ).alias("ns"),
    )
    return staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.coalesce(F.sum("n_w"), F.lit(0)).cast("bigint").alias("n_word_instances"),
        F.coalesce(F.sum(F.col("n_w") * F.col("nc")), F.lit(0))
        .cast("bigint")
        .alias("n_chars"),
        F.coalesce(F.sum(F.col("n_w") * F.col("ns")), F.lit(0))
        .cast("bigint")
        .alias("n_symbols"),
    ).select(
        "*",
        F.expr(
            "((n_chars - n_symbols) * 1000000L) div nullif(n_chars, 0)"
        ).alias("saved_ppm"),
    )


ORACLE["bpe_encode_stats"] = _mat(
    "WITH "
    + _bpe_fit_ctes()
    + f""",
base AS (
    SELECT n_w, len(list_filter(string_split(enc, '|'), s -> s != '')) AS nc
    FROM w0
),
fin AS (
    SELECT n_w, len(list_filter(string_split(enc, '|'), s -> s != '')) AS ns
    FROM w{BPE_MERGES}
),
agg AS (
    SELECT (SELECT count(*) FROM w0)::BIGINT AS n_distinct_words,
           CAST(coalesce((SELECT sum(n_w) FROM w0), 0) AS BIGINT)
               AS n_word_instances,
           CAST(coalesce((SELECT sum(n_w * nc) FROM base), 0) AS BIGINT)
               AS n_chars,
           CAST(coalesce((SELECT sum(n_w * ns) FROM fin), 0) AS BIGINT)
               AS n_symbols
)
SELECT *,
       CAST((n_chars - n_symbols) * 1000000 // nullif(n_chars, 0) AS BIGINT)
           AS saved_ppm
FROM agg
"""
)


# ------------------------------------------------------------------ D76
def doc_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per document — the charset-level QC that
    catches what token-level heuristics miss: base64/hash blobs (digit
    + other heavy), SHOUTING boilerplate (upper-in-alpha share),
    markup/code dumps (low alpha share). CCNet/RefinedWeb-class
    pipelines gate on exactly these ratios before any model-based
    scoring, because they are one scan and kill the worst garbage
    first.

    Single narrow scan, zero shuffles, zero UDFs: each class count is
    one regexp_replace-length expression (the doc_quality device), all
    emission integer ppm via bigint div with nullif on empty docs;
    `is_texty` pins the alpha ≥ 50% cut as an integer
    cross-multiplication. Character classes are EXPLICIT ASCII sets
    ([a-zA-Z], [0-9], [ \\t\\n\\r\\f]) on both engines — a bare ``\\s``
    would diverge on U+000B, which Java includes and RE2 excludes.
    """
    docs = table(spark, sf_dir, "documents").withColumn(
        "t", F.coalesce(F.col("text"), F.lit(""))
    )
    n = F.length("t")
    alpha = n - F.length(F.regexp_replace("t", "[a-zA-Z]", ""))
    upper = n - F.length(F.regexp_replace("t", "[A-Z]", ""))
    digit = n - F.length(F.regexp_replace("t", "[0-9]", ""))
    ws = n - F.length(F.regexp_replace("t", "[ \\t\\n\\r\\f]", ""))
    base = docs.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        alpha.cast("bigint").alias("n_alpha"),
        upper.cast("bigint").alias("n_upper"),
        digit.cast("bigint").alias("n_digit"),
        ws.cast("bigint").alias("n_ws"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        F.expr("(n_alpha * 1000000L) div nullif(n_chars, 0)").alias("alpha_ppm"),
        F.expr("(n_upper * 1000000L) div nullif(n_alpha, 0)").alias(
            "upper_in_alpha_ppm"
        ),
        F.expr("(n_digit * 1000000L) div nullif(n_chars, 0)").alias("digit_ppm"),
        F.expr("(n_ws * 1000000L) div nullif(n_chars, 0)").alias("ws_ppm"),
        F.expr(
            "((n_chars - n_alpha - n_digit - n_ws) * 1000000L) div nullif(n_chars, 0)"
        ).alias("other_ppm"),
        (F.col("n_alpha") * 2 >= F.col("n_chars")).alias("is_texty"),
    )


ORACLE["doc_charset_stats"] = """
WITH base AS (
    SELECT doc_id,
           length(coalesce(text, '')) AS n_chars,
           length(coalesce(text, ''))
             - length(regexp_replace(coalesce(text, ''), '[a-zA-Z]', '', 'g')) AS n_alpha,
           length(coalesce(text, ''))
             - length(regexp_replace(coalesce(text, ''), '[A-Z]', '', 'g')) AS n_upper,
           length(coalesce(text, ''))
             - length(regexp_replace(coalesce(text, ''), '[0-9]', '', 'g')) AS n_digit,
           length(coalesce(text, ''))
             - length(regexp_replace(coalesce(text, ''), '[ \\t\\n\\r\\f]', '', 'g')) AS n_ws
    FROM documents
)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       CAST((n_alpha * 1000000) // nullif(n_chars, 0) AS BIGINT) AS alpha_ppm,
       CAST((n_upper * 1000000) // nullif(n_alpha, 0) AS BIGINT) AS upper_in_alpha_ppm,
       CAST((n_digit * 1000000) // nullif(n_chars, 0) AS BIGINT) AS digit_ppm,
       CAST((n_ws * 1000000) // nullif(n_chars, 0) AS BIGINT) AS ws_ppm,
       CAST(((n_chars - n_alpha - n_digit - n_ws) * 1000000) // nullif(n_chars, 0)
            AS BIGINT) AS other_ppm,
       (n_alpha * 2 >= n_chars) AS is_texty
FROM base
"""


# ------------------------------------------------------------------ D78
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document marginal novelty: the fraction of a doc's DISTINCT
    word trigrams whose corpus-wide FIRST appearance (minimum doc_id —
    stand-in for ingest order) is this doc. The data-valuation signal
    dedup-aware curation ranks on: a doc whose trigrams all debuted
    earlier adds no new sequences (novelty → 0, boilerplate and
    near-dups), a high-novelty doc is the one worth keeping when the
    token budget forces a choice. vocab_growth gives the corpus-level
    Heaps curve; this is its per-document attribution.

    Scale: tfidf's shuffle shape — explode → distinct (doc, gram) →
    groupBy(gram) min(doc_id) (map-side combined, skew-proof) →
    join-back → per-doc agg. No windows; gramless docs (< 3 tokens)
    surface with zeros via the left join (the dsir_importance device),
    so the output is total over documents. All-integer ppm emission.
    """
    docs = table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id",
            F.explode(word_ngrams(ws_tokens(F.lower(F.col("text"))), 3)).alias("g"),
        )
        .distinct()
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_distinct_grams", F.lit(0)).cast("bigint").alias(
            "n_distinct_grams"
        ),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.coalesce(
            F.expr("(n_novel * 1000000L) div nullif(n_distinct_grams, 0)"),
            F.lit(0),
        )
        .cast("bigint")
        .alias("novelty_ppm"),
    )


ORACLE["doc_ngram_novelty"] = f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           unnest([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) AS g
    FROM toks WHERE len(tk) >= 3
),
firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1),
per_doc AS (
    SELECT doc_id,
           count(*)::BIGINT AS n_distinct_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
    FROM grams JOIN firsts USING (g)
    GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_distinct_grams, 0)::BIGINT AS n_distinct_grams,
       coalesce(p.n_novel, 0)::BIGINT AS n_novel,
       coalesce(CAST((p.n_novel * 1000000) // nullif(p.n_distinct_grams, 0)
                     AS BIGINT), 0) AS novelty_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES = {
    "lang_id": lang_id,
    "bpe_pair_stats": bpe_pair_stats,
    "bpe_merge_sequence": bpe_merge_sequence,
    "bpe_encode_stats": bpe_encode_stats,
    "doc_charset_stats": doc_charset_stats,
    "doc_ngram_novelty": doc_ngram_novelty,
    "doc_repetition_stats": doc_repetition_stats,
    "langid_confusion": langid_confusion,
    "vocab_growth": vocab_growth,
    "source_overlap_jaccard": source_overlap_jaccard,
    "doc_entropy": doc_entropy,
    "doc_quality": doc_quality,
    "quality_gopher_rules": quality_gopher_rules,
    "quality_c4_rules": quality_c4_rules,
    "tokenizer_fertility": tokenizer_fertility,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "doc_rolling_fingerprint": doc_rolling_fingerprint,
}
