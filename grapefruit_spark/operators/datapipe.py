"""Training-data pipeline plumbing (SURVEY §2 block D15-D19).

The corpus-management layer of an LLM data pipeline: deterministic
train/val/test splitting, stratified sampling, hash resharding, PII
redaction, and repetition-based quality signals. These mirror the
reference's file-level dataset management (SDFS put/partition,
`/root/reference/src/main/java/edu/cs425/mp3/MapleJuice.java:677` hash
partitioning of intermediate keys) re-expressed as content-hash
row-level ops — on Spark the "files" are rows and the partitioner is a
deterministic cross-engine hash.

Determinism contract: every split/sample/shard decision derives from
``md5(doc_id)`` — stable across engines, runs, partitionings, and
cluster sizes (never ``rand()``, which breaks retry/recompute
idempotence at scale: a re-executed task must re-derive identical
output). The first 8 hex chars give a uniform uint32; thresholds are
fractions of 2^32.

Scale: all ops are single-scan, shuffle-free (split/sample/redact are
narrow maps; shard counts shuffle only the 8-row shard aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, spread, table

ORACLE: dict[str, str] = {}

_U32 = 4294967296  # 2^32


def _bucket(col):
    """Deterministic uniform uint32 from a column (cross-engine: equals
    DuckDB's ('0x' || substring(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")


def _duck_bucket(expr: str) -> str:
    return f"('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"


# ------------------------------------------------------------------ D15
def split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split of documents.

    A narrow map — no shuffle, no rand(); membership is a pure function
    of doc_id so any subset of the corpus re-derives the same split.
    """
    docs = table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < int(0.90 * _U32), "train")
        .when(b < int(0.95 * _U32), "val")
        .otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("split")
    )


ORACLE["split_train_val"] = f"""
SELECT CASE WHEN {_duck_bucket('doc_id')} < {int(0.90 * _U32)} THEN 'train'
            WHEN {_duck_bucket('doc_id')} < {int(0.95 * _U32)} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
ORDER BY split
"""


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a near-dup
    cluster splits by its cluster KEEPER's hash, so a train doc can
    never be a near-duplicate of a val/test doc — the eval-contamination
    rule a pretraining pipeline enforces BEFORE splitting (splitting
    first and deduping later silently leaks).

    Composition: exact n-gram-Jaccard pair graph → connected components
    (graph.jaccard_clusters) → split on the keeper id, not the doc id.
    Docs outside the pair graph key on themselves. The cluster-map join
    is UNHINTED (r9, same rationale as dedup_keep_best): cluster
    membership scales with the corpus's duplicate mass, so a forced
    broadcast is an executor OOM at 100 TB — AQE still broadcasts it
    wherever it actually fits. The split itself stays a narrow map. A
    pytest asserts the invariant directly: no near-dup pair straddles a
    split boundary.
    """
    from .graph import jaccard_clusters

    docs = table(spark, sf_dir, "documents")
    clusters = jaccard_clusters(spark, sf_dir)
    keyed = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("keep_doc_id", F.col("doc_id")).alias("split_key"),
    )
    b = _bucket(F.col("split_key"))
    split = (
        F.when(b < int(0.90 * _U32), "train")
        .when(b < int(0.95 * _U32), "val")
        .otherwise("test")
    )
    return (
        keyed.select("doc_id", "split_key", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") != F.col("split_key")).cast("long")).alias(
                "n_followers"
            ),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("split")
    )


def _split_leakage_safe_oracle() -> str:
    from .graph import _jaccard_clusters_oracle

    case = (
        f"CASE WHEN {_duck_bucket('split_key')} < {int(0.90 * _U32)} THEN 'train'\n"
        f"     WHEN {_duck_bucket('split_key')} < {int(0.95 * _U32)} THEN 'val'\n"
        f"     ELSE 'test' END"
    )
    return f"""
WITH keyed AS (
    SELECT d.doc_id, coalesce(cc.keep_doc_id, d.doc_id) AS split_key
    FROM documents d LEFT JOIN ({_jaccard_clusters_oracle()}) cc
      ON d.doc_id = cc.doc_id
)
SELECT {case} AS split,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id != split_key THEN 1 ELSE 0 END) AS BIGINT)
           AS n_followers,
       min(doc_id) AS min_doc_id
FROM keyed
GROUP BY 1
ORDER BY split
"""


ORACLE["split_leakage_safe"] = _split_leakage_safe_oracle()


# ------------------------------------------------------------------ D16
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% per-source stratified sample (doc list).

    Hash-threshold sampling keeps the per-stratum rate exact in
    expectation and reproducible exactly — unlike df.sample(), whose
    output depends on partitioning. Returns the sampled doc ids so the
    oracle verifies membership, not just counts.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.where(_bucket(F.col("doc_id")) < int(0.10 * _U32))
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


ORACLE["sample_stratified"] = f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_duck_bucket('doc_id')} < {int(0.10 * _U32)}
ORDER BY doc_id
"""


# ------------------------------------------------------------------ D17
def reshard_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-reshard the corpus into 8 balanced shards; returns per-shard
    stats. This is the MapleJuice intermediate-file partitioner
    (hash(key) % N) as a row-level op; ``write_shards`` below does the
    actual partitioned write.
    """
    docs = table(spark, sf_dir, "documents")
    shard = (_bucket(F.col("doc_id")) % 8).alias("shard")
    return (
        docs.select(shard, "n_chars")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("shard")
    )


ORACLE["reshard_by_hash"] = f"""
SELECT {_duck_bucket('doc_id')} % 8 AS shard,
       count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY 1
ORDER BY shard
"""


def write_shards(spark: SparkSession, sf_dir: str, out_dir: str, n_shards: int = 8) -> None:
    """Materialize the reshard: one directory per shard via partitioned
    parquet write (repartition on the shard id so each output file is a
    single shard's data — the writer does the final placement)."""
    docs = table(spark, sf_dir, "documents")
    shard = (_bucket(F.col("doc_id")) % n_shards).alias("shard")
    (
        docs.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_dir)
    )


# ------------------------------------------------------------------ D18
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
#: r14 classes (VERDICT_r13 #5). Shape-matchers in the RE2 ∩ Java
#: common dialect (no backrefs, no lookaround): SSN 3-2-4, dotted-quad
#: IPv4 (octet-shape, not range-validated — documented), full-form
#: IPv6 (compressed :: forms need backtracking both dialects lack), and
#: credit-card candidates as 4-4-4-{1..4} separated groups or a plain
#: 13-19 digit run — candidates then pass integer Luhn verification
#: before masking, so fake non-Luhn numbers flow through unmasked.
_SSN_RE = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
_IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
_IPV6_RE = "\\b(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}\\b"
_CC_RE = "\\b(?:[0-9]{4}[- ]){3}[0-9]{1,4}\\b|\\b[0-9]{13,19}\\b"

#: masking order, applied identically on both engines; CC candidates
#: are extracted AFTER the five regex masks so a digit run that is part
#: of an email/phone/SSN/IP counts once, under its own class
_REGEX_MASKS = (
    (_EMAIL_RE, "<EMAIL>"),
    (_PHONE_RE, "<PHONE>"),
    (_SSN_RE, "<SSN>"),
    (_IPV4_RE, "<IPV4>"),
    (_IPV6_RE, "<IPV6>"),
)


def _luhn_ok(cand):
    """Integer Luhn checksum of a candidate Column (separators
    stripped): from the rightmost digit, every second digit doubles
    (−9 when ≥ 10), total ≡ 0 (mod 10). Pure integer expression —
    the DuckDB mirror (_duck_luhn) runs the identical arithmetic."""
    d = F.reverse(F.regexp_replace(cand, "[^0-9]", ""))
    chars = F.split(d, "")

    def term(i):
        v = F.element_at(chars, i).cast("int")
        return F.when(
            i % 2 == 0, v * 2 - F.when(v >= 5, 9).otherwise(0)
        ).otherwise(v)

    tot = F.aggregate(
        F.sequence(F.lit(1), F.length(d)),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return tot % 10 == 0


def _masked5(c):
    out = c
    for pat, tag in _REGEX_MASKS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: mask emails, phone numbers, SSNs, IPv4/IPv6
    addresses, and LUHN-VERIFIED credit-card numbers; report per-class
    match counts (n_cc_like counts card-shaped candidates, n_cc only
    the Luhn-valid ones that actually mask).

    Narrow map, JVM regex + integer higher-order Luhn (no Python UDF
    anywhere). The synthetic corpus carries no PII, so the oracle run
    verifies exact pass-through + zero counts; tests/test_datapipe.py
    plants every class — including a non-Luhn card shape that must
    flow through unmasked on BOTH engines.
    """
    # r14: catalog.spread — six regex classes per row otherwise run
    # inside the one-task local scan; per-row map, partitioning-free
    docs = spread(table(spark, sf_dir, "documents"))
    return redact_text(docs).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ssn",
        "n_ipv4",
        "n_ipv6",
        "n_cc_like",
        "n_cc",
        F.md5("clean_text").alias("clean_md5"),
    )


def redact_text(docs: DataFrame, col: str = "text") -> DataFrame:
    """Reusable redaction transform over any frame with a text column.

    Regex classes mask unconditionally; credit-card candidates are
    extracted from the already-masked text, Luhn-verified with integer
    arithmetic, and the valid ones removed by a literal-replace fold
    (F.aggregate) — value-dependent masking a single regexp_replace
    cannot express."""
    c = F.col(col)
    masked = _masked5(c)
    cands = F.regexp_extract_all(masked, F.lit(_CC_RE), 0)
    valid = F.filter(cands, _luhn_ok)
    out = docs
    for name, pat in (
        ("n_email", _EMAIL_RE),
        ("n_phone", _PHONE_RE),
        ("n_ssn", _SSN_RE),
        ("n_ipv4", _IPV4_RE),
        ("n_ipv6", _IPV6_RE),
    ):
        out = out.withColumn(name, F.regexp_count(c, F.lit(pat)))
    return (
        out.withColumn("n_cc_like", F.size(cands))
        .withColumn("n_cc", F.size(valid))
        .withColumn(
            "clean_text",
            F.aggregate(
                valid,
                masked,
                lambda acc, cc: F.replace(acc, cc, F.lit("<CC>")),
            ),
        )
    )


def _duck_luhn(cand: str) -> str:
    """DuckDB mirror of _luhn_ok over a candidate SQL expression."""
    rev = f"reverse(regexp_replace({cand}, '[^0-9]', '', 'g'))"
    v = f"CAST(substring({rev}, i, 1) AS INT)"
    return (
        f"(list_sum(list_transform(range(1, length({rev}) + 1), "
        f"i -> CASE WHEN i % 2 = 0 THEN 2*{v} - "
        f"CASE WHEN {v} >= 5 THEN 9 ELSE 0 END ELSE {v} END)) % 10 = 0)"
    )


def redact_sql(col: str) -> str:
    """The full redaction chain as one DuckDB expression over ``col`` —
    shared by pii_redact's oracle and the ingest-pipeline oracle so the
    two engines' clean text can never drift apart."""
    masked = col
    for pat, tag in _REGEX_MASKS:
        masked = f"regexp_replace({masked}, '{pat}', '{tag}', 'g')"
    valid = (
        f"list_filter(regexp_extract_all({masked}, '{_CC_RE}'), "
        f"cand -> {_duck_luhn('cand')})"
    )
    return (
        f"list_reduce(list_prepend({masked}, {valid}), "
        f"(acc, cc) -> replace(acc, cc, '<CC>'))"
    )


def _masked5_sql(col: str) -> str:
    masked = col
    for pat, tag in _REGEX_MASKS:
        masked = f"regexp_replace({masked}, '{pat}', '{tag}', 'g')"
    return masked


ORACLE["pii_redact"] = f"""
WITH m AS (
    SELECT doc_id, text, {_masked5_sql("text")} AS masked FROM documents
),
cc AS (
    SELECT doc_id,
           regexp_extract_all(masked, '{_CC_RE}') AS cands,
           list_filter(regexp_extract_all(masked, '{_CC_RE}'),
                       cand -> {_duck_luhn("cand")}) AS valid,
           masked, text
    FROM m
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}'))::INT AS n_email,
       len(regexp_extract_all(text, '{_PHONE_RE}'))::INT AS n_phone,
       len(regexp_extract_all(text, '{_SSN_RE}'))::INT AS n_ssn,
       len(regexp_extract_all(text, '{_IPV4_RE}'))::INT AS n_ipv4,
       len(regexp_extract_all(text, '{_IPV6_RE}'))::INT AS n_ipv6,
       len(cands)::INT AS n_cc_like,
       len(valid)::INT AS n_cc,
       md5(list_reduce(list_prepend(masked, valid),
                       (acc, cc) -> replace(acc, cc, '<CC>'))) AS clean_md5
FROM cc
"""


# ------------------------------------------------------------------ D19
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction and
    top-bigram fraction per document.

    Pure array expressions (split / array_distinct / transform /
    aggregate) — whole-stage-codegen'd JVM work, no shuffle, no UDF.
    """
    # stage the split ONCE: the old bigram lambda re-split the text per
    # element (element_at(split(text), i+2) → O(n²) chars per doc)
    staged = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )
    words = F.col("words")
    nw = F.size(words)
    # bigram list = zip_with(words[:-1], words[1:]) joined with '\x01'
    bigrams = F.zip_with(
        F.slice(words, 1, nw - 1),
        F.slice(words, 2, nw - 1),
        lambda a, b: F.concat(a, F.lit("\x01"), b),
    )
    # max count of any single bigram = longest equal-run in the SORTED
    # array — O(B log B) and one evaluation of the bigram expression,
    # vs the naive per-distinct filter() which is O(B^2) per document
    # (84 s → ~1 s for this query at sf0.1)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_bigram = F.aggregate(F.array_sort(bigrams), init, _step, lambda acc: acc["best"])
    n_bigrams = F.size(bigrams)
    # integer ppm ratios: exact bigint `div` on both engines, immune to
    # the cross-engine double-round() last-ulp drift a driver-side value
    # distribution could expose
    staged = staged.select(
        "doc_id",
        (nw - F.size(F.array_distinct(words))).cast("bigint").alias("n_dup"),
        nw.cast("bigint").alias("nw"),
        top_bigram.cast("bigint").alias("top_bg"),
        n_bigrams.cast("bigint").alias("n_bg"),
    )
    return staged.select(
        "doc_id",
        F.expr("(n_dup * 1000000L) div nw").alias("dup_word_ppm"),
        F.expr("(nullif(top_bg, 0L) * 1000000L) div nullif(n_bg, 0L)").alias(
            "top_bigram_ppm"
        ),
    )


ORACLE["quality_repetition"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), b AS (
  SELECT doc_id, words,
         [words[i] || chr(1) || words[i+1] FOR i IN range(1, len(words))] AS bigrams
  FROM w
)
SELECT doc_id,
       ((len(words) - len(list_distinct(words))) * 1000000) // len(words) AS dup_word_ppm,
       (nullif(list_max([len(list_filter(bigrams, x -> x = bg)) FOR bg IN list_distinct(bigrams)]), 0) * 1000000)
             // nullif(len(bigrams), 0) AS top_bigram_ppm
FROM b
"""


# ------------------------------------------------------------------ D20
PACK_BUDGET = 2048
PACK_SHARDS = 8


def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: fill fixed token budgets
    with documents, per shard, in deterministic doc_id order.

    Streaming-friendly quantized packing — pack_id = floor(preceding
    cumulative tokens / budget) — so assignment is a window cumsum, not a
    stateful first-fit scan; a pack overflows its budget by at most one
    document (standard concat-and-chunk behavior in LLM data loaders).
    One shuffle on shard; the cumsum and the pack rollup share it.
    """
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    from ..functions import ws_tokens

    n_tok = F.size(ws_tokens(F.col("text")))
    shard = (_bucket(F.col("doc_id")) % PACK_SHARDS).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        docs.select(shard, "doc_id", n_tok.alias("n_tok"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("pack_id", F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET))
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            # fill in basis points: exact bigint div on both engines
            F.expr(f"(sum(n_tok) * 10000L) div {PACK_BUDGET}L").alias("fill_bp"),
        )
        .orderBy("shard", "pack_id")
    )


ORACLE["seq_packing"] = f"""
WITH toks AS (
    SELECT {_duck_bucket('doc_id')} % {PACK_SHARDS} AS shard, doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS n_tok
    FROM documents
),
packed AS (
    SELECT shard, doc_id, n_tok,
           sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
)
SELECT shard, ((cum - n_tok) // {PACK_BUDGET})::BIGINT AS pack_id,
       count(*) AS n_docs,
       sum(n_tok)::BIGINT AS pack_tokens,
       CAST((sum(n_tok) * 10000) // {PACK_BUDGET} AS BIGINT) AS fill_bp
FROM packed
GROUP BY 1, 2
ORDER BY shard, pack_id
"""


# ----------------------------------------------------------------- D59
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report per shard: what seq_packing's
    concat-and-chunk assignment actually COSTS the token budget. Per
    shard: pack count vs the LP lower bound ceil(tokens/budget) —
    the floor no packer can beat — as overhead_ppm; the token mass a
    budget-truncating loader would cut from overflowing packs
    (trunc_ppm of total tokens); and the padding a pad-to-budget
    loader would add to underfull packs (pad_ppm of capacity). The
    three numbers are the tuning dials for PACK_BUDGET vs the corpus'
    doc-length distribution.

    Same single shard shuffle as seq_packing (the pack frame is the
    shared window cumsum), then an O(packs) rollup. All-integer.
    """
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    from ..functions import ws_tokens

    n_tok = F.size(ws_tokens(F.col("text")))
    shard = (_bucket(F.col("doc_id")) % PACK_SHARDS).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packs = (
        docs.select(shard, "doc_id", n_tok.alias("n_tok"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("pack_id", F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET))
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )
    b = F.lit(PACK_BUDGET).cast("bigint")
    return (
        packs.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.sum(F.greatest(F.col("pack_tokens") - b, F.lit(0).cast("bigint"))).alias(
                "trunc_tokens"
            ),
            F.sum(F.greatest(b - F.col("pack_tokens"), F.lit(0).cast("bigint"))).alias(
                "pad_tokens"
            ),
        )
        .select(
            "shard",
            "n_docs",
            "n_packs",
            "total_tokens",
            F.expr(f"(total_tokens + {PACK_BUDGET}L - 1L) div {PACK_BUDGET}L").alias(
                "lb_packs"
            ),
            F.expr(
                f"((n_packs - (total_tokens + {PACK_BUDGET}L - 1L) div {PACK_BUDGET}L)"
                f" * 1000000L) div greatest((total_tokens + {PACK_BUDGET}L - 1L)"
                f" div {PACK_BUDGET}L, 1L)"
            ).alias("overhead_ppm"),
            "trunc_tokens",
            F.expr("(trunc_tokens * 1000000L) div greatest(total_tokens, 1L)").alias(
                "trunc_ppm"
            ),
            "pad_tokens",
            F.expr(f"(pad_tokens * 1000000L) div (n_packs * {PACK_BUDGET}L)").alias(
                "pad_ppm"
            ),
        )
        .orderBy("shard")
    )


ORACLE["packing_efficiency"] = f"""
WITH toks AS (
    SELECT {_duck_bucket('doc_id')} % {PACK_SHARDS} AS shard, doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS n_tok
    FROM documents
),
packed AS (
    SELECT shard, doc_id, n_tok,
           sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
),
packs AS (
    SELECT shard, (cum - n_tok) // {PACK_BUDGET} AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2
),
agg AS (
    SELECT shard,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           count(*) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(greatest(pack_tokens - {PACK_BUDGET}, 0)) AS BIGINT) AS trunc_tokens,
           CAST(sum(greatest({PACK_BUDGET} - pack_tokens, 0)) AS BIGINT) AS pad_tokens
    FROM packs GROUP BY shard
)
SELECT shard, n_docs, n_packs, total_tokens,
       CAST((total_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET} AS BIGINT) AS lb_packs,
       CAST(((n_packs - (total_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET}) * 1000000)
            // greatest((total_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET}, 1)
            AS BIGINT) AS overhead_ppm,
       trunc_tokens,
       CAST((trunc_tokens * 1000000) // greatest(total_tokens, 1) AS BIGINT) AS trunc_ppm,
       pad_tokens,
       CAST((pad_tokens * 1000000) // (n_packs * {PACK_BUDGET}) AS BIGINT) AS pad_ppm
FROM agg
ORDER BY shard
"""


# ------------------------------------------------------------------ D21
DECON_N = 5  # n-gram size; eval membership: doc_id % DECON_MOD == 0
DECON_MOD = 97


def _decon_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grams) with DECON_N-gram 62-bit hash keys — the shared
    gram pipeline of decontaminate_ngrams and contamination_report
    (pure extraction, r10; the emission is byte-identical)."""
    from ..functions import MINHASH_P, normalize_text, ws_tokens

    docs = table(spark, sf_dir, "documents")
    # Gram keys WITHOUT building gram strings: hash each token once into
    # two independent 31-bit streams, then fold DECON_N consecutive
    # hashes arithmetically and pack both folds into one 62-bit key
    # (ANSI-safe: every intermediate < 2^62). Same dedup_minhash trick;
    # counts identical to string grams barring a ~2^-62 collision.
    mult = 1_000_003

    def _th(seed: int):
        return F.transform(
            ws_tokens(normalize_text(F.col("text"))),
            lambda t: F.pmod(F.xxhash64(t, F.lit(seed)), F.lit(MINHASH_P)),
        )

    def _fold(col: str, i):
        g = F.element_at(F.col(col), i + 1)
        for k in range(1, DECON_N):
            g = (g * F.lit(mult) + F.element_at(F.col(col), i + 1 + k)) % F.lit(MINHASH_P)
        return g

    grams = F.when(
        F.size("th1") >= DECON_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("th1") - DECON_N),
                lambda i: _fold("th1", i) * F.lit(1 << 31) + _fold("th2", i),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return docs.select("doc_id", _th(1).alias("th1"), _th(2).alias("th2")).select(
        "doc_id", grams.alias("grams")
    )


def _decon_xpl(df: DataFrame) -> DataFrame:
    # explode_outer, NOT explode: plain explode triggers
    # InferFiltersFromGenerate, whose size(grams)>0 predicate is pushed
    # to the scan with the whole gram pipeline inlined PER element_at —
    # measured ~100× slower. The null-filter after the generate is free.
    return df.select("doc_id", F.explode_outer("grams").alias("gram")).where(
        F.col("gram").isNotNull()
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    normalized 5-gram with the held-out eval slice (doc_id % 97 == 0 is
    the stand-in benchmark set).

    The eval n-gram set is tiny relative to the corpus at any scale
    (benchmarks are fixed-size), so it broadcasts and the training scan
    never shuffles its exploded grams — the standard decontamination
    shape (e.g. GPT-3 appendix C) as one broadcast semi-join + count.
    """
    gdf = _decon_gram_frame(spark, sf_dir)
    is_eval = F.col("doc_id") % DECON_MOD == 0
    eval_grams = _decon_xpl(gdf.where(is_eval)).select("gram").distinct()
    train = _decon_xpl(gdf.where(~is_eval))
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc contamination report (r10, D55): the benchmark
    owner's view of decontaminate_ngrams — for each eval doc, how many
    of its 5-grams exist in the training corpus and how widely
    (n_hit / hit_ppm / sum+max train document frequency). A benchmark
    with hit_ppm near 10⁶ is memorized, not measured.

    Scale shape: the train gram stream is FIRST semi-joined against the
    broadcast eval-gram set (bounded — benchmarks are fixed-size), so
    the per-gram train_df aggregate runs over contaminating grams only;
    the final join back to eval pairs is bounded by eval grams. No
    eval_doc × train_doc pair frame ever materializes — a single hot
    gram (a boilerplate 5-gram in millions of train docs) contributes
    one train_df row, not millions of pairs.

    Eval docs shorter than DECON_N tokens have no grams and are absent,
    like every gram-based op here.
    """
    gdf = _decon_gram_frame(spark, sf_dir)
    is_eval = F.col("doc_id") % DECON_MOD == 0
    ev_pairs = _decon_xpl(gdf.where(is_eval))
    eval_gram_set = ev_pairs.select("gram").distinct()
    train_df_per_gram = (
        _decon_xpl(gdf.where(~is_eval))
        .join(F.broadcast(eval_gram_set), "gram")
        .groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("train_df"))
    )
    return (
        ev_pairs.join(train_df_per_gram, "gram", "left")
        .groupBy(F.col("doc_id").alias("eval_doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("train_df").alias("n_hit"),
            F.coalesce(F.sum("train_df"), F.lit(0)).cast("bigint").alias(
                "sum_train_df"
            ),
            F.coalesce(F.max("train_df"), F.lit(0)).cast("bigint").alias(
                "max_train_df"
            ),
        )
        .select(
            "eval_doc_id",
            "n_grams",
            "n_hit",
            "sum_train_df",
            "max_train_df",
            F.expr("(n_hit * 1000000L) div n_grams").alias("hit_ppm"),
        )
        .orderBy("eval_doc_id")
    )


_DUCK_NORM_TXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
ORACLE["decontaminate_ngrams"] = f"""
WITH g AS (
    SELECT doc_id,
           list_distinct([
               array_to_string(toks[i:i+{DECON_N - 1}], ' ')
               FOR i IN range(1, len(toks) - {DECON_N - 2})
           ]) AS grams
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex({_DUCK_NORM_TXT}, '\\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    )
    WHERE len(toks) >= {DECON_N}
),
ev AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} = 0
),
tr AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} != 0
)
SELECT doc_id, count(*) AS n_shared_grams
FROM tr JOIN ev USING (gram)
GROUP BY doc_id
ORDER BY doc_id
"""

ORACLE["contamination_report"] = f"""
WITH g AS (
    SELECT doc_id,
           list_distinct([
               array_to_string(toks[i:i+{DECON_N - 1}], ' ')
               FOR i IN range(1, len(toks) - {DECON_N - 2})
           ]) AS grams
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex({_DUCK_NORM_TXT}, '\\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    )
    WHERE len(toks) >= {DECON_N}
),
evp AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} = 0
),
tr AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} != 0
),
tg AS (
    SELECT tr.gram, count(DISTINCT tr.doc_id) AS train_df
    FROM tr JOIN (SELECT DISTINCT gram FROM evp) e USING (gram)
    GROUP BY 1
)
SELECT evp.doc_id AS eval_doc_id,
       count(*) AS n_grams,
       CAST(count(tg.train_df) AS BIGINT) AS n_hit,
       CAST(coalesce(sum(tg.train_df), 0) AS BIGINT) AS sum_train_df,
       CAST(coalesce(max(tg.train_df), 0) AS BIGINT) AS max_train_df,
       CAST(count(tg.train_df) * 1000000 // count(*) AS BIGINT) AS hit_ppm
FROM evp LEFT JOIN tg USING (gram)
GROUP BY 1
ORDER BY 1
"""


# ------------------------------------------------------------------ D22
CHUNK_TOKENS = 128
CHUNK_STRIDE = 96  # 32-token overlap


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into fixed-size overlapping token windows (the
    context-window prep step before packing/training).

    sequence() + explode generates chunk starts JVM-side — no UDF, rows
    fan out ~n_tok/stride per doc, a narrow map with no shuffle. The
    final short window is kept iff it adds new tokens (start < n_tok).
    """
    from ..functions import ws_tokens

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(ws_tokens(F.col("text")))
    starts = F.sequence(F.lit(0), F.greatest(n_tok - 1, F.lit(0)), F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", n_tok.alias("n_tok"), F.explode(starts).alias("start_tok"))
        .where((F.col("start_tok") == 0) | (F.col("start_tok") < F.col("n_tok")))
        .select(
            "doc_id",
            (F.col("start_tok") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            "start_tok",
            F.least(F.col("n_tok") - F.col("start_tok"), F.lit(CHUNK_TOKENS)).alias("chunk_tokens"),
        )
    )


ORACLE["doc_chunking"] = f"""
WITH base AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS n_tok
    FROM documents
)
SELECT doc_id,
       (start_tok // {CHUNK_STRIDE})::INT AS chunk_id,
       start_tok,
       least(n_tok - start_tok, {CHUNK_TOKENS}) AS chunk_tokens
FROM (
    SELECT doc_id, n_tok, unnest(range(0, greatest(n_tok, 1), {CHUNK_STRIDE})) AS start_tok
    FROM base
)
WHERE start_tok = 0 OR start_tok < n_tok
"""


# ------------------------------------------------------------------ D23
def shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: position = rank of
    md5(seed, doc_id). Reproducible across runs/cluster sizes (unlike
    orderBy(rand())), and any worker can re-derive its slice. Returns
    the first 100 positions (the driver-gate-sized sample of the
    permutation; the full ordering is the same expression unlimited).
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    # TakeOrdered picks the 100 finalists; the rank window then runs on
    # 100 rows, not the corpus
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
        .select(
            F.row_number().over(Window.orderBy("shuffle_key")).alias("position"),
            "doc_id",
            "shuffle_key",
        )
    )


ORACLE["shuffle_order"] = """
SELECT row_number() OVER (ORDER BY shuffle_key) AS position, doc_id, shuffle_key
FROM (
    SELECT doc_id, md5('epoch0:' || doc_id::VARCHAR) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
)
"""


def shuffle_order_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL deterministic training permutation — shuffle_order
    proves the ordering contract on a 100-row sample; this row proves
    the permutation PRIMITIVE at corpus scale: every document gets its
    exact global position, with no unpartitioned sort anywhere.

    Scale (the events_pareto_share device): the keyed frame is range-
    partitioned on the shuffle key, row_number runs PER RANGE PARTITION
    (each task sorts ~n/P rows), and the exact global position is the
    local rank plus the partition's row offset — offsets come from an
    O(P)-row count frame whose cumsum window is bounded by config, not
    data. This is exactly how a 100 TB epoch shuffle materializes:
    one range shuffle, then embarrassingly-parallel local sorts.

    Determinism: the key md5(seed, doc_id) is collision-free in
    practice and NULL-safe (doc_id coalesced to ''); rows sharing a key
    (duplicate/NULL doc_ids) tie-break by doc_id, and since such rows
    are value-identical, whichever consecutive positions they receive
    yield the same emitted row SET in both engines.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(
            F.lit("epoch0:"), F.coalesce(F.col("doc_id").cast("string"), F.lit(""))
        )
    )
    keyed = docs.select("doc_id", key.alias("shuffle_key"))
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = keyed.repartitionByRange(
        nparts, F.asc("shuffle_key"), F.asc("doc_id")
    ).withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(
        F.asc("shuffle_key"), F.asc("doc_id")
    )
    local = ranged.withColumn("_rn", F.row_number().over(w_local))
    sizes = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        (F.col("_rn") + F.col("_off")).cast("bigint").alias("position"),
        "doc_id",
        "shuffle_key",
    )


ORACLE["shuffle_order_full"] = """
SELECT row_number() OVER (ORDER BY shuffle_key, doc_id) AS position,
       doc_id, shuffle_key
FROM (
    SELECT doc_id,
           md5('epoch0:' || coalesce(doc_id::VARCHAR, '')) AS shuffle_key
    FROM documents
)
"""




# ------------------------------------------------------------------ D24
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile of a table in ONE scan: null rate,
    distinct count, min/max per column, melted to a row per column.

    The single wide aggregate computes every column's stats together —
    a naive profiler runs one job per column and rescans the table N
    times; at 100 TB that is N scans of 100 TB.
    """
    orders = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    # melt FIRST, then a two-level aggregate keyed by (column, value):
    # the partial agg collapses to distinct values map-side, the shuffle
    # carries |distinct| rows per column, and the final agg parallelizes
    # across columns. The multi-countDistinct alternative Expands every
    # row ×(N+1) and funnels the whole table into a single global agg —
    # measured 2.5× slower here and a single-reducer chokepoint at 100 TB.
    melted = orders.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"), F.col(c).cast("string").alias("v")
                )
                for c in cols
            ])
        ).alias("p")
    ).select("p.*")
    return (
        melted.groupBy("col_name", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("col_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_nulls"),
            F.count(F.when(F.col("v").isNotNull(), 1)).alias("n_distinct"),
            F.min("v").alias("min_str"),
            F.max("v").alias("max_str"),
        )
        .orderBy("col_name")
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
_profile_arms = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c}::VARCHAR) AS min_str, max({c}::VARCHAR) AS max_str
FROM orders"""
    for c in _PROFILE_COLS
)
ORACLE["profile_orders"] = f"SELECT * FROM ({_profile_arms}) ORDER BY col_name"


# ------------------------------------------------------------------ D25
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite over the warehouse, one row per
    check: key uniqueness, referential integrity (orders→customer,
    lineitem→orders), domain bounds. Violations counted, not thrown —
    the report IS the product (deequ/great-expectations shape).

    Each check is an independent aggregate over a pruned scan; the
    anti-joins broadcast the (deduped) key sets being probed.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    lineitem = table(spark, sf_dir, "lineitem")

    dup_orderkeys = (
        orders.groupBy("o_orderkey").count().where(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("unique_o_orderkey").alias("check_name"), "violations")
    )
    orphan_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_customer_fk").alias("check_name"), "violations")
    )
    orphan_lines = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orders_fk").alias("check_name"), "violations")
    )
    bad_price = (
        orders.where(F.col("o_totalprice") <= 0)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("positive_totalprice").alias("check_name"), "violations")
    )
    bad_discount = (
        lineitem.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("discount_in_unit_range").alias("check_name"), "violations")
    )
    return (
        dup_orderkeys.unionByName(orphan_orders)
        .unionByName(orphan_lines)
        .unionByName(bad_price)
        .unionByName(bad_discount)
        .withColumn("passed", F.col("violations") == 0)
        .orderBy("check_name")
    )


ORACLE["validate_constraints"] = """
SELECT check_name, violations, violations = 0 AS passed FROM (
    SELECT 'unique_o_orderkey' AS check_name,
           (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) AS violations
    UNION ALL
    SELECT 'orders_customer_fk',
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_orders_fk',
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'positive_totalprice',
           (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'discount_in_unit_range',
           (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
)
ORDER BY check_name
"""


# ------------------------------------------------------------------ D30
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: exactly min(k, |group|) docs per
    language, chosen by md5(doc_id) order (a seedless, engine-portable
    "random" order). The per-group-budget counterpart of the rate-based
    ``sample_stratified`` — what you use to balance a corpus across
    languages/domains before training.

    One shuffle (the lang window); the rank predicate prunes everything
    past k per group before the final project.
    """
    from pyspark.sql.window import Window

    k = 50
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_bucket(F.col("doc_id")), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= k)
    )


ORACLE["sample_k_per_group"] = f"""
SELECT doc_id, lang, rk FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {_duck_bucket('doc_id')}, doc_id
           ) AS rk
    FROM documents
)
WHERE rk <= 50
"""


# ----------------------------------------------------------------- D68
SOURCE_CAP = 15
#: 60-bit md5 hash → 256 histogram buckets (high 8 bits, order-preserving)
_CAP_BUCKET_DIV = 1 << 52


def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency cap: keep exactly min(SOURCE_CAP, |source|) docs per
    source, chosen by md5(doc_id) order — the dedupe-adjacent step that
    stops one crawl dump from dominating a training mix.

    This is the SKEW-BOUNDED tier of ``sample_k_per_group``: that op's
    ``row_number() OVER (PARTITION BY group)`` funnels a whale group
    (English ≈ half of any web corpus) through ONE task at 100 TB. Here
    no task ever sees more than ~1/256 of one source:

    1. bucket = high 8 bits of the 60-bit hash (order-preserving), so
       per-(source, bucket) counts are an O(sources × 256) frame;
    2. the cumulative pass over that TINY frame finds each source's
       boundary bucket and how many rows to take from it — the
       ``doc_perplexity_buckets`` histogram-threshold device applied to
       top-k selection;
    3. buckets below the boundary are kept with a broadcast
       semi-join filter (no ranking at all — the bulk of the keepers);
       only the boundary bucket's rows (~|source|/256) are ranked, in a
       window partitioned by (source, bucket).

    Selection is EXACTLY the per-source (hash, doc_id) top-k — the
    bucket prefix is monotone in the hash — so the oracle is the plain
    windowed rank. Raise the bucket width with scale the way
    NEARDUP_CHUNKS scales: it is a task-size knob, not a semantics one.
    """
    from pyspark.sql.window import Window

    from ..functions import md5_hash60

    docs = table(spark, sf_dir, "documents").select("source", "doc_id")
    d = docs.withColumn(
        "h", md5_hash60(F.col("doc_id").cast("string"), salt="cap")
    ).withColumn("b", F.expr(f"h div {_CAP_BUCKET_DIV}"))
    counts = d.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum", F.sum("c").over(wcum))
    # per-source boundary: first bucket whose cumulative count reaches
    # the cap, and the number still to take from it (≥1, ≤ its count);
    # sources under the cap produce no row here → kept outright below
    info = (
        cum.where(F.col("cum") >= SOURCE_CAP)
        .groupBy("source")
        .agg(
            F.min_by(F.col("b"), F.col("b")).alias("bb"),
            (
                F.lit(SOURCE_CAP)
                - F.min_by(F.col("cum") - F.col("c"), F.col("b"))
            ).alias("take_n"),
        )
    )
    with_info = d.join(F.broadcast(info), "source", "left")
    below = with_info.where(F.col("bb").isNull() | (F.col("b") < F.col("bb")))
    wq = Window.partitionBy("source", "b").orderBy("h", "doc_id")
    at_boundary = (
        with_info.where(F.col("b") == F.col("bb"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= F.col("take_n"))
    )
    return (
        below.select("source", "doc_id")
        .unionByName(at_boundary.select("source", "doc_id"))
        .orderBy("source", "doc_id")
    )


def _source_cap_oracle() -> str:
    from ..functions import md5_hash60_sql

    return f"""
SELECT source, doc_id FROM (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_hash60_sql("CAST(doc_id AS VARCHAR)", salt="cap")},
                        doc_id
           ) AS rk
    FROM documents
)
WHERE rk <= {SOURCE_CAP}
ORDER BY source, doc_id
"""


ORACLE["source_cap_sample"] = _source_cap_oracle()


# ------------------------------------------------------------------ D34
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: each doc is kept with probability
    equal to its quality score (P(keep) = score), decided by the same
    deterministic hash-threshold device as the other sampling ops — so
    the sampled corpus is exactly reproducible on any cluster layout and
    any corpus subset, unlike rand()-based sampling.

    Shape: the quality score is a narrow per-row expression and the keep
    decision is a pure function of (doc_id, score) — zero shuffles
    before the (tiny) audit aggregate. Emits kept doc ids + scores so
    the oracle checks exact membership.
    """
    from .text import doc_quality

    # keep threshold from the e6-scaled integer score: (q_e6 * 2^32) div
    # 10^6 is exact bigint math, so membership can never flip on a float
    q = doc_quality(spark, sf_dir).select("doc_id", "quality_e6")
    return (
        q.where(_bucket(F.col("doc_id")) < F.expr(f"(quality_e6 * {_U32}L) div 1000000L"))
        .orderBy("doc_id")
    )


def _quality_cte() -> str:
    from .text import ORACLE as TEXT_ORACLE

    return TEXT_ORACLE["doc_quality"].strip()


ORACLE["quality_weighted_sample"] = f"""
WITH q AS ({{QUALITY_SQL}})
SELECT doc_id, quality_e6
FROM q
WHERE {_duck_bucket('doc_id')} < (quality_e6 * {_U32}) // 1000000
ORDER BY doc_id
"""


def _finalize_quality_oracle() -> None:
    ORACLE["quality_weighted_sample"] = ORACLE["quality_weighted_sample"].replace(
        "{QUALITY_SQL}", _quality_cte()
    )


_finalize_quality_oracle()


# ------------------------------------------------------------------ D32
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a uniform domain mixture: every `source`
    domain is hash-downsampled to the size of the smallest domain — the
    mixture-reweighting step of training-data curation (sampling rates
    per domain, applied deterministically so any re-run or backfill
    reproduces the same corpus).

    Shape: one tiny groupBy for domain counts (broadcast back), then a
    narrow hash-threshold filter over the corpus — no corpus shuffle at
    all. Membership is a pure function of doc_id, so the sample stays
    stable under repartitioning/cluster resize. Returns per-domain
    audit stats; the kept doc set itself is the filtered frame.
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_domain"))
    min_n = counts.agg(F.min("n_domain").alias("n_min"))
    rates = counts.join(F.broadcast(min_n)).select(
        "source",
        "n_domain",
        # floor() in BOTH engines: Spark double→bigint truncates while
        # DuckDB rounds, so the threshold must be floored explicitly
        F.floor(F.col("n_min") / F.col("n_domain") * _U32).alias("thresh"),
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .where(_bucket(F.col("doc_id")) < F.col("thresh"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .join(rates.select("source", "n_domain"), "source")
        .orderBy("source")
    )


ORACLE["domain_mix_sample"] = f"""
WITH counts AS (
    SELECT source, count(*) AS n_domain FROM documents GROUP BY 1
),
rates AS (
    SELECT source, n_domain,
           floor(CAST((SELECT min(n_domain) FROM counts) AS DOUBLE)
                 / n_domain * {_U32}) AS thresh
    FROM counts
)
SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS min_doc_id,
       any_value(r.n_domain) AS n_domain
FROM documents d JOIN rates r USING (source)
WHERE {_duck_bucket('d.doc_id')} < r.thresh
GROUP BY 1
ORDER BY d.source
"""


# ----------------------------------------------------------------- D61
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (Conneau & Lample 2019;
    XLM-R / mT5 α-sampling, α = 0.5): target share p_i ∝ n_i^α flattens
    the language distribution so high-resource languages stop drowning
    the tail. Downsample-only realization: per-language keep rate
    min(1, p_i·N / n_i) applied as a deterministic md5-threshold filter
    (languages above their temperature share shrink, the tail keeps
    rate 1 — upsampling is the loader's job, not the filter's).

    Cross-engine exactness: the α-weight is q_i = floor(√n_i · 10⁶)
    (sqrt is IEEE-correctly-rounded in both engines, the floor pins the
    one remaining ulp), Q = Σq_i sums exact bigints, shares emit as
    integer ppm, and only the keep threshold is a double chain —
    mirrored operation-for-operation in the oracle. Shape: one tiny
    language groupBy broadcast back, then a narrow filter — the corpus
    itself never shuffles (domain_mix_sample's shape, temperature
    weights instead of uniform).
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = counts.agg(
        F.sum("n_lang").alias("n_total"),
        F.sum(F.floor(F.sqrt(F.col("n_lang").cast("double")) * 1000000).cast("bigint")).alias(
            "q_total"
        ),
    )
    rates = counts.join(F.broadcast(tot)).select(
        "lang",
        "n_lang",
        "n_total",
        F.floor(F.sqrt(F.col("n_lang").cast("double")) * 1000000)
        .cast("bigint")
        .alias("q_weight"),
        "q_total",
    )
    rates = rates.select(
        "lang",
        "n_lang",
        F.expr("(q_weight * 1000000L) div q_total").alias("share_ppm"),
        F.expr("(n_lang * 1000000L) div n_total").alias("natural_ppm"),
        F.least(
            F.lit(_U32).cast("bigint"),
            F.floor(
                F.col("q_weight").cast("double")
                * F.col("n_total").cast("double")
                / (F.col("q_total").cast("double") * F.col("n_lang").cast("double"))
                * _U32
            ).cast("bigint"),
        ).alias("thresh"),
    )
    kept = docs.join(F.broadcast(rates), "lang").where(
        _bucket(F.col("doc_id")) < F.col("thresh")
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_doc_id"))
        .join(rates, "lang")
        .select(
            "lang", "n_lang", "share_ppm", "natural_ppm", "thresh",
            "n_kept", "min_doc_id",
        )
        .orderBy("lang")
    )


ORACLE["sample_temperature"] = f"""
WITH counts AS (
    SELECT lang, count(*) AS n_lang,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS q_weight
    FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
           CAST(sum(q_weight) AS BIGINT) AS q_total
    FROM counts
),
rates AS (
    SELECT lang, n_lang,
           CAST((q_weight * 1000000) // q_total AS BIGINT) AS share_ppm,
           CAST((n_lang * 1000000) // n_total AS BIGINT) AS natural_ppm,
           least(CAST({_U32} AS BIGINT),
                 CAST(floor(CAST(q_weight AS DOUBLE) * CAST(n_total AS DOUBLE)
                            / (CAST(q_total AS DOUBLE) * CAST(n_lang AS DOUBLE))
                            * {_U32}) AS BIGINT)) AS thresh
    FROM counts CROSS JOIN tot
)
SELECT d.lang,
       any_value(r.n_lang) AS n_lang,
       any_value(r.share_ppm) AS share_ppm,
       any_value(r.natural_ppm) AS natural_ppm,
       any_value(r.thresh) AS thresh,
       count(*) AS n_kept,
       min(d.doc_id) AS min_doc_id
FROM documents d JOIN rates r USING (lang)
WHERE {_duck_bucket('d.doc_id')} < r.thresh
GROUP BY 1
ORDER BY d.lang
"""


def write_layout_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible clustered-layout round trip (E7/E8): write the
    orders table in sorted layout (range-partitioned on o_orderdate) and
    Z-order layout (Morton-interleaved o_custkey × o_totalprice) to a
    temp location, read both back, and emit one identical profile row
    per layout. A write path that loses, duplicates, or corrupts any row
    breaks the hash; the layout's PRUNING properties (disjoint ranges,
    tight footer stats) stay footer-asserted in pytest where they
    belong."""
    import os
    import tempfile

    from ..reliability import pin
    from ..sources.io import write_sorted, write_zorder

    orders = table(spark, sf_dir, "orders")

    def profile(base: str, layout: str) -> DataFrame:
        back = read_parquet(spark, os.path.join(base, layout))
        return back.select(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total"),
        )

    with tempfile.TemporaryDirectory(prefix="grapefruit_layout_sim_") as base:
        write_sorted(orders, os.path.join(base, "sorted"), ["o_orderdate"])
        write_zorder(
            orders, os.path.join(base, "zorder"), ["o_custkey", "o_totalprice"]
        )
        return pin(profile(base, "sorted").unionByName(profile(base, "zorder")))


_LAYOUT_PROFILE_SQL = """
SELECT '{layout}' AS layout, count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_custkeys,
       round(sum((o_totalprice)::DECIMAL(18,6)), 2)::DOUBLE AS total
FROM orders
"""

ORACLE["write_layout_sim"] = (
    _LAYOUT_PROFILE_SQL.format(layout="sorted")
    + " UNION ALL "
    + _LAYOUT_PROFILE_SQL.format(layout="zorder")
)


# ------------------------------------------------------------------ D73
def data_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning table for a token BUDGET (the Pile / Gopher /
    DoReMi-static recipe): per source, the natural token share, the
    temperature-α target share (α = 0.5 over TOKEN counts, the
    sample_temperature weight applied to the right axis — docs lie
    about volume, tokens don't), the planned token draw for a budget of
    one corpus-size pass, and the implied EPOCH factor (×10⁴):
    epochs_e4 > 10⁴ means the source repeats (the upsampling number
    The Pile's table 1 discloses per component), < 10⁴ means it is
    subsampled. This is the planning complement of sample_temperature,
    which FILTERS docs; loaders consume this table directly.

    Scale: the corpus collapses to O(sources) rows in ONE map-side-
    combined groupBy over an in-row token count (no explode — the scan
    stays narrow); totals are a 1-row broadcast. Nothing else touches
    the corpus. All-integer emission: α-weights via the exact
    floor(√n·10⁶) device, shares in ppm by bigint div, zero-token
    sources guarded by nullif so the plan is total on hostile corpora.
    """
    from ..functions import ws_tokens

    docs = table(spark, sf_dir, "documents")
    per_src = docs.select(
        "source", F.size(ws_tokens(F.col("text"))).alias("nt")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n_tokens"),
    )
    weighted = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("bigint")
        .alias("q_weight"),
    )
    tot = weighted.agg(
        F.sum("n_tokens").alias("t_tokens"), F.sum("q_weight").alias("t_q")
    )
    return (
        weighted.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(n_tokens * 1000000L) div nullif(t_tokens, 0)").alias(
                "natural_ppm"
            ),
            F.expr("(q_weight * 1000000L) div nullif(t_q, 0)").alias("target_ppm"),
            F.expr(
                "(((q_weight * 1000000L) div nullif(t_q, 0)) * t_tokens) div 1000000L"
            ).alias("planned_tokens"),
            F.expr(
                "((((q_weight * 1000000L) div nullif(t_q, 0)) * t_tokens)"
                " div 1000000L) * 10000L div nullif(n_tokens, 0)"
            ).alias("epochs_e4"),
        )
        .orderBy("source")
    )


ORACLE["data_mix_plan"] = """
WITH per_src AS (
    SELECT source, count(*) AS n_docs,
           CAST(coalesce(sum(len(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               t -> length(t) > 0))), 0) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
weighted AS (
    SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
              AS q_weight
    FROM per_src
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
           CAST(sum(q_weight) AS BIGINT) AS t_q
    FROM weighted
)
SELECT source, n_docs,
       n_tokens,
       CAST((n_tokens * 1000000) // nullif(t_tokens, 0) AS BIGINT) AS natural_ppm,
       CAST((q_weight * 1000000) // nullif(t_q, 0) AS BIGINT) AS target_ppm,
       CAST((((q_weight * 1000000) // nullif(t_q, 0)) * t_tokens) // 1000000
            AS BIGINT) AS planned_tokens,
       CAST(((((q_weight * 1000000) // nullif(t_q, 0)) * t_tokens) // 1000000)
            * 10000 // nullif(n_tokens, 0) AS BIGINT) AS epochs_e4
FROM weighted CROSS JOIN tot
ORDER BY source
"""


QUERIES = {
    "split_train_val": split_train_val,
    "data_mix_plan": data_mix_plan,
    "split_leakage_safe": split_leakage_safe,
    "write_layout_sim": write_layout_sim,
    "domain_mix_sample": domain_mix_sample,
    "quality_weighted_sample": quality_weighted_sample,
    "sample_k_per_group": sample_k_per_group,
    "source_cap_sample": source_cap_sample,
    "seq_packing": seq_packing,
    "packing_efficiency": packing_efficiency,
    "sample_temperature": sample_temperature,
    "decontaminate_ngrams": decontaminate_ngrams,
    "contamination_report": contamination_report,
    "doc_chunking": doc_chunking,
    "shuffle_order": shuffle_order,
    "shuffle_order_full": shuffle_order_full,
    "profile_orders": profile_orders,
    "validate_constraints": validate_constraints,
    "sample_stratified": sample_stratified,
    "reshard_by_hash": reshard_by_hash,
    "pii_redact": pii_redact,
    "quality_repetition": quality_repetition,
}
