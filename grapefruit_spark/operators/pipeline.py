"""Composed LLM-data-pipeline flows (SURVEY §2 D13/D14): the operators
from text.py/dedup.py chained the way a real corpus-prep job runs them.
Both oracle-backed — the whole composition is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..reliability import pin
from .dedup import ORACLE as DEDUP_ORACLE  # noqa: F401  (kept adjacent for reference)
from .text import doc_quality, lang_id

ORACLE: dict[str, str] = {}

QUALITY_TAU = 0.5


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning end-to-end: exact-dedup keepers ∩ quality ≥ τ ∩
    confident lang-ID, emitting the surviving doc ids + metadata.

    Composition stays one lazy plan: Catalyst pushes the doc_id joins
    into each branch; nothing materializes between 'stages'. At 100 TB
    the three branches share the documents scan (same pruned columns).
    """
    docs = table(spark, sf_dir, "documents")
    from ..functions import md5_fingerprint

    keepers = (
        docs.select("doc_id", md5_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # integer threshold on the e6-scaled score: exact on both engines
    quality = doc_quality(spark, sf_dir).where(
        F.col("quality_e6") >= int(QUALITY_TAU * 1_000_000)
    ).select("doc_id", "quality_e6")
    lang = lang_id(spark, sf_dir).where(F.col("pred_lang") != "und").select(
        "doc_id", "pred_lang"
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(keepers, "doc_id")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
    )


def _oracle_quality_cte() -> str:
    from .text import ORACLE as TEXT_ORACLE

    return TEXT_ORACLE["doc_quality"].strip()


ORACLE["clean_corpus"] = f"""
WITH q AS ({_oracle_quality_cte()}),
keepers AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
),
lang_pred AS (
    SELECT * FROM ({{LANG_SQL}})
)
SELECT d.doc_id, d.source, d.n_chars, q.quality_e6, l.pred_lang
FROM documents d
JOIN keepers k ON d.doc_id = k.doc_id
JOIN q ON d.doc_id = q.doc_id AND q.quality_e6 >= {int(QUALITY_TAU * 1_000_000)}
JOIN lang_pred l ON d.doc_id = l.doc_id AND l.pred_lang != 'und'
"""


def _finalize_oracles() -> None:
    from .text import ORACLE as TEXT_ORACLE

    ORACLE["clean_corpus"] = ORACLE["clean_corpus"].replace(
        "{LANG_SQL}", TEXT_ORACLE["lang_id"].strip()
    )


_finalize_oracles()


def ingest_dedup(fs, fp_table: str, new_docs: DataFrame) -> DataFrame:
    """Incremental exact-dedup ingest: admit only documents whose content
    fingerprint has never been seen — across THIS batch and every prior
    batch — and durably extend the fingerprint set.

    The operational complement of the batch dedup queries: at 100 TB you
    dedup the corpus once, then every arriving increment checks against
    the stored fingerprint table (an anti-join against a dataset that is
    tiny relative to the corpus — 16 bytes/doc) instead of rescanning
    history. Within-batch duplicates resolve to the min doc_id first, so
    a batch containing its own copies admits exactly one.

    Returns the admitted documents; the fingerprint table under
    ``fp_table`` in the Sdfs namespace is updated atomically
    (merge = anti-join survivors ∪ updates + rename swap).
    """
    from ..functions import md5_fingerprint

    fp = new_docs.select(
        "doc_id", md5_fingerprint(F.col("text")).alias("fp")
    )
    batch_keep = (
        fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    )
    if fs.exists(fp_table):
        seen = fs.get(fp_table).select("fp")
        batch_keep = batch_keep.join(seen, "fp", "left_anti")
    admitted_ids = batch_keep.select("doc_id", "fp")
    # pin through the two consumers (merge write + returned join): the
    # anti-join against the stored set must not recompute per action
    admitted_ids = pin(admitted_ids)
    fs.merge(fp_table, admitted_ids.select("fp", "doc_id"), ["fp"])
    return new_docs.join(admitted_ids.select("doc_id"), "doc_id", "left_semi")


def ingest_neardup(fs, state: str, new_docs: DataFrame, tau: float | None = None) -> DataFrame:
    """Incremental NEAR-dup ingest (MinHash-LSH): admit a document only if
    no admitted document — stored from prior batches or a lower-id doc in
    this batch — shares an LSH band and estimates Jaccard ≥ τ.

    State is two Sdfs datasets: ``{state}_sigs`` (doc_id, 64-perm
    signature) and ``{state}_bands`` (doc_id, band key) — both linear in
    the ADMITTED corpus, and the band join touches only colliding
    candidates, so per-batch cost is O(batch × collisions), never a
    corpus rescan. Greedy lower-id-wins within a batch (same keeper
    family as dedup_clusters' component-min; a chain A~B~C with no A~C
    edge admits A only — over-rejecting relative to exact CC, never
    under-rejecting a true near-dup).
    """
    from .dedup import LSH_BANDS, LSH_ROWS, MINHASH_TAU, NUM_PERM, minhash_signatures

    tau = MINHASH_TAU if tau is None else tau
    from ..functions import band_keys

    sigs_new = pin(minhash_signatures(new_docs))
    bands_new = sigs_new.select(
        "doc_id", F.explode(band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sig", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(NUM_PERM)),
        6,
    )

    def _rejections(cand, other_sigs):
        """(doc_id, doc_b) candidates + other side's sigs → doc_ids with
        est ≥ τ against any doc_b."""
        return (
            cand.join(sigs_new.select("doc_id", "sig"), "doc_id")
            .join(other_sigs, "doc_b")
            .where(est >= F.lit(tau))
            .select("doc_id")
            .distinct()
        )

    rejected = None
    if fs.exists(f"{state}_bands"):
        stored_sigs = fs.get(f"{state}_sigs").select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
        )
        cand_stored = (
            bands_new.join(
                fs.get(f"{state}_bands").select(F.col("doc_id").alias("doc_b"), "bk"),
                "bk",
            )
            .select("doc_id", "doc_b")
            .distinct()
        )
        rejected = _rejections(cand_stored, stored_sigs)
    # in-batch: lower-id admitted docs shadow higher ids
    a, b = bands_new.alias("a"), bands_new.alias("b")
    cand_batch = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") > F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    batch_sigs = sigs_new.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    rej_batch = _rejections(cand_batch, batch_sigs)
    rejected = rej_batch if rejected is None else rejected.unionByName(rej_batch).distinct()

    admitted_sigs = pin(sigs_new.join(rejected, "doc_id", "left_anti"))
    fs.merge(f"{state}_sigs", admitted_sigs, ["doc_id"])
    fs.merge(
        f"{state}_bands",
        admitted_sigs.select(
            "doc_id", F.explode(band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
        ),
        ["doc_id"],
    )
    return new_docs.join(admitted_sigs.select("doc_id"), "doc_id", "left_semi")


def ingest_span_dedup(fs, state: str, new_docs: DataFrame) -> DataFrame:
    """Incremental exact-substring dedup (the arrival-time form of
    dedup_spans_apply): strip every 8-token span that duplicates a span
    STORED from prior batches or appears in ≥2 docs of this batch, then
    durably extend the span-fingerprint state with this batch's spans.

    The 100 TB shape: state is one 16-byte-keyed dataset linear in the
    corpus' distinct spans; an arriving batch joins it (never rescans
    history), within-batch dups reduce map-side, and removal is a per-doc
    array filter. Replaying a batch whose crash PRECEDED the state merge
    is idempotent (admission is deterministic); if the crash landed after
    the merge, a re-run sees its own spans already in state and strips
    them as history dups — recover by restoring the pre-batch state (the
    merge is an atomic swap, so the boundary is well-defined) rather
    than replaying over the merged state.

    Returns (doc_id, n_tokens, n_removed, clean_text).
    """
    from ..functions import normalize_text, word_ngrams, ws_tokens
    from .dedup import SPAN_W

    arr = pin(
        new_docs.select(
            "doc_id",
            ws_tokens(normalize_text(F.col("text"))).alias("toks"),
            F.transform(
                word_ngrams(ws_tokens(normalize_text(F.col("text"))), SPAN_W),
                lambda s: F.md5(s),
            ).alias("fps"),
        )
    )
    pos_fp = arr.select("doc_id", F.posexplode("fps").alias("pos", "fp"))
    batch_dups = (
        pos_fp.groupBy("fp", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    dup_fps = batch_dups
    if fs.exists(state):
        seen = fs.get(state).select("fp")
        # spans of this batch that history already contains
        dup_fps = (
            dup_fps.unionByName(
                pos_fp.select("fp").join(seen, "fp", "left_semi")
            ).distinct()
        )
    starts = (
        pos_fp.join(dup_fps, "fp")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("ss"))
    )
    joined = arr.join(starts, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
    )
    clean = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("ss"), lambda s: (s <= i) & (i <= s + F.lit(SPAN_W - 1))
        ),
    )
    out = pin(
        joined.select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size(clean)).alias("n_removed"),
            F.array_join(clean, " ").alias("clean_text"),
        )
    )
    # extend durable state with THIS batch's distinct spans (post-arrival
    # occurrences of them are duplicates by definition)
    fs.merge(state, pos_fp.select("fp").distinct(), ["fp"])
    return out


def ingest_corpus(fs, state: str, new_docs: DataFrame) -> DataFrame:
    """The full arrival-time curation gauntlet, one batch in → admitted
    docs out: quality gate → PII redaction → exact dedup vs stored
    fingerprints → near-dup rejection vs stored MinHash state. Each
    stage is the incremental form — nothing rescans the corpus — and the
    durable state (fingerprints, sigs, bands) extends atomically, so a
    crashed batch can simply re-run (admission is deterministic,
    re-merging the same keys is idempotent).
    """
    from ..functions import ws_tokens
    from .datapipe import redact_text

    n_tok = F.size(ws_tokens(F.col("text")))
    passing = new_docs.where(n_tok >= 5)
    clean = redact_text(passing).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    exact_ok = ingest_dedup(fs, f"{state}_fps", clean)
    return ingest_neardup(fs, state, exact_ok)


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus profile: doc count, token volume, vocab size, mean
    doc length — the numbers a data curator checks before training."""
    from ..functions import ws_tokens

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    return (
        docs.select(
            F.count(F.lit(1)).alias("n_docs"),
            # exact integer e4 means: (Σ · 10⁴) div n — no double round()
            F.expr("(sum(n_chars) * 10000L) div count(1)").alias("avg_chars_e4"),
        )
        .crossJoin(
            toks.agg(
                F.count(F.lit(1)).alias("total_tokens"),
                F.countDistinct("tok").alias("vocab_size"),
            )
        )
        .crossJoin(
            per_doc.agg(F.expr("(sum(n_tok) * 10000L) div count(1)").alias("avg_tokens_e4"))
        )
    )


ORACLE["corpus_stats"] = """
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                      t -> length(t) > 0)) AS tok
    FROM documents
),
per_doc AS (
    SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
)
SELECT (SELECT count(*) FROM documents)                            AS n_docs,
       (SELECT CAST((sum(n_chars) * 10000) // count(*) AS BIGINT)
        FROM documents)                                            AS avg_chars_e4,
       (SELECT count(*) FROM toks)                                 AS total_tokens,
       (SELECT count(DISTINCT tok) FROM toks)                      AS vocab_size,
       (SELECT CAST((sum(n_tok) * 10000) // count(*) AS BIGINT)
        FROM per_doc)                                              AS avg_tokens_e4
"""


def ingest_pipeline_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible exercise of the incremental ingest path (D35-D37):
    feed the documents table through ingest_corpus in two batches (even
    doc_ids, then odd) against a fresh state dir, and report the
    admission counts plus final state size. Deterministic for a given
    corpus (hash-based admission; the temp state dir never influences
    results). rows-only: the near-dup layer uses our MinHash family.
    """
    import tempfile

    from ..sdfs import Sdfs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="grapefruit_ingest_sim_") as wh:
        fs = Sdfs(spark, wh)
        n1 = ingest_corpus(fs, "sim", docs.where(F.col("doc_id") % 2 == 0)).count()
        n2 = ingest_corpus(fs, "sim", docs.where(F.col("doc_id") % 2 == 1)).count()
        n_state = fs.get("sim_sigs").count()
    return spark.createDataFrame(
        [(n1, n2, n_state)],
        "batch1_admitted long, batch2_admitted long, corpus_sigs long",
    )


def ingest_spans_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible exercise of incremental exact-substring dedup
    (D42): run the documents table through ingest_span_dedup in two
    batches (even doc_ids, then odd) against a fresh state dir and
    report tokens removed per batch plus the final span-state size.
    Deterministic for a given corpus. rows-only: multi-batch stateful.
    """
    import tempfile

    from ..sdfs import Sdfs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="grapefruit_spans_sim_") as wh:
        fs = Sdfs(spark, wh)
        b1 = ingest_span_dedup(fs, "spanstate", docs.where(F.col("doc_id") % 2 == 0))
        r1 = b1.agg(F.count(F.lit(1)), F.sum("n_removed")).collect()[0]
        b2 = ingest_span_dedup(fs, "spanstate", docs.where(F.col("doc_id") % 2 == 1))
        r2 = b2.agg(F.count(F.lit(1)), F.sum("n_removed")).collect()[0]
        n_state = fs.get("spanstate").count()
    return spark.createDataFrame(
        [(int(r1[0]), int(r1[1] or 0), int(r2[0]), int(r2[1] or 0), n_state)],
        "batch1_docs long, batch1_removed long, batch2_docs long, "
        "batch2_removed long, span_state long",
    )


def _ingest_spans_sim_oracle() -> str:
    """Two-batch replay of ingest_span_dedup in SQL: batch 1 (even
    doc_ids) strips spans duplicated within itself; batch 2 (odd) strips
    spans duplicated within itself OR already present in batch 1's
    merged state; the final state is the distinct span set of both.
    Reuses dedup_spans_apply's span/covered-token devices."""
    from .dedup import SPAN_W, _DUCK_NORM

    def rem(par: int, dup: str) -> str:
        return f"""(
    SELECT t.doc_id,
           len(t.toks) - len(list_filter(t.toks, (x, i) ->
               len(list_filter(coalesce(s.ss, CAST([] AS BIGINT[])),
                               y -> y <= i AND i <= y + {SPAN_W - 1})) = 0)) AS n_removed
    FROM toks t LEFT JOIN (
        SELECT doc_id, list(pos ORDER BY pos) AS ss
        FROM pos_fp JOIN {dup} USING (fp) WHERE par = {par} GROUP BY doc_id
    ) s USING (doc_id)
    WHERE t.doc_id % 2 = {par}
)"""

    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                       t -> length(t) > 0) AS toks
    FROM documents
),
fps AS (
    SELECT doc_id,
           [md5(array_to_string(toks[i:i+{SPAN_W - 1}], ' '))
            FOR i IN range(1, len(toks) - {SPAN_W - 2})] AS fps
    FROM toks WHERE len(toks) >= {SPAN_W}
),
pos_fp AS (
    SELECT doc_id, doc_id % 2 AS par, pos, fps[pos] AS fp
    FROM (SELECT doc_id, fps, unnest(range(1, len(fps) + 1)) AS pos FROM fps)
),
b1_dup AS (
    SELECT fp FROM (SELECT fp, doc_id FROM pos_fp WHERE par = 0 GROUP BY 1, 2)
    GROUP BY fp HAVING count(*) >= 2
),
state1 AS (SELECT DISTINCT fp FROM pos_fp WHERE par = 0),
b2_dup AS (
    SELECT fp FROM (SELECT fp, doc_id FROM pos_fp WHERE par = 1 GROUP BY 1, 2)
    GROUP BY fp HAVING count(*) >= 2
    UNION
    SELECT p.fp FROM pos_fp p JOIN state1 s USING (fp) WHERE p.par = 1
),
rem1 AS {rem(0, "b1_dup")},
rem2 AS {rem(1, "b2_dup")}
SELECT (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS batch1_docs,
       (SELECT CAST(coalesce(sum(n_removed), 0) AS BIGINT) FROM rem1) AS batch1_removed,
       (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS batch2_docs,
       (SELECT CAST(coalesce(sum(n_removed), 0) AS BIGINT) FROM rem2) AS batch2_removed,
       (SELECT count(DISTINCT fp) FROM pos_fp) AS span_state
"""


ORACLE["ingest_spans_sim"] = _ingest_spans_sim_oracle()


def _ingest_pipeline_sim_oracle() -> str:
    """Two-batch replay of ingest_corpus in SQL, stage for stage:
    quality gate (≥5 raw whitespace tokens) → PII redaction → exact
    dedup (batch-min per md5 fingerprint, then anti-join vs the fps the
    PRIOR batch's exact stage merged — the fp state extends before the
    near-dup stage runs) → near-dup rejection (MinHash band collision +
    est ≥ τ vs prior ADMITTED docs, and vs lower-id docs of the same
    batch). Feasible because the signature family is the SQL-portable
    md5_hash60 (see dedup._minhash_sig_ctes)."""
    from .datapipe import redact_sql
    from .dedup import (
        _EST_SQL,
        MINHASH_TAU,
        _band_cte,
        _minhash_sig_ctes,
    )

    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

    def tk(src: str, par: int, name: str) -> str:
        return f"""{name} AS (
    SELECT doc_id,
           list_filter(string_split_regex({norm}, '\\s+'),
                       t -> length(t) > 0) AS tks
    FROM {src}
),"""

    return f"""
WITH q AS (
    SELECT doc_id, text FROM documents
    WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
                          t -> length(t) > 0)) >= 5
),
red AS (
    -- the FULL redact_text chain (datapipe.redact_sql mirrors it —
    -- r14: email/phone/ssn/ip4/ip6 masks + the Luhn-verified CC fold)
    SELECT doc_id, doc_id % 2 AS par,
           {redact_sql("text")} AS text
    FROM q
),
fp AS (
    SELECT doc_id, par, md5({norm}) AS fp, text FROM red
),
e1 AS (
    SELECT f.doc_id, f.text FROM fp f
    JOIN (SELECT min(doc_id) AS doc_id FROM fp WHERE par = 0 GROUP BY fp) k
      USING (doc_id)
),
{tk("e1", 0, "tk1")}
{_minhash_sig_ctes("tk1", "s1")}
{_band_cte("s1sigs", "bands1")}
rej1 AS (
    SELECT DISTINCT a.doc_id
    FROM bands1 a JOIN bands1 b
      ON a.band = b.band AND a.key = b.key AND a.doc_id > b.doc_id
    JOIN s1sigs sa ON sa.doc_id = a.doc_id
    JOIN s1sigs sb ON sb.doc_id = b.doc_id
    WHERE {_EST_SQL} >= {MINHASH_TAU}
),
adm1 AS (
    SELECT doc_id, sig FROM s1sigs
    WHERE doc_id NOT IN (SELECT doc_id FROM rej1)
),
{_band_cte("adm1", "adm1_bands")}
e2 AS (
    SELECT f.doc_id, f.text FROM fp f
    JOIN (SELECT min(doc_id) AS doc_id FROM fp WHERE par = 1 GROUP BY fp) k
      USING (doc_id)
    WHERE f.fp NOT IN (SELECT f1.fp FROM fp f1 JOIN e1 USING (doc_id))
),
{tk("e2", 1, "tk2")}
{_minhash_sig_ctes("tk2", "s2")}
{_band_cte("s2sigs", "bands2")}
rej2 AS (
    SELECT DISTINCT a.doc_id
    FROM bands2 a JOIN adm1_bands b ON a.band = b.band AND a.key = b.key
    JOIN s2sigs sa ON sa.doc_id = a.doc_id
    JOIN adm1 sb ON sb.doc_id = b.doc_id
    WHERE {_EST_SQL} >= {MINHASH_TAU}
    UNION
    SELECT DISTINCT a.doc_id
    FROM bands2 a JOIN bands2 b
      ON a.band = b.band AND a.key = b.key AND a.doc_id > b.doc_id
    JOIN s2sigs sa ON sa.doc_id = a.doc_id
    JOIN s2sigs sb ON sb.doc_id = b.doc_id
    WHERE {_EST_SQL} >= {MINHASH_TAU}
),
adm2 AS (
    SELECT doc_id FROM s2sigs
    WHERE doc_id NOT IN (SELECT doc_id FROM rej2)
)
SELECT (SELECT count(*) FROM adm1) AS batch1_admitted,
       (SELECT count(*) FROM adm2) AS batch2_admitted,
       (SELECT count(*) FROM adm1) + (SELECT count(*) FROM adm2) AS corpus_sigs
"""


ORACLE["ingest_pipeline_sim"] = _ingest_pipeline_sim_oracle()


QUERIES = {
    "clean_corpus": clean_corpus,
    "corpus_stats": corpus_stats,
    "ingest_pipeline_sim": ingest_pipeline_sim,
    "ingest_spans_sim": ingest_spans_sim,
}
