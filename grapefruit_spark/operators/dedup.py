"""Deduplication operators over documents (SURVEY §2 D1-D4).

Exact dedup and n-gram Jaccard carry DuckDB oracles; MinHash-LSH and
SimHash are sketch-based (our deterministic hash family) → rows-only gate
plus planted-duplicate pytest coverage.

Scale shape: every variant is candidate-generation (cheap, bucketed,
uniform shuffle keys) → exact verify (only on candidates). No cross join,
no driver collect; LSH band keys are prefixed with the band index so one
hot bucket value can't skew a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import (
    band_keys,
    md5_fingerprint,
    normalize_text,
    word_ngrams,
    ws_tokens,
)

ORACLE: dict[str, str] = {}

SHINGLE_N = 3
NUM_PERM = 64
LSH_BANDS = 16
LSH_ROWS = 4  # bands * rows == num_perm
MINHASH_TAU = 0.5
JACCARD_TAU = 0.08
#: document-frequency cap on shingle postings before the pair self-join.
#: A shingle appearing in d docs contributes d*(d-1)/2 candidate rows — one
#: boilerplate shingle (page header, license blurb) with df=10^6 would emit
#: 5*10^11 pairs. Shingles that common carry no near-dup signal (CCNet /
#: Lee et al. dedup practice), so they are dropped from the INTERSECTION
#: while full gram counts still feed the union/containment denominators.
SHINGLE_DF_CAP = 1000

_DUCK_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _spread(docs: DataFrame) -> DataFrame:
    """Conditional scan fan-out — generalized into catalog.spread in r14
    (single-row-group local files scan in one task; cluster-scale no-op);
    kept as the historical dedup-side name."""
    from ..catalog import spread

    return spread(docs)


# ------------------------------------------------------------------ D1
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5(normalized text) → group size + keeper id.

    The canonical 100 TB shape: one hash-shuffle on a 16-byte key; the
    keeper (min doc_id) replaces the reference pattern of rewriting one
    retained file per SDFS key-group.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", md5_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


ORACLE["dedup_exact"] = f"""
SELECT md5({_DUCK_NORM}) AS fp,
       count(*)          AS n_docs,
       min(doc_id)       AS keep_doc_id
FROM documents
GROUP BY 1
"""


#: containment threshold as an exact rational (1/2): the τ filter and the
#: prefix bound are pure integer comparisons — no doubles anywhere in D4.
CONTAIN_TAU = 0.5
CONTAIN_NUM, CONTAIN_DEN = 1, 2


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A| ≥ τ —
    catches documents swallowed by a larger one, which symmetric Jaccard
    misses (a quote inside a long page scores low J but high C).

    Prefix-filtered (Bayardo et al., WWW'07): candidates come from
    joining each doc's df-ascending PREFIX shingles against the full
    capped postings (the pair's smaller side carries the pigeonhole
    guarantee, and its partner may be any size, so the probe side is the
    prefix and the index side is full) — then exact verify by array
    intersection on the candidates only. τ = 1/2 exactly, so both the
    prune bound and the filter are integer comparisons.
    """
    idx = _gram_index(spark, sf_dir)
    pp = _prefix_posting(idx, CONTAIN_NUM, CONTAIN_DEN)
    fp = idx.select("doc_id", "n_grams", F.explode("rare_grams").alias("gram"))
    # positional filter on the prefix side: the pair needs overlap
    # t = ⌈τ·min(na,nb)⌉ and the first collision at pos bounds it by
    # n_rare − pos (suffix of the prefix side).
    t_pair = F.expr(
        f"({CONTAIN_NUM} * least(p.n_grams, f.n_grams) + {CONTAIN_DEN - 1})"
        f" div {CONTAIN_DEN}"
    )
    cands = (
        pp.alias("p")
        .join(
            fp.alias("f"),
            (F.col("p.gram") == F.col("f.gram"))
            & (F.col("p.doc_id") != F.col("f.doc_id"))
            & (F.col("p.n_rare") - F.col("p.pos") >= t_pair),
        )
        .select(
            F.least(F.col("p.doc_id"), F.col("f.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.doc_id"), F.col("f.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # τ filter with ONE intersection occurrence, evaluated inside the
    # verify join (see _verify_candidates): 2s ≥ na OR 2s ≥ nb ⟺
    # 2s ≥ least(na, nb), and na,nb ≥ 1 makes it imply s > 0 — the
    # dropped n_inter > 0 pre-filter — so the surviving row set is
    # bit-identical to the old filter-on-column formulation.
    scored = _verify_candidates(
        cands,
        idx,
        keep=F.lit(CONTAIN_DEN) * _vc_s()
        >= F.lit(CONTAIN_NUM) * F.least(F.col("na"), F.col("nb")),
    )
    return (
        scored
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.expr("(n_inter * 1000000L) div na").alias("contain_ab_ppm"),
            F.expr("(n_inter * 1000000L) div nb").alias("contain_ba_ppm"),
        )
    )


# ------------------------------------------------------------------ D4
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.array_distinct(
            word_ngrams(ws_tokens(normalize_text(F.col("text"))), SHINGLE_N)
        ).alias("grams"),
    )


def _gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc D4 index: full shingle count + the doc's df-CAPPED grams
    sorted by the global (df ASC, gram ASC) order — the canonical prefix-
    filtering order (rarest first), shared by the Jaccard and containment
    joins AND their verify stage.

    groupBy(gram) is skew-proof (map-side partial counts); hot grams
    (df > SHINGLE_DF_CAP) are dropped from the intersection sets while
    full sizes still feed the denominators. Pinned (one materialization)
    because candidate generation and verification both read it.
    """
    from ..reliability import pin

    # materialize hashed shingles ONCE: project-collapse otherwise
    # inlines the (regex+ngram) expression into every downstream branch —
    # and into Generate, which re-evaluates it per EXPLODED row (~50× per
    # doc). A pin is the only reliable barrier; at cluster scale this is
    # the "write the shingle table" step of a dedup pipeline. Grams are
    # xxhash64'd inside the array so no 40-byte gram string ever shuffles
    # — df counting, the prefix join, and the verify intersection all run
    # on 8-byte longs. |A∩B| over injective-w.h.p. hashes equals the
    # string intersection (collision odds ~|grams|²/2⁶⁴ ≈ 1e-11 at sf0.1,
    # re-hashable with a different seed if ever hit), so the DuckDB
    # oracle keeps the plain string-set semantics.
    sh = _doc_shingles(spark, sf_dir)
    base = pin(
        sh.select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            F.transform("grams", lambda g: F.xxhash64(g)).alias("hs"),
        ).where(F.col("n_grams") > 0)
    )
    # n_grams rides the posting rows (8 B each) so the per-doc array
    # rebuild needs no join back to base — one fewer exchange. Docs whose
    # EVERY gram is hot drop out of the index entirely, which is safe:
    # both pair joins and the verify stage only ever probe docs that
    # collided on at least one rare gram.
    posting = base.select("doc_id", "n_grams", F.explode("hs").alias("h"))
    rare_df = (
        posting.groupBy("h")
        .agg(F.count(F.lit(1)).alias("gram_df"))
        .where(F.col("gram_df") <= SHINGLE_DF_CAP)
    )
    idx = (
        posting.join(rare_df, "h")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.array_sort(F.collect_list(F.struct("gram_df", "h"))).alias("o"),
        )
        .select("doc_id", "n_grams", F.col("o.h").alias("rare_grams"))
    )
    return pin(idx)


def _prefix_posting(idx: DataFrame, num: int, den: int) -> DataFrame:
    """Prefix postings for overlap threshold τ = num/den (exact rational).

    A qualifying pair must share t = ⌈τ·n⌉ grams with τ anchored to this
    doc's own full size n, so a collision is guaranteed inside the first
    |rare| − t + 1 grams under the global df-ascending order (pigeonhole)
    — the hottest grams land in the suffix and never generate candidates.
    ⌈num·n/den⌉ = (num·n + den−1) div den keeps the bound integer-exact.

    Carries (pos, n_rare, n_grams) per posting for the PPJoin positional
    filter: the pair's FIRST (global-order) collision bounds the overlap
    by 1 + min(remaining_a, remaining_b), so collisions too close to both
    suffix ends can be dropped before the pair ever materializes.
    """
    t = F.expr(f"({num} * n_grams + {den - 1}) div {den}")
    plen = F.greatest(F.lit(0).cast("long"), F.size("rare_grams") - t + F.lit(1))
    return idx.select(
        "doc_id",
        "n_grams",
        F.size("rare_grams").alias("n_rare"),
        F.posexplode(F.slice("rare_grams", F.lit(1), plen)).alias("pos", "gram"),
    )


def _verify_candidates(cands: DataFrame, idx: DataFrame, keep=None) -> DataFrame:
    """Exact |A∩B| for candidate pairs via array intersection of the two
    docs' capped gram sets — O(candidates), replacing the old posting
    count-join whose cost was Σdf² over every surviving gram.

    ``keep``: optional τ filter as a Column over (na, nb) and the
    single-occurrence intersection size `_vc_s()` — it MUST imply
    n_inter > 0 (every τ ≥ some positive overlap does). Passing the τ
    check here instead of filtering the returned n_inter column matters
    for cost, not semantics: the optimizer pushes a post-projection
    filter into the verify join's condition, where each textual
    occurrence of array_intersect is evaluated PER CANDIDATE (no
    common-subexpression elimination in join-condition codegen) — the
    r14 measurement showed 811k candidates paying 3 intersections each
    to keep 278 pairs at sf0.1. With ``keep`` the condition carries ONE
    intersection, and the n_inter output column is only computed for
    survivors."""
    ia = idx.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_grams").alias("na"),
        F.col("rare_grams").alias("ga"),
    )
    ib = idx.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_grams").alias("nb"),
        F.col("rare_grams").alias("gb"),
    )
    joined = cands.join(ia, "doc_a").join(ib, "doc_b")
    joined = joined.where(_vc_s() > 0 if keep is None else keep)
    return joined.withColumn("n_inter", _vc_s())


def _vc_s():
    """The verify intersection size |A∩B| (one textual occurrence per
    use site — see _verify_candidates cost note)."""
    return F.size(F.array_intersect("ga", "gb"))


#: shared oracle CTEs: the SEMANTIC definition of the capped pair space —
#: the prefix filter is an equivalence-preserving Spark-side optimization
#: (any global order yields the same verified pairs), so the oracle stays
#: the plain inverted-index join DuckDB handles trivially at oracle scale.
_DUCK_PAIR_CTES = f"""shingles AS ({{shingles}}),
posting AS (
    SELECT doc_id, unnest(grams) AS gram FROM shingles
),
capped AS (
    SELECT doc_id, gram FROM (
        SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS gram_df
        FROM posting
    ) WHERE gram_df <= {SHINGLE_DF_CAP}
),
sizes AS (
    SELECT doc_id, len(grams) AS n_grams FROM shingles WHERE len(grams) > 0
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM capped a JOIN capped b
      ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""


_DUCK_SHINGLES = f"""
    SELECT doc_id,
           list_distinct([
               array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')
               FOR i IN range(1, len(toks) - {SHINGLE_N - 2})
           ]) AS grams
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex({_DUCK_NORM}, '\\s+'), t -> length(t) > 0) AS toks
        FROM documents
    )
    WHERE len(toks) >= {SHINGLE_N}
"""


#: Jaccard threshold as an exact rational (2/25 = 0.08): J ≥ τ becomes
#: 25·|∩| ≥ 2·(na+nb−|∩|) — pure bigint comparison, identical on any
#: engine, no round()/double anywhere in the operator.
JACCARD_NUM, JACCARD_DEN = 2, 25


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the verify-stage primitive).

    Prefix-filtered (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07): J ≥ τ ⟹ |A∩B| ≥ τ·|A| (and ≥ τ·|B|), so a pair
    must collide within each side's first |rare| − ⌈τ·n⌉ + 1 grams under
    the global df-ascending order. The self-join runs on those PREFIX
    postings only — the hottest surviving grams sit in suffixes and
    never generate candidates — and the exact intersection is computed
    per candidate from the two docs' gram arrays, so total cost is
    O(candidates), not Σdf² over every df≤CAP gram.
    """
    idx = _gram_index(spark, sf_dir)
    pp = _prefix_posting(idx, JACCARD_NUM, JACCARD_DEN)
    a, b = pp.alias("a"), pp.alias("b")
    # positional filter (PPJoin): a qualifying pair's overlap must reach
    # t = ⌈τ(na+nb)/(1+τ)⌉ = ⌈2(na+nb)/27⌉, and its FIRST collision at
    # (pa, pb) bounds it by 1 + min(n_rare−pos−1, …) — safe to apply per
    # collision because the first collision of any qualifying pair passes.
    t_pair = F.expr(
        f"(({JACCARD_NUM} * (a.n_grams + b.n_grams)) + {JACCARD_NUM + JACCARD_DEN - 1})"
        f" div {JACCARD_NUM + JACCARD_DEN}"
    )
    ubound = 1 + F.least(
        F.col("a.n_rare") - F.col("a.pos") - 1, F.col("b.n_rare") - F.col("b.pos") - 1
    )
    cands = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ubound >= t_pair),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # τ filter with ONE intersection occurrence, evaluated inside the
    # verify join (see _verify_candidates): 25s ≥ 2(na+nb−s) ⟺
    # 27s ≥ 2(na+nb), and na+nb ≥ 2 makes it imply s > 0 — the dropped
    # n_inter > 0 pre-filter — so the surviving row set is bit-identical
    # to the old filter-on-column formulation.
    scored = _verify_candidates(
        cands,
        idx,
        keep=F.lit(JACCARD_NUM + JACCARD_DEN) * _vc_s()
        >= F.lit(JACCARD_NUM) * (F.col("na") + F.col("nb")),
    )
    return (
        scored
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.expr("(n_inter * 1000000L) div (na + nb - n_inter)").alias("jaccard_ppm"),
        )
    )


ORACLE["ngram_jaccard_pairs"] = f"""
WITH {_DUCK_PAIR_CTES.format(shingles=_DUCK_SHINGLES)}
SELECT doc_a, doc_b, n_inter,
       (n_inter * 1000000) // (sa.n_grams + sb.n_grams - n_inter) AS jaccard_ppm
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE {JACCARD_DEN} * n_inter >= {JACCARD_NUM} * (sa.n_grams + sb.n_grams - n_inter)
"""


# ------------------------------------------------------------------ D2
def minhash_grams(docs: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id, gh): each doc's DISTINCT shingle-hash set — the exact set
    the MinHash signature estimates Jaccard over. Extracted from
    minhash_signatures (r9) so the estimator-QA operator
    (minhash_est_error) can compare est vs exact on the SAME universe;
    expressions are unchanged, so dedup_minhash's values are identical.
    """
    from ..functions import MINHASH_P, md5_hash60

    docs = _spread(docs)
    # shingle hashes without building gram strings: hash each token once,
    # then fold SHINGLE_N consecutive 31-bit-reduced hashes arithmetically
    # (string-concat shingling spent ~half the operator's time allocating).
    # The base hash is the engine-portable md5_hash60 (not xxhash64), so
    # the ENTIRE pipeline — signatures, banding, verify — mirrors in SQL
    # and the driver hash-checks it (see _minhash_oracle).
    toks = docs.select(
        "doc_id",
        F.transform(
            ws_tokens(normalize_text(F.col("text"))),
            lambda t: F.pmod(md5_hash60(t, f"|{seed}"), F.lit(MINHASH_P)),
        ).alias("th"),
    )
    mult = 1_000_003  # < 2^31, so acc*mult + h stays under 2^62 (ANSI-safe)

    def _gram_at(i):
        g = F.element_at(F.col("th"), i + 1)
        for k in range(1, SHINGLE_N):
            g = (g * F.lit(mult) + F.element_at(F.col("th"), i + 1 + k)) % F.lit(MINHASH_P)
        return g

    gram_hashes = F.when(
        F.size("th") >= SHINGLE_N,
        F.array_distinct(
            F.transform(F.sequence(F.lit(0), F.size("th") - SHINGLE_N), _gram_at)
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return toks.select("doc_id", gram_hashes.alias("gh"))


def minhash_signatures(docs: DataFrame, seed: int = 42) -> DataFrame:
    """doc_id + MinHash signature over word shingles (JVM-side, no UDF).

    Shape matters: explode shingles once, hash each ONCE, then take the
    64 permutation minima as groupBy aggregates. (A pure column-expression
    formulation inlines the shingle pipeline into all 64 permutations —
    Catalyst's projection collapse recomputes regex+ngrams 64× per row,
    ~300× slower at sf0.1.) The shuffle carries only partial minima per
    doc thanks to map-side combine.
    """
    return _sigs_from_gram_arrays(minhash_grams(docs, seed), seed)


def _sigs_from_gram_arrays(gh: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id, gh) → (doc_id, sig): the 64 permutation minima.

    per-row array_min over each permutation: identical arithmetic to an
    explode + 64-min groupBy but with NO shuffle at all — the signature
    stage stays a narrow map (measured ~25% faster at sf0.1, and at
    cluster scale it removes an O(total_shingles) network hop)."""
    from ..functions import MINHASH_P, hash_param

    mins = []
    for i in range(NUM_PERM):
        a = (hash_param(seed, 2 * i) | 1) % MINHASH_P
        b = hash_param(seed, 2 * i + 1) % MINHASH_P
        mins.append(
            F.coalesce(
                F.array_min(
                    F.transform("gh", lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P))
                ),
                F.lit(MINHASH_P),
            ).alias(f"s{i}")
        )
    return gh.select("doc_id", F.array(*mins).alias("sig"))


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (the 100 TB dedup path).

    shingle → 64-perm signature → 16×4 band buckets → bucket self-join →
    signature-similarity verify ≥ τ. Candidate generation touches only
    (doc, band) rows — O(n·bands) shuffle, versus O(pairs) for the exact
    variant. rows-only gate (hash family is ours); recall covered by
    planted-duplicate tests against ngram_jaccard_pairs.
    """
    # the signature pipeline is consumed three times (bands, sig_a,
    # sig_b) and its lambda expressions defeat ReuseExchange
    # canonicalization — pin so it computes once (one job, here).
    # Signatures are compact (64 longs/doc, ~0.5 KB) and the pin spills
    # rather than OOMs at corpus scale. The returned frame reads the pin,
    # so it is not unpinned here.
    from ..reliability import pin

    sigs = pin(minhash_signatures(table(spark, sf_dir, "documents")))
    banded = sigs.select(
        "doc_id", F.explode(band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    # candidate pairs carry only ids through the band join + distinct;
    # the 64-long signatures rejoin afterwards (a doc colliding in k bands
    # would otherwise drag k copies of both signatures through the shuffle)
    cands = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(NUM_PERM)),
        6,
    )
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= MINHASH_TAU)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def _minhash_sig_ctes(src: str, prefix: str, seed: int = 42) -> str:
    """CTE chain ``{p}th → {p}grams → {p}sigs`` computing the MinHash
    signature in SQL for a relation ``src`` with (doc_id, tks): portable
    md5_hash60 token hashes → arithmetic shingle fold → 64 (a·h+b) mod p
    minima. Permutation constants are the same hash_param values the
    Spark side embeds, so every intermediate is value-identical; docs
    shorter than SHINGLE_N get the all-sentinel signature on both sides.
    Ends with a trailing comma for composition."""
    from ..functions import MINHASH_P, hash_param, md5_hash60_sql

    p = MINHASH_P
    mult = 1_000_003
    g = "th[i]"
    for k in range(1, SHINGLE_N):
        g = f"(({g}) * {mult} + th[i+{k}]) % {p}"
    comps = []
    for i in range(NUM_PERM):
        a = (hash_param(seed, 2 * i) | 1) % p
        b = hash_param(seed, 2 * i + 1) % p
        comps.append(f"coalesce(list_min([({a} * g + {b}) % {p} FOR g IN grams]), {p})")
    sig = "[" + ",\n            ".join(comps) + "]"
    return f"""{prefix}th AS (
    SELECT doc_id,
           [{md5_hash60_sql('t', f'|{seed}')} % {p} FOR t IN tks] AS th
    FROM {src}
),
{prefix}grams AS (
    SELECT doc_id,
           list_distinct([{g} FOR i IN range(1, len(th) - {SHINGLE_N - 2})]) AS grams
    FROM {prefix}th
),
{prefix}sigs AS (
    SELECT doc_id, {sig} AS sig FROM {prefix}grams
),"""


def _band_cte(
    sigs: str, name: str, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> str:
    """Band-key CTE over a sigs relation; keys are the band slice values
    (the Spark side hashes the slice — injective w.h.p., so collision
    sets agree). Trailing comma for composition."""
    r = rows
    return f"""{name} AS (
    SELECT doc_id, b.i AS band,
           array_to_string(sig[{r} * b.i + 1 : {r} * b.i + {r}], ',') AS key
    FROM {sigs}, (SELECT unnest(range({bands})) AS i) b
),"""


#: est-agreement SQL between two sig columns sa.sig / sb.sig
_EST_SQL = (
    f"round(CAST(len([i FOR i IN range(1, {NUM_PERM + 1})"
    f" IF sa.sig[i] = sb.sig[i]]) AS DOUBLE) / {NUM_PERM}, 6)"
)


def _minhash_oracle(seed: int = 42) -> str:
    """Full SQL mirror of the MinHash-LSH pair pipeline: signatures →
    16×4 band keys → band-collision candidates → signature-agreement
    verify."""
    return f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                       t -> length(t) > 0) AS tks
    FROM documents
),
{_minhash_sig_ctes("tk", "", seed)}
{_band_cte("sigs", "bands")}
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM (
    SELECT c.doc_a, c.doc_b, {_EST_SQL} AS est_jaccard
    FROM cands c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
)
WHERE est_jaccard >= {MINHASH_TAU}
"""


ORACLE["dedup_minhash"] = _minhash_oracle()


# ------------------------------------------------------------------ D46
def minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator QA (r9): for every pair the LSH dedup pipeline
    emits, compare the SIGNATURE-estimated Jaccard against the EXACT
    Jaccard of the same distinct-shingle sets — the dedup counterpart of
    knn_recall_eval's ANN QA loop. A production dedup deployment tunes
    (num_perm, bands, rows, τ) on exactly this table: err_ppm is the
    per-pair estimator bias, bounded in probability by ~1/√64 per
    Broder's analysis, and a drifting distribution here means the
    threshold no longer cuts where the policy thinks it does.

    All-integer emission: est_ppm = matches·10⁶ div 64 (filter
    est_ppm ≥ τ·10⁶ is exactly the production est ≥ τ cut), exact_ppm
    via bigint div on intersect/union counts. Identical-empty gram sets
    (both docs shorter than one shingle) define exact = 1 — the estimator
    also says 1 there, by the same all-sentinel-signature argument.

    Scale: same O(n·bands) candidate shuffle as dedup_minhash; the gram
    ARRAYS rejoin only for the candidate pairs (never ride the band
    join), so the wide rows move O(candidates), not O(corpus).

    EAGER NOTE: this builder materializes the gram and signature frames
    at plan-construction time (two Spark jobs fire before the caller
    acts) — same eagerness as graph.py pagerank()/personalized_pagerank.
    Both are ``reliability.pin``s, which the returned DataFrame reads,
    so neither is unpinned here.
    """
    from ..reliability import pin

    # grams feed signatures AND the exact verify
    gh = pin(minhash_grams(table(spark, sf_dir, "documents")))
    sigs = pin(_sigs_from_gram_arrays(gh))
    banded = sigs.select(
        "doc_id", F.explode(band_keys(F.col("sig"), LSH_BANDS, LSH_ROWS)).alias("bk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    ga = gh.select(F.col("doc_id").alias("doc_a"), F.col("gh").alias("gh_a"))
    gb = gh.select(F.col("doc_id").alias("doc_b"), F.col("gh").alias("gh_b"))
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    inter = F.size(F.array_intersect("gh_a", "gh_b"))
    union = F.size("gh_a") + F.size("gh_b") - inter
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_match", n_match)
        .drop("sig_a", "sig_b")
        .join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("_inter", inter)
        .withColumn("_union", union)
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"(n_match * 1000000L) div {NUM_PERM}").alias("est_ppm"),
            F.when(F.col("_union") == 0, F.lit(1_000_000).cast("bigint"))
            .otherwise(F.expr("(CAST(_inter AS BIGINT) * 1000000L) div _union"))
            .alias("exact_ppm"),
        )
        .where(F.col("est_ppm") >= int(MINHASH_TAU * 1_000_000))
        .withColumn("err_ppm", F.col("est_ppm") - F.col("exact_ppm"))
    )


ORACLE["minhash_est_error"] = f"""
WITH tk AS (
    -- coalesce: a NULL-text doc's token list is the EMPTY list (the
    -- docstring's identical-empty-gram exact = 1 sentinel already
    -- covers it; Spark's gram arrays come out empty, not NULL) — r13
    -- NULL-text audit
    SELECT doc_id,
           coalesce(list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                                t -> length(t) > 0),
                    CAST([] AS VARCHAR[])) AS tks
    FROM documents
),
{_minhash_sig_ctes("tk", "")}
{_band_cte("sigs", "bands")}
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len([i FOR i IN range(1, {NUM_PERM + 1})
                     IF sa.sig[i] = sb.sig[i]]) * 1000000 // {NUM_PERM}
                AS BIGINT) AS est_ppm,
           CASE WHEN len(ga.grams) + len(gb.grams)
                     - len(list_intersect(ga.grams, gb.grams)) = 0
                THEN CAST(1000000 AS BIGINT)
                ELSE CAST(CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT)
                          * 1000000
                          // (len(ga.grams) + len(gb.grams)
                              - len(list_intersect(ga.grams, gb.grams)))
                     AS BIGINT)
           END AS exact_ppm
    FROM cands c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
    JOIN grams ga ON c.doc_a = ga.doc_id
    JOIN grams gb ON c.doc_b = gb.doc_id
)
SELECT doc_a, doc_b, est_ppm, exact_ppm, est_ppm - exact_ppm AS err_ppm
FROM scored
WHERE est_ppm >= {int(MINHASH_TAU * 1_000_000)}
"""


# ------------------------------------------------------------------ D3
SIMHASH_BITS = 56
SIMHASH_BANDS = 4
SIMHASH_HAMMING = 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """56-bit SimHash per doc from token-frequency-weighted bit votes.

    explode → one groupBy(doc) with 56 conditional sums — all inside
    whole-stage codegen. The shuffle this plans is doc-sized, not
    token-sized: a doc's exploded rows stay in their scan partition, so
    the map-side partial aggregate collapses them to 56 longs per doc
    before any data moves (a per-row F.aggregate fold avoids even that,
    but higher-order functions are CodegenFallback — measured ~35%
    slower than the codegen'd aggregate at sf0.1). 56 bits keeps every
    shiftleft inside a signed 64-bit long.
    """
    docs = _spread(docs)
    # engine-portable base hash (md5_hash60, not xxhash64) → the bit
    # votes, signature, banding, and hamming verify all mirror in SQL
    from ..functions import md5_hash60

    toks = docs.select(
        "doc_id", F.explode(ws_tokens(normalize_text(F.col("text")))).alias("tok")
    ).withColumn("h", md5_hash60(F.col("tok")))
    # Branchless vote sums: accumulate ones_j = Σ ((h>>j) & 1) plus one
    # token count, instead of 56 CASE WHEN ±1 sums. The ±1 vote total is
    # v_j = 2·ones_j − n_tokens, so the sign test v_j > 0 is exactly
    # 2·ones_j > n_tokens — pure integer arithmetic, bit-identical
    # signatures to the oracle's CASE formulation (the oracle keeps the
    # ±1 text; only this engine-side evaluation is branchless — measured
    # 0.86 → 0.69 s for the vote aggregate at sf0.1).
    ones = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"c{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"), *ones)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"c{j}") * 2 > F.col("nt"),
            F.shiftleft(F.lit(1).cast("bigint"), j),
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×14-bit band blocking, then exact hamming
    ≤ 3 verify via bit_count(xor). rows-only gate + planted-dup tests.

    r14 plan notes: the band key is a BIGINT (band_index << width |
    band_value) instead of a "i:value" string — same blocking, narrower
    shuffle, no per-row string building — and the old
    dropDuplicates(doc_a, doc_b) shuffle is gone: a pair matching in k
    bands surfaces k times in the join, so each copy is kept only when
    its band is the pair's FIRST matching band (every lower band
    differs, tested on xor bits the join row already holds). Exactly
    one copy survives per matching pair — the same (doc_a, doc_b,
    hamming) set, one shuffle fewer. The signature frame is pinned:
    the self-join's two sides otherwise each re-run the whole
    tokenize + md5 + 56-sum vote pipeline (the sf0.001 plan shows two
    complete aggregate subtrees — broadcast joins sit outside
    ReuseExchange), and the pinned frame is corpus-ROW-sized (16 bytes
    per doc), not token-sized."""
    from ..reliability import pin

    sigs = pin(simhash_signatures(table(spark, sf_dir, "documents")))
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (
                        F.shiftright("simhash", i * band_width)
                        .bitwiseAND(F.lit(mask))
                        + F.lit(i << band_width)
                    ).cast("bigint")
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bk"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    band_ne = [
        F.shiftright(xor, j * band_width).bitwiseAND(F.lit(mask)) != F.lit(0)
        for j in range(SIMHASH_BANDS)
    ]
    # true iff every band BELOW the matched one differs — the matched
    # band is then the pair's first matching band
    first_match = F.when(F.col("a.band") == 0, F.lit(True))
    for i in range(1, SIMHASH_BANDS):
        cond = band_ne[0]
        for j in range(1, i):
            cond = cond & band_ne[j]
        first_match = first_match.when(F.col("a.band") == i, cond)
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_HAMMING)
    )


def _simhash_oracle() -> str:
    """SQL mirror of the SimHash pipeline: portable md5_hash60 token
    hashes → frequency-weighted ±1 bit votes → 56-bit signature →
    4×14-bit band blocking → hamming ≤ 3 verify via bit_count(xor)."""
    from ..functions import md5_hash60_sql

    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    simexpr = "\n           + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    bw = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bw) - 1
    return f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                              t -> length(t) > 0)) AS tok
    FROM documents
),
hs AS (SELECT doc_id, {md5_hash60_sql('tok')} AS h FROM toks),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hs GROUP BY doc_id
),
sigs AS (
    SELECT doc_id,
           CAST({simexpr} AS BIGINT) AS simhash
    FROM votes
),
bands AS (
    SELECT doc_id, simhash, b.i AS band,
           (simhash >> (b.i * {bw})) & {mask} AS key
    FROM sigs, (SELECT unnest(range({SIMHASH_BANDS})) AS i) b
)
SELECT doc_a, doc_b, hamming FROM (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
WHERE hamming <= {SIMHASH_HAMMING}
"""


ORACLE["dedup_simhash"] = _simhash_oracle()


ORACLE["ngram_containment_pairs"] = f"""
WITH {_DUCK_PAIR_CTES.format(shingles=_DUCK_SHINGLES)}
SELECT doc_a, doc_b, n_inter,
       (n_inter * 1000000) // sa.n_grams AS contain_ab_ppm,
       (n_inter * 1000000) // sb.n_grams AS contain_ba_ppm
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
WHERE {CONTAIN_DEN} * n_inter >= {CONTAIN_NUM} * sa.n_grams
   OR {CONTAIN_DEN} * n_inter >= {CONTAIN_NUM} * sb.n_grams
"""

# ------------------------------------------------------------------ D31
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy-match join: supplier-name pairs at edit distance
    exactly 1 — the entity-resolution primitive (record dedup where a
    code/name drifts by one character).

    Blocking is the character-level deletion neighborhood (FastSS, Bocek
    et al. 2007): each name emits itself plus one key per dropped char;
    any two strings within edit distance 1 share ≥1 key (substitution →
    same-position deletions match; insert/delete → the shorter string IS
    a deletion of the longer). Candidates are near-identical by
    construction, so levenshtein only verifies true near-misses — no
    block ever approaches the quadratic cross join, and key volume is
    len+1 rows per name through one equi-join shuffle. (Word-level and
    prefix blocking both degenerate on short names: with 2-word part
    names a dropped word leaves a single shared token and ~2.5k-row
    blocks — measured minutes, not seconds, at sf0.1.)
    """
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.lower(F.col("s_name")).alias("name")
    )
    keyed = sup.select(
        "s_suppkey",
        "name",
        F.explode_outer(
            F.concat(
                F.transform(
                    F.sequence(F.lit(1), F.length("name")),
                    lambda i: F.concat(
                        F.col("name").substr(F.lit(1), i - 1),
                        F.col("name").substr(i + 1, F.length("name")),
                    ),
                ),
                F.array(F.col("name")),
            )
        ).alias("blk"),
    ).where(F.col("blk").isNotNull())
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .select(
            F.col("a.s_suppkey").alias("supp_a"),
            F.col("a.name").alias("name_a"),
            F.col("b.s_suppkey").alias("supp_b"),
            F.col("b.name").alias("name_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") == 1)
        .select("supp_a", "supp_b", "dist")
    )


ORACLE["fuzzy_name_pairs"] = """
WITH named AS (
    SELECT s_suppkey, lower(s_name) AS name FROM supplier
),
keyed AS (
    SELECT s_suppkey, name,
           unnest(list_append([
               substring(name, 1, i - 1) || substring(name, i + 1, length(name))
               FOR i IN range(1, length(name) + 1)
           ], name)) AS blk
    FROM named
),
cands AS (
    SELECT DISTINCT a.s_suppkey AS supp_a, a.name AS name_a,
                    b.s_suppkey AS supp_b, b.name AS name_b
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.s_suppkey < b.s_suppkey
)
SELECT supp_a, supp_b, levenshtein(name_a, name_b) AS dist
FROM cands
WHERE levenshtein(name_a, name_b) = 1
"""


# ------------------------------------------------------------------ D39
SPAN_W = 8


def _span_fps_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps): every doc's SPAN_W-token span fingerprints,
    computed inside the array (the Generate re-eval barrier — see
    dup_span_docs). UNPINNED; callers pin or memoize."""
    docs = _spread(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.transform(
            word_ngrams(ws_tokens(normalize_text(F.col("text"))), SPAN_W),
            lambda s: F.md5(s),
        ).alias("fps"),
    )


def dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-duplicate detection: every 8-token span occurring
    in ≥2 documents, with its document frequency and total occurrences —
    the cross-document substring-duplication report behind exact-substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    Better": repeated spans, not just whole docs, drive memorization).

    One explode + one hash aggregate on the span fingerprint: partial
    (map-side) counts make the hot boilerplate span — the exact row this
    query exists to find — a cheap skewed KEY, never a skewed TASK. The
    16-byte md5 replaces the raw span text in the shuffle.
    """
    from ..reliability import pin

    # fingerprint INSIDE the array, then pin before exploding: without
    # the barrier, project-collapse inlines the span expression into
    # Generate, which re-evaluates it per exploded row (~tokens× per doc).
    arr = pin(_span_fps_frame(spark, sf_dir))
    spans = arr.select("doc_id", F.explode("fps").alias("span_fp"))
    # two-level agg instead of countDistinct+count in one pass: the mixed
    # distinct/non-distinct agg plans an Expand (row duplication before
    # the shuffle); pre-reducing on (span_fp, doc_id) keeps every stage
    # map-side combinable with no Expand.
    per_doc = spans.groupBy("span_fp", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("span_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occur"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


ORACLE["dup_span_docs"] = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                       t -> length(t) > 0) AS toks
    FROM documents
),
spans AS (
    SELECT doc_id,
           md5(array_to_string(toks[i:i+{SPAN_W - 1}], ' ')) AS span_fp
    FROM (
        SELECT doc_id, toks, unnest(range(1, len(toks) - {SPAN_W - 2})) AS i
        FROM toks WHERE len(toks) >= {SPAN_W}
    )
)
SELECT span_fp,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occur,
       min(doc_id) AS first_doc
FROM spans
GROUP BY span_fp
HAVING count(DISTINCT doc_id) >= 2
"""


def dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLY step (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    covered by an 8-token span that occurs in ≥2 documents, emitting the
    cleaned text — the transform a training pipeline actually ships,
    where dup_span_docs is the report.

    Scale shape: span fingerprints computed inside the array and pinned
    (the Generate re-eval barrier), duplicated-span detection is the
    same two-level map-side-combinable aggregate as dup_span_docs, and
    the removal is a per-doc array filter against that doc's (small)
    sorted duplicate-start list — no shuffle ever carries text except
    the final join back to the token arrays.
    """
    from ..reliability import pin

    docs = _spread(table(spark, sf_dir, "documents"))
    arr = pin(
        docs.select(
            "doc_id",
            ws_tokens(normalize_text(F.col("text"))).alias("toks"),
            F.transform(
                word_ngrams(ws_tokens(normalize_text(F.col("text"))), SPAN_W),
                lambda s: F.md5(s),
            ).alias("fps"),
        )
    )
    pos_fp = arr.select("doc_id", F.posexplode("fps").alias("pos", "fp"))
    dup_fps = (
        pos_fp.groupBy("fp", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
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
    # token i survives unless a duplicated span starting at s covers it
    # (s ≤ i ≤ s+W−1); both sides use the identical 0-based positions
    clean = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("ss"), lambda s: (s <= i) & (i <= s + F.lit(SPAN_W - 1))
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(clean)).alias("n_removed"),
        # coalesce: a NULL-text doc has NULL toks -> NULL join, while the
        # oracle's coalesce(array_to_string(...), '') emits '' (added for
        # the fully-removed-doc case, which also covers this one); the
        # count columns stay NULL on BOTH engines (r13 NULL-text audit)
        F.coalesce(F.array_join(clean, " "), F.lit("")).alias("clean_text"),
    )


ORACLE["dedup_spans_apply"] = f"""
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
    SELECT doc_id, pos, fps[pos] AS fp
    FROM (SELECT doc_id, fps, unnest(range(1, len(fps) + 1)) AS pos FROM fps)
),
dup AS (
    SELECT fp FROM (SELECT fp, doc_id FROM pos_fp GROUP BY 1, 2)
    GROUP BY fp HAVING count(*) >= 2
),
starts AS (
    SELECT doc_id, list(pos ORDER BY pos) AS ss
    FROM pos_fp JOIN dup USING (fp) GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks) AS n_tokens,
       len(t.toks) - len(clean) AS n_removed,
       -- DuckDB's array_to_string of an EMPTY list is NULL; Spark's
       -- array_join is '' — coalesce to match the fully-removed-doc case
       coalesce(array_to_string(clean, ' '), '') AS clean_text
FROM (
    SELECT t.doc_id, t.toks,
           list_filter(t.toks,
               (x, i) -> len(list_filter(coalesce(s.ss, CAST([] AS BIGINT[])),
                                         y -> y <= i AND i <= y + {SPAN_W - 1})) = 0
           ) AS clean
    FROM toks t LEFT JOIN starts s USING (doc_id)
) t
"""


# ------------------------------------------------------------------ D83
#: minimum duplicate-run length (tokens) the apply step strips — the
#: Lee et al. (arXiv:2107.06499) exact-substring policy removes maximal
#: duplicated runs of ≥ 50 tokens, not any covered token
MIN_RUN_TOKENS = 50

#: the CTE chain from documents to per-doc maximal duplicate runs
#: (doc_id, run_start 1-based, run_len) — shared by both run oracles
_RUNS_CTES = f"""toks AS (
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
    SELECT doc_id, pos, fps[pos] AS fp
    FROM (SELECT doc_id, fps, unnest(range(1, len(fps) + 1)) AS pos FROM fps)
),
dup AS (
    SELECT fp FROM (SELECT fp, doc_id FROM pos_fp GROUP BY 1, 2)
    GROUP BY fp HAVING count(*) >= 2
),
st AS (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM pos_fp JOIN dup USING (fp)
),
isl AS (
    SELECT doc_id, pos,
           sum(CASE WHEN prev IS NULL OR pos > prev + {SPAN_W}
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM st
),
runs AS (
    SELECT doc_id, min(pos) AS run_start,
           max(pos) - min(pos) + {SPAN_W} AS run_len
    FROM isl GROUP BY doc_id, island
)"""


def _dup_runs(arr: DataFrame) -> DataFrame:
    """Maximal duplicate runs per doc — the gaps-and-islands merge of
    overlapping duplicated SPAN_W-token spans (Lee et al. exact-substring
    dedup operates on maximal runs, not fixed windows).

    Input: the pinned (doc_id, fps) frame. A span starting at s covers
    tokens [s, s+W−1]; starts are sorted per doc, so coverage is
    contiguous iff s ≤ prev_s + W — one lag + running-sum island id
    over a PER-DOC window (hash-partitioned on doc_id, no global sort;
    a doc's duplicate-start list is tiny relative to the corpus, so the
    window state is bounded at any scale). Returns (doc_id, run_start
    0-based, run_len in tokens).
    """
    from pyspark.sql import Window

    pos_fp = arr.select("doc_id", F.posexplode("fps").alias("pos", "fp"))
    dup_fps = (
        pos_fp.groupBy("fp", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        pos_fp.join(dup_fps, "fp")
        .select("doc_id", "pos")
        .withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_run",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + SPAN_W),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_run").over(w))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("run_start"),
        (F.max("pos") - F.min("pos") + SPAN_W).alias("run_len"),
    )


def dup_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-RUN length distribution: overlapping duplicated 8-token
    spans merged into maximal runs per doc (gaps-and-islands over span
    start positions), reported as run_len → (n_runs, n_docs,
    tokens_covered). This is the report a dedup deployment reads to pick
    the strip threshold: Lee et al. ("Deduplicating Training Data Makes
    Language Models Better") dedup on maximal runs ≥ 50 tokens, and the
    run-length histogram shows how much text each threshold removes.

    Scale shape: same explode + two-level map-side-combinable aggregate
    as dup_span_docs for the duplicated-fingerprint set, then a per-doc
    window (hash-partitioned on doc_id) for the island merge, then a
    run_len rollup whose cardinality is O(distinct run lengths).
    """
    from ..reliability import pin

    runs = _dup_runs(pin(_span_fps_frame(spark, sf_dir)))
    per_doc = runs.groupBy("run_len", "doc_id").agg(
        F.count(F.lit(1)).alias("n_runs_doc")
    )
    return per_doc.groupBy("run_len").agg(
        F.sum("n_runs_doc").alias("n_runs"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_runs_doc") * F.col("run_len")).alias("tokens_covered"),
    )


ORACLE["dup_run_stats"] = f"""
WITH {_RUNS_CTES}
SELECT run_len,
       count(*) AS n_runs,
       count(DISTINCT doc_id) AS n_docs,
       count(*) * run_len AS tokens_covered
FROM runs
GROUP BY run_len
"""


#: strip-policy thresholds swept by dup_run_threshold_curve — W·2, the
#: Lee et al. 50, and a conservative 100, bracketing the deployed value
RUN_CURVE_THRESHOLDS = (16, 25, 50, 100)


def dup_run_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip-threshold tuning curve — the minhash_band_curve of exact-
    substring dedup: for each candidate min_run_tokens policy, how many
    maximal duplicate runs qualify, how many documents are touched, and
    how many tokens the apply step would strip. Because a doc's runs
    are DISJOINT intervals, tokens_stripped is exactly Σ run_len over
    qualifying runs — the curve a deployment reads before pinning the
    dedup_runs_apply threshold (Lee et al. use 50; the sweep brackets
    it). ONE runs build feeds all four thresholds; zero extra corpus
    passes. The 4-row threshold frame is the BUILD side of an inner
    nested-loop join against the streamed runs, then left-joins back
    onto the aggregate to reattach zero-count thresholds — ADVICE_r13:
    the former broadcast-hinted LEFT-OUTER put thr on the outer side,
    which Spark cannot build, so the BNLJ silently broadcast the
    SCALING runs relation instead; this shape keeps the 4-row frame
    the broadcast side at any corpus size.
    """
    from ..reliability import pin

    runs = _dup_runs(pin(_span_fps_frame(spark, sf_dir)))
    thr = spark.createDataFrame(
        [(t,) for t in RUN_CURVE_THRESHOLDS], schema="min_run_tokens int"
    )
    per_doc = (
        runs.join(F.broadcast(thr), runs.run_len >= F.col("min_run_tokens"))
        .groupBy("min_run_tokens", "doc_id")
        .agg(
            F.count("run_len").alias("n_runs_doc"),
            F.sum("run_len").alias("tok_doc"),
        )
    )
    agg = per_doc.groupBy("min_run_tokens").agg(
        F.sum("n_runs_doc").alias("n_runs"),
        F.count(F.col("doc_id")).alias("n_docs"),
        F.sum("tok_doc").alias("tokens_stripped"),
    )
    return thr.join(agg, "min_run_tokens", "left").select(
        "min_run_tokens",
        F.coalesce("n_runs", F.lit(0)).cast("bigint").alias("n_runs"),
        F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce("tokens_stripped", F.lit(0))
        .cast("bigint")
        .alias("tokens_stripped"),
    )


ORACLE["dup_run_threshold_curve"] = f"""
WITH {_RUNS_CTES},
thr AS (
    SELECT unnest([{", ".join(str(t) for t in RUN_CURVE_THRESHOLDS)}])::INT
        AS min_run_tokens
)
SELECT t.min_run_tokens,
       CAST(count(r.run_len) AS BIGINT) AS n_runs,
       CAST(count(DISTINCT r.doc_id) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(r.run_len), 0) AS BIGINT) AS tokens_stripped
FROM thr t LEFT JOIN runs r ON r.run_len >= t.min_run_tokens
GROUP BY 1
"""


def dedup_runs_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup apply step at the PUBLISHED policy (Lee et
    al., arXiv:2107.06499): strip only tokens covered by a maximal
    duplicate run of ≥ MIN_RUN_TOKENS (50) tokens, emitting the cleaned
    text. dedup_spans_apply is the any-covered-token (aggressive)
    variant; this one leaves short incidental overlaps — common idioms,
    shared titles — in place, which is what a production training
    pipeline actually ships.

    Scale shape: identical to dedup_spans_apply up to the duplicated-
    fingerprint set; the island merge is a per-doc window on the
    (small) duplicate-start rows; the strip is a per-doc array filter
    against that doc's qualifying-run interval list — text never
    shuffles except the final join back to the token arrays.
    """
    from ..reliability import pin

    docs = _spread(table(spark, sf_dir, "documents"))
    arr = pin(
        docs.select(
            "doc_id",
            ws_tokens(normalize_text(F.col("text"))).alias("toks"),
            F.transform(
                word_ngrams(ws_tokens(normalize_text(F.col("text"))), SPAN_W),
                lambda s: F.md5(s),
            ).alias("fps"),
        )
    )
    runs = _dup_runs(arr.select("doc_id", "fps")).where(F.col("run_len") >= MIN_RUN_TOKENS)
    per_doc = runs.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("run_start").alias("a"),
                (F.col("run_start") + F.col("run_len") - 1).alias("b"),
            )
        ).alias("rs")
    )
    joined = arr.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("rs", F.array().cast("array<struct<a:int,b:int>>")).alias("rs"),
    )
    # token i survives unless a qualifying run [a, b] covers it; both
    # engines use their own self-consistent position base (0- vs 1-based)
    clean = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("rs"), lambda r: (r["a"] <= i) & (i <= r["b"])
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(clean)).alias("n_removed"),
        # NULL-text coalesce — same contract as dedup_spans_apply
        F.coalesce(F.array_join(clean, " "), F.lit("")).alias("clean_text"),
    )


ORACLE["dedup_runs_apply"] = f"""
WITH {_RUNS_CTES},
qruns AS (
    SELECT doc_id,
           list(struct_pack(a := run_start,
                            b := run_start + run_len - 1) ORDER BY run_start)
               AS rs
    FROM runs WHERE run_len >= {MIN_RUN_TOKENS}
    GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks) AS n_tokens,
       len(t.toks) - len(clean) AS n_removed,
       coalesce(array_to_string(clean, ' '), '') AS clean_text
FROM (
    SELECT t.doc_id, t.toks,
           list_filter(t.toks,
               (x, i) -> len(list_filter(
                   coalesce(q.rs, CAST([] AS STRUCT(a BIGINT, b BIGINT)[])),
                   r -> r.a <= i AND i <= r.b)) = 0
           ) AS clean
    FROM toks t LEFT JOIN qruns q USING (doc_id)
) t
"""


# ------------------------------------------------------------------ D85
#: a line is stripped when it appears in at least this many DISTINCT
#: documents (cross-document boilerplate; within-doc repeats are
#: doc_repetition_stats' axis and are deliberately left alone here)
LINE_DUP_MIN_DOCS = 2


def _line_array():
    """The shared line tokenization of the line-dedup tier (and of
    doc_repetition_stats, text.py): split on newline, trim, drop empty.
    NULL text coalesces to '' → zero lines, so the NULL contract is a
    plain empty emission on both engines."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda line: F.trim(line),
        ),
        lambda line: F.length(line) > 0,
    )


_DUCK_LINES = (
    "list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),"
    " l -> trim(l)), l -> length(l) > 0)"
)


def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level duplicate report — the RefinedWeb/CCNet
    boilerplate tier (Penedo et al. 2023 §3.3 line-wise dedup; Wenzek
    et al. 2020 §4.1 paragraph-hash dedup): every trimmed non-empty
    LINE that occurs in ≥ LINE_DUP_MIN_DOCS distinct documents, with
    its document frequency, total occurrence count, and first holder.
    This is the report that surfaces the dominant web boilerplate —
    nav bars, cookie banners, footer blurbs — which whole-doc and
    span-level dedup both miss (the line repeats across MANY otherwise
    distinct pages, and is usually shorter than a SPAN_W span policy's
    qualifying run).

    Scale shape: exactly the dup_span_docs device at line granularity —
    one explode + a two-level map-side-combinable aggregate on the
    16-byte md5 line hash (pre-reducing on (line_fp, doc_id) avoids the
    countDistinct Expand), so the hottest boilerplate line is a cheap
    skewed KEY, never a skewed task, and the shuffle never carries line
    text.
    """
    docs = _spread(table(spark, sf_dir, "documents"))
    lines = docs.select(
        "doc_id", F.explode(_line_array()).alias("line")
    ).select("doc_id", F.md5("line").alias("line_fp"))
    per_doc = lines.groupBy("line_fp", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return (
        per_doc.groupBy("line_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occur"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= LINE_DUP_MIN_DOCS)
    )


ORACLE["line_dedup_stats"] = f"""
WITH lns AS (
    SELECT doc_id, md5(unnest({_DUCK_LINES})) AS line_fp FROM documents
),
per_doc AS (
    SELECT line_fp, doc_id, count(*) AS occ FROM lns GROUP BY 1, 2
)
SELECT line_fp,
       count(*) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS n_occur,
       min(doc_id) AS first_doc
FROM per_doc
GROUP BY line_fp
HAVING count(*) >= {LINE_DUP_MIN_DOCS}
"""


def line_dedup_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of the line-dedup tier (the third
    piece beside the per-line report and the apply step): for each df
    value — INCLUDING df = 1, the unique-line mass — the number of
    distinct lines carrying it and their total occurrences. This is
    the curve a deployment reads to pick the strip threshold: the df≥K
    tail is exactly what line_dedup_apply at min-df K would remove,
    and a fat df tail means boilerplate (nav bars on every page) while
    a heavy df=1 head means the corpus is already line-clean.

    Scale: the same two-level map-side aggregate as line_dedup_stats,
    then an O(distinct df values) rollup — the dup_run_stats shape at
    line granularity; nothing here is corpus-sized after the first
    aggregate.
    """
    docs = _spread(table(spark, sf_dir, "documents"))
    lines = docs.select(
        "doc_id", F.explode(_line_array()).alias("line")
    ).select("doc_id", F.md5("line").alias("line_fp"))
    per_doc = lines.groupBy("line_fp", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    per_line = per_doc.groupBy("line_fp").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("occ").alias("occ")
    )
    return per_line.groupBy("n_docs").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("occ").alias("n_occur"),
    )


ORACLE["line_dedup_hist"] = f"""
WITH lns AS (
    SELECT doc_id, md5(unnest({_DUCK_LINES})) AS line_fp FROM documents
),
per_doc AS (
    SELECT line_fp, doc_id, count(*) AS occ FROM lns GROUP BY 1, 2
),
per_line AS (
    SELECT line_fp, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS occ
    FROM per_doc GROUP BY line_fp
)
SELECT n_docs,
       count(*) AS n_lines,
       CAST(sum(occ) AS BIGINT) AS n_occur
FROM per_line
GROUP BY n_docs
"""


def line_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup APPLY step: strip every line whose
    corpus document-frequency is ≥ LINE_DUP_MIN_DOCS from ALL holders
    (the RefinedWeb/CCNet boilerplate removal — a cookie banner is
    noise in every copy, so unlike cluster dedup there is no keeper),
    emitting per doc the line counts and the cleaned text with
    surviving lines re-joined by newline. Lines repeated only WITHIN
    one document are left alone (doc_repetition_stats' axis).

    Scale shape: the dedup_runs_apply device at line granularity — the
    line arrays are pinned once (Generate re-eval barrier), the
    duplicated-line set comes from the same two-level map-side
    aggregate as line_dedup_stats, each doc joins only its own (small)
    duplicated-fp list, and the strip is a per-doc array filter; text
    never shuffles except the final join back to the line arrays.
    """
    from ..reliability import pin

    docs = _spread(table(spark, sf_dir, "documents"))
    arr = pin(docs.select("doc_id", _line_array().alias("lines")))
    pos = arr.select("doc_id", F.explode("lines").alias("line")).select(
        "doc_id", F.md5("line").alias("fp")
    )
    per_doc = pos.groupBy("fp", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    dup = (
        per_doc.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= LINE_DUP_MIN_DOCS)
        .select("fp")
    )
    dfps = (
        per_doc.join(dup, "fp")
        .groupBy("doc_id")
        .agg(F.collect_list("fp").alias("dfps"))
    )
    joined = arr.join(dfps, "doc_id", "left").select(
        "doc_id",
        "lines",
        F.coalesce("dfps", F.array().cast("array<string>")).alias("dfps"),
    )
    clean = F.filter(
        F.col("lines"),
        lambda line: ~F.array_contains(F.col("dfps"), F.md5(line)),
    )
    return joined.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        (F.size("lines") - F.size(clean)).alias("n_removed"),
        # Spark's array_join of an empty array is '' while DuckDB's
        # array_to_string is NULL — the oracle coalesces to match (the
        # span-apply contract; covers fully-boilerplate and NULL docs)
        F.array_join(clean, "\n").alias("clean_text"),
    )


ORACLE["line_dedup_apply"] = f"""
WITH base AS (
    SELECT doc_id, {_DUCK_LINES} AS lines FROM documents
),
lns AS (
    SELECT doc_id, md5(unnest(lines)) AS fp FROM base
),
per_doc AS (
    SELECT fp, doc_id, count(*) AS occ FROM lns GROUP BY 1, 2
),
dup AS (
    SELECT fp FROM per_doc GROUP BY fp
    HAVING count(*) >= {LINE_DUP_MIN_DOCS}
),
dfps AS (
    SELECT doc_id, list(fp) AS dfps
    FROM per_doc JOIN dup USING (fp) GROUP BY doc_id
)
SELECT doc_id,
       len(lines) AS n_lines,
       len(lines) - len(clean) AS n_removed,
       coalesce(array_to_string(clean, chr(10)), '') AS clean_text
FROM (
    SELECT b.doc_id, b.lines,
           list_filter(b.lines,
               l -> NOT list_contains(coalesce(d.dfps, CAST([] AS VARCHAR[])),
                                      md5(l))) AS clean
    FROM base b LEFT JOIN dfps d USING (doc_id)
)
"""


# ------------------------------------------------------------------ D77
#: (bands, rows) configs swept — all factorizations of NUM_PERM the
#: production threshold debate is actually between (r=2 permissive,
#: r=4 the deployed 16×4, r=8 strict)
BAND_SWEEP = ((32, 2), (16, 4), (8, 8))

#: executed plan of the last band-curve mask aggregate (plan-canary hook;
#: the operator returns a rebuilt one-row frame so the mask join is not
#: visible on the returned DataFrame's plan)
_LAST_BAND_CURVE_PLAN = ""


def minhash_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-shape tuning curve — the datasketch/FAISS-style sweep
    that picks (bands, rows) for a target Jaccard threshold: with the
    SAME 64-perm signatures, each (b, r) factorization detects a pair
    of similarity s with probability 1 − (1 − s^r)^b, so r=2 is the
    permissive recall end and r=8 the strict precision end. Per config
    this reports the candidate volume (what the band join pays), the
    verified pairs (est ≥ τ among candidates), and recall against the
    UNION of verified pairs across the sweep — banding detection
    isolated from estimator error (minhash_est_error's axis), the two
    numbers a dedup deployment trades off.

    Scale — the sweep costs ONE band join, not three: the configs NEST
    (a 4-row band matches ⟺ both its 2-row halves match, an 8-row band
    ⟺ all four), so a single O(n·32) mini-band (2-row) collision join
    + a per-pair bit_or MASK of matching mini-band indices derives
    every config's candidate set with pure integer tests — bit i set ⇒
    (32,2) candidate; adjacent bit PAIR 2i,2i+1 both set ⇒ (16,4);
    nibble 4i..4i+3 full ⇒ (8,8). The 64-slot agreement verify then
    runs once over the distinct pair frame (the mini-band candidates
    are a superset of every config's). The direct three-join
    formulation measured 8.1 s at sf0.1; this one reuses dedup_minhash's
    cost shape. The oracle keeps the DIRECT per-config formulation —
    the hash gate proves the nesting rewrite is value-identical.

    Mini-band keys are the RAW signature-slice values (band index +
    the two minima, comma-joined), not an xxhash64 of them: unlike
    dedup_minhash — where a band-key collision only adds a candidate
    later rejected by the est ≥ τ verify — here `n_candidates` is
    itself an emitted value, so a single 64-bit collision at corpus
    scale would silently inflate it. Raw r=2 slices are ~2×20 digits,
    barely wider than the hash they replace.
    """
    from ..reliability import pin, unpin

    sigs = pin(minhash_signatures(table(spark, sf_dir, "documents")))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(NUM_PERM)),
        6,
    )
    fine_b, fine_r = BAND_SWEEP[0]  # (32, 2): the mini-band grid
    raw_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(i)),
                F.array_join(F.slice("sig", i * fine_r + 1, fine_r), ","),
            )
            for i in range(fine_b)
        ]
    )
    banded = sigs.select("doc_id", F.posexplode(raw_keys).alias("band", "bk"))
    x, y = banded.alias("x"), banded.alias("y")
    masks = (
        x.join(
            y,
            (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.band").alias("band"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("bit_or(shiftleft(1L, band))").alias("m"))
    )

    def _grouped_flag(rows_per_band: int) -> F.Column:
        g = rows_per_band // fine_r  # consecutive mini-bands per band
        if g == 1:
            return F.col("m") != 0
        full = (1 << g) - 1
        tests = [
            (F.shiftright(F.col("m"), g * i).bitwiseAND(full) == full)
            for i in range(fine_b // g)
        ]
        out = tests[0]
        for t in tests[1:]:
            out = out | t
        return out

    scored = (
        masks.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "m",
            (est >= MINHASH_TAU).alias("ok"),
            *[
                _grouped_flag(r).alias(f"c{b}")
                for b, r in BAND_SWEEP
            ],
        )
    )
    aggs = scored.agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("n_union"),
        *[
            a
            for b, _ in BAND_SWEEP
            for a in (
                F.sum(F.when(F.col(f"c{b}"), 1).otherwise(0))
                .cast("bigint")
                .alias(f"nc{b}"),
                F.sum(F.when(F.col(f"c{b}") & F.col("ok"), 1).otherwise(0))
                .cast("bigint")
                .alias(f"nv{b}"),
            )
        ],
    )
    # EAGER (disclosed): the agg frame is ONE row — materialize it so the
    # 64-perm signature pin can be released immediately instead of
    # waiting for the ContextCleaner (kmeans_fit's unpin pattern). The
    # executed mask-join plan is kept on the module hook for the plan
    # canary (tests/test_plans.py), since the returned frame is rebuilt
    # from the collected row.
    global _LAST_BAND_CURVE_PLAN
    _LAST_BAND_CURVE_PLAN = aggs._jdf.queryExecution().executedPlan().toString()
    agg_row = aggs.collect()[0]
    unpin(sigs)
    aggs = spark.createDataFrame([agg_row], schema=aggs.schema)
    rows = [
        f"named_struct('bands', {b}, 'rows_per_band', {r},"
        f" 'n_candidates', nc{b}, 'n_verified', nv{b})"
        for b, r in BAND_SWEEP
    ]
    return (
        aggs.select(
            F.explode(F.expr(f"array({', '.join(rows)})")).alias("cfg"), "n_union"
        )
        .select(
            F.col("cfg.bands").cast("int").alias("bands"),
            F.col("cfg.rows_per_band").cast("int").alias("rows_per_band"),
            F.col("cfg.n_candidates").alias("n_candidates"),
            F.col("cfg.n_verified").alias("n_verified"),
            "n_union",
            F.expr(
                "(cfg.n_verified * 1000000L) div nullif(n_union, 0)"
            ).alias("recall_ppm"),
        )
    )


def _band_curve_oracle(seed: int = 42) -> str:
    cfg_ctes, stat_rows, v_names = [], [], []
    for b, r in BAND_SWEEP:
        n = f"b{b}"
        cfg_ctes.append(_band_cte("sigs", f"{n}_bands", bands=b, rows=r))
        cfg_ctes.append(
            f"""{n}_cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {n}_bands a JOIN {n}_bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
{n}_scored AS (
    SELECT c.doc_a, c.doc_b, ({_EST_SQL} >= {MINHASH_TAU}) AS ok
    FROM {n}_cands c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
),"""
        )
        v_names.append(f"SELECT doc_a, doc_b FROM {n}_scored WHERE ok")
        stat_rows.append(
            f"""SELECT {b}::INT AS bands, {r}::INT AS rows_per_band,
       count(*)::BIGINT AS n_candidates,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
FROM {n}_scored"""
        )
    union_cte = f"""u AS (
    SELECT count(*)::BIGINT AS n_union FROM (
        {" UNION ".join(v_names)}
    )
)"""
    stats = " UNION ALL ".join(f"({s})" for s in stat_rows)
    return f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                       t -> length(t) > 0) AS tks
    FROM documents
),
{_minhash_sig_ctes("tk", "", seed)}
{"".join(cfg_ctes)}
{union_cte}
SELECT bands, rows_per_band, n_candidates, n_verified, n_union,
       CAST((n_verified * 1000000) // nullif(n_union, 0) AS BIGINT) AS recall_ppm
FROM ({stats}) CROSS JOIN u
"""


ORACLE["minhash_band_curve"] = _band_curve_oracle()


QUERIES = {
    "dedup_exact": dedup_exact,
    "minhash_band_curve": minhash_band_curve,
    "dup_span_docs": dup_span_docs,
    "dedup_spans_apply": dedup_spans_apply,
    "dup_run_stats": dup_run_stats,
    "dedup_runs_apply": dedup_runs_apply,
    "dup_run_threshold_curve": dup_run_threshold_curve,
    "line_dedup_stats": line_dedup_stats,
    "line_dedup_hist": line_dedup_hist,
    "line_dedup_apply": line_dedup_apply,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_containment_pairs": ngram_containment_pairs,
    "dedup_minhash": dedup_minhash,
    "minhash_est_error": minhash_est_error,
    "dedup_simhash": dedup_simhash,
    "fuzzy_name_pairs": fuzzy_name_pairs,
}
