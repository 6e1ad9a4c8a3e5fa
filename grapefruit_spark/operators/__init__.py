"""Operator registry: every module contributes QUERIES (name → callable
(spark, sf_dir) → DataFrame) and ORACLE (name → DuckDB SQL)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, QueryFn]:
    """Registry in round-robin module order.

    External checkers may only sample a prefix of this dict, so instead
    of concatenating modules (which starves whichever blocks sort last),
    we interleave one query per module per round. Within a module,
    oracle-backed queries come first so a sampled prefix maximizes hash-
    checked (not just rows-only) coverage. Every §2 block then appears
    within the first len(_modules()) entries of any prefix.
    """
    from itertools import chain, zip_longest

    per_module: list[list[tuple[str, QueryFn]]] = []
    for mod in _modules():
        names = list(mod.QUERIES)
        ordered = [n for n in names if n in mod.ORACLE] + [
            n for n in names if n not in mod.ORACLE
        ]
        per_module.append([(n, mod.QUERIES[n]) for n in ordered])
    items = [
        item
        for item in chain.from_iterable(zip_longest(*per_module))
        if item is not None
    ]
    # Queries that have never earned a green row in any driver-written
    # CORRECTNESS_r*.json go FIRST (preserving the interleaved order), so
    # a checker sampling a prefix verifies exactly the never-proven set.
    # The proven remainder orders by STALENESS — the round of each
    # query's most recent green driver row, oldest first — so a 50-query
    # prefix sample always re-proves exactly the entries whose evidence
    # has aged the most, and no query's last green row can age more than
    # ceil(registry/sample) rounds. (The former fixed-offset rotation
    # could skip entries when the registry grew between rounds.)
    hist = _green_history()
    unproven = _never_green(hist)
    head = [it for it in items if it[0] in unproven]
    tail = [it for it in items if it[0] not in unproven]
    last_green = _last_green_rounds(hist)
    tail.sort(key=lambda it: last_green.get(it[0], 0))  # stable within a cohort
    return dict(head + tail)


# Queries whose oracle text or Spark emission changed AFTER their last
# green driver row. Each stays front-loaded until it earns a hash-green
# row in a round whose number is >= the listed one; then the rule
# self-clears. All r9 entries (dedup_keep_best, q7/q8 customer side,
# split_leakage_safe) earned their r9 greens — verified against
# CORRECTNESS_r09 in the r10 registry audit — and were pruned; only
# live entries remain.
_REPROVE_SINCE: dict[str, int] = {
    # r10 (VERDICT_r9 order #1): ALL remaining forced broadcast() hints
    # on SF-scaling tables (customer/part/supplier and frames derived
    # from them) removed — AQE picks the strategy from runtime size
    # stats. Values identical, plan changed; every touched query must
    # re-earn a hash-green driver row.
    "q3_shipping_priority": 10,
    "q5_local_supplier": 10,
    "q10_returned_items": 10,
    "q14_promo_effect": 10,
    "q18_large_volume": 10,
    "q2_min_cost_supplier": 10,
    "q7_volume_shipping": 10,   # supplier side this round (customer was r9)
    "q8_market_share": 10,      # part+supplier sides (customer was r9)
    "q9_product_profit": 10,
    "q11_important_parts": 10,
    "q15_top_supplier": 10,
    "q16_supplier_part_types": 10,
    "q17_small_qty_revenue": 10,
    "q19_discounted_revenue": 10,
    "q20_promotion_suppliers": 10,
    "q21_late_suppliers": 10,
    "supplier_hhi": 10,
    # r10 (ADVICE_r9): minhash_est_error's persist+count became eager
    # localCheckpoint (storage reclaimed with the returned frame) —
    # values identical, plan changed
    "minhash_est_error": 10,
    # r10 (ADVICE_r9): dedup_cluster_stats dropped a dead coalesce
    # around count() — emission text changed
    "dedup_cluster_stats": 10,
    # r10: gram pipeline extracted into _decon_gram_frame for the new
    # contamination_report (pure extraction, emission byte-identical —
    # re-proved at sf0.01 AND sf0.1 locally; front-loaded anyway per
    # the contract)
    "decontaminate_ngrams": 10,
    # r11 (VERDICT_r10 order #1): events_pareto_share's unpartitioned
    # global ntile(10) replaced by range-partitioned rank + partition-
    # offset cumsum + ntile arithmetic — values identical (same oracle),
    # plan changed; must re-earn a hash-green driver row.
    "events_pareto_share": 11,
    # r11 (ADVICE_r10): quality_gopher_rules' symbols term now uses
    # integer `div 3` (matching the oracle's operator and the stated
    # all-integer invariant) — values identical, emission changed
    "quality_gopher_rules": 11,
    # r11 (ADVICE_r10): schema_evolution_sim's merge leg guards the
    # flagged count on evolved-column presence (degenerate one-parity
    # corpora) — values identical on the gate data, emission changed
    "schema_evolution_sim": 11,
    # r11 (ADVICE_r10): connected_components_star raises on round-cap
    # exhaustion instead of silently emitting unconverged labels —
    # values identical (the cap never binds on LSH graphs), path changed
    "dedup_clusters_star": 11,
    # r11: lang_id stages its token array once instead of re-splitting
    # the text inside all five per-language hit counters (the
    # doc_repetition_stats CodegenFallback lesson) — values identical
    # (hash-green at sf0.01/0.1 locally), plan changed; langid_confusion
    # consumes lang_id's frame and must re-prove with it
    "lang_id": 11,
    "langid_confusion": 11,
    # r12 (ADVICE_r11): hard_negative_mining rounds cosine BEFORE the
    # partition-local cut with neighbor_id tie-break (drops the 2k
    # buffer) — values identical, emission changed
    "hard_negative_mining": 12,
    # r12 (ADVICE_r11): minhash_band_curve mini-band keys are raw slice
    # values (not xxhash64), the one-row aggregate is eagerly collected
    # so the signature cache unpersists, and a sample knob was added —
    # values identical (hash-green at sf0.01/0.1 locally), plan changed
    "minhash_band_curve": 12,
    # r12 (ADVICE_r11): doc_charset_stats uses the explicit
    # [ \t\n\r\f] whitespace class on both engines (bare \s diverges on
    # U+000B) — values identical on gate data, emission changed
    "doc_charset_stats": 12,
    # r12 (ADVICE_r11): write_manifest_sim reads the hive layout back
    # with an explicit schema (partition-column type inference off) —
    # values identical, read path changed
    "write_manifest_sim": 12,
    # r13 (VERDICT_r12 order #3): doc_backoff_surprisal upgraded to the
    # full trigram→bigram→unigram→OOV Brants recursion (new emission:
    # n_trigrams + per-level bo_* counts); doc_perplexity_buckets
    # consumes its frame and changes with it
    "doc_backoff_surprisal": 13,
    "doc_perplexity_buckets": 13,
    # r13 (ADVICE_r12): NULL-text labels coalesce to 0 in both classifier
    # rows (matching the oracle's CASE WHEN; the NULL previously reached
    # numpy as NaN→INT64_MIN in fit) — values identical on NULL-free
    # corpora, emission changed
    "quality_classifier_fit": 13,
    "quality_classifier_score": 13,
    # r13 NULL-text audit: dedup_spans_apply's clean_text now coalesces
    # to '' on NULL-text docs (matching its oracle's coalesce); values
    # identical on every NULL-free corpus, emission changed
    "dedup_spans_apply": 13,
    # r13 NULL-text audit, second wave: lang_id's oracle maps NULL hits
    # to 'und' (Spark contract); langid_confusion embeds that oracle;
    # doc_rolling_fingerprint coalesces the NULL-text fold to the
    # oracle's empty-prefix 0; minhash_est_error's oracle coalesces a
    # NULL token list to [] (the identical-empty-grams exact=1 case).
    # Values identical on every NULL-free corpus.
    "lang_id": 13,
    "langid_confusion": 13,
    "doc_rolling_fingerprint": 13,
    "minhash_est_error": 13,
    # r14 (ADVICE_r13): dup_run_threshold_curve's 4-row threshold frame
    # is now the true broadcast BUILD side (inner NLJ + left join-back
    # for zero-count thresholds) — values identical, plan changed
    "dup_run_threshold_curve": 14,
    # r14 (ADVICE_r13): the logit oracle keeps the per-feature gradient
    # in DECIMAL(38,0) through the weight update (HUGEINT truncating
    # division, narrowed after the divide) — values identical at every
    # gate SF, oracle text changed; the score row embeds the fit CTEs
    "quality_classifier_logit": 14,
    "quality_classifier_logit_score": 14,
    # r14 (ADVICE_r13): minhash_band_curve gained a guard on its
    # corpus-sample setting — values identical, guard path added
    "minhash_band_curve": 14,
    # r14 (VERDICT_r13 #5): pii_redact extended with SSN/IPv4/IPv6 and
    # Luhn-verified credit-card masking (new count columns + the CC
    # replace fold); ingest_pipeline_sim's redaction stage now runs the
    # full chain on both engines (identical on PII-free gate corpora,
    # emission text changed)
    "pii_redact": 14,
    "ingest_pipeline_sim": 14,
    # r14 (VERDICT_r13 #4): embedding_pca_project emits the exact
    # (num div n, num % n) pair with the wide numerator folded through
    # DECIMAL(38,0) on both engines — corpus-size-free columns replace
    # the ~3·10⁷-vector bigint ceiling; emission schema changed
    "embedding_pca_project": 14,
    # r14 sf1 full-registry sweep catch: embedding_dim_prune's
    # share_ppm numerator (var_num·10⁶ ≈ n²·var·10⁶) overflowed int64
    # between the sf0.1 gate and 10× — now DECIMAL(38,0)-folded on both
    # engines; values identical at every gate SF, emission text changed
    "embedding_dim_prune": 14,
}


def _green_history() -> tuple[set[str], dict[str, set[int]], set[str]]:
    """Scan the driver-written CORRECTNESS_r*.json files once: returns
    (green names, green rounds per name, ever-sampled names). A row is
    green when hash-verified, or when it ran clean as a rows-only-by-
    design query (no oracle registered)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    oracles = all_oracles()
    green: set[str] = set()
    green_rounds: dict[str, set[int]] = {}
    sampled: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            sampled.add(name)
            if not isinstance(row, dict):
                continue
            if row.get("err") is None and row.get("hash_match") is True:
                green.add(name)  # oracle-backed, hash-verified
                green_rounds.setdefault(name, set()).add(rnd)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                if name not in oracles:
                    green.add(name)  # rows-only by design, ran clean
                    green_rounds.setdefault(name, set()).add(rnd)
    return green, green_rounds, sampled


def _last_green_rounds(
    hist: tuple[set[str], dict[str, set[int]], set[str]] | None = None,
) -> dict[str, int]:
    """name → most recent round with a green driver row (for staleness-
    first registry ordering)."""
    _, green_rounds, _ = hist if hist is not None else _green_history()
    return {name: max(rounds) for name, rounds in green_rounds.items() if rounds}


def _never_green(
    hist: tuple[set[str], dict[str, set[int]], set[str]] | None = None,
) -> set[str]:
    """Query names needing driver proof: no passing CORRECTNESS row in
    any prior round, no HASH-green row for oracle-backed queries (a
    rows-only pass stops counting once the query gains an oracle), or a
    _REPROVE_SINCE entry not yet re-proven after its change round.
    Deterministic within a round; empty when no driver files exist."""
    green, green_rounds, sampled = hist if hist is not None else _green_history()
    if not sampled:
        return set()
    all_names = {n for mod in _modules() for n in mod.QUERIES}
    unproven = all_names - green
    for name, since in _REPROVE_SINCE.items():
        if name in all_names and not any(
            r >= since for r in green_rounds.get(name, ())
        ):
            unproven.add(name)
    return unproven


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLE)
    return out


def _modules():
    from . import relational

    mods = [relational]
    for name in (
        "relational_ext",
        "mapreduce_apps",
        "windows",
        "dedup",
        "similarity",
        "text",
        "multimodal",
        "analytics",
        "graph",
        "pipeline",
        "datapipe",
        "event_analytics",
        "search",
        "ml",
        "scale",
        "io_sims",
    ):
        try:
            mods.append(__import__(f"{__name__}.{name}", fromlist=[name]))
        except ImportError:
            pass
    return mods
