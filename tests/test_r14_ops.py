"""Round-14 operators: cross-document line-level dedup (the
RefinedWeb/CCNet boilerplate tier) and the C4 rule filter (Raffel et al.
2020 §2.2).

Planted corpora pin the branch points the degenerate gate data can't
reach: real multi-line docs with shared boilerplate lines (trim
matching, within-doc-only repeats surviving, NULL text) and one document
per C4 rule so every boolean flips somewhere.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .util import assert_matches_oracle

pytestmark = pytest.mark.usefixtures("spark")


def _docs_dir(tmp_path, rows) -> str:
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["web"] * len(rows)),
                "n_chars": pa.array(
                    [len(r[1]) if r[1] is not None else 0 for r in rows],
                    pa.int64(),
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


def _duck_for(d: str):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    return con


LINE_ROWS = [
    (1, "accept cookies\nunique line one\nnav bar"),
    (2, "accept cookies\nanother body\nnav bar\nnav bar"),
    (3, "totally unique\ndoc three"),
    (4, None),  # NULL text → 0 lines, clean_text ''
    (5, "  accept cookies  \nrepeat me\nrepeat me"),  # trim match; the
    # within-doc-only 'repeat me' pair must SURVIVE (cross-doc semantics)
    (6, ""),  # empty-but-not-NULL
]


@pytest.fixture(scope="module")
def line_dir(tmp_path_factory):
    return _docs_dir(tmp_path_factory.mktemp("linededup"), LINE_ROWS)


def test_line_dedup_stats_oracle_and_semantics(spark, line_dir):
    from grapefruit_spark.operators import dedup

    assert_matches_oracle(
        dedup.line_dedup_stats(spark, line_dir),
        _duck_for(line_dir),
        dedup.ORACLE["line_dedup_stats"],
    )
    rows = {
        r["n_docs"]: r for r in dedup.line_dedup_stats(spark, line_dir).collect()
    }
    # exactly two cross-doc duplicated lines: 'accept cookies' (docs
    # 1, 2, 5 — doc 5 via trim) and 'nav bar' (docs 1, 2; 3 occurrences)
    assert len(rows) == 2
    assert rows[3]["first_doc"] == 1 and rows[3]["n_occur"] == 3
    assert rows[2]["n_occur"] == 3  # nav bar occurs twice in doc 2


def test_line_dedup_hist_oracle_and_conservation(spark, line_dir):
    from grapefruit_spark.operators import dedup

    assert_matches_oracle(
        dedup.line_dedup_hist(spark, line_dir),
        _duck_for(line_dir),
        dedup.ORACLE["line_dedup_hist"],
    )
    hist = {
        r["n_docs"]: (r["n_lines"], r["n_occur"])
        for r in dedup.line_dedup_hist(spark, line_dir).collect()
    }
    # planted corpus: 'accept cookies' df=3, 'nav bar' df=2, and 5
    # unique lines (incl. the within-doc 'repeat me' pair as ONE line
    # with 2 occurrences in one doc)
    assert hist[3] == (1, 3) and hist[2] == (1, 3)
    # conservation: histogram occurrences sum to the corpus line total
    total_lines = sum(
        r["n_lines"]
        for r in dedup.line_dedup_apply(spark, line_dir).collect()
    )
    assert sum(occ for _, occ in hist.values()) == total_lines


def test_line_dedup_apply_oracle_and_semantics(spark, line_dir):
    from grapefruit_spark.operators import dedup

    assert_matches_oracle(
        dedup.line_dedup_apply(spark, line_dir),
        _duck_for(line_dir),
        dedup.ORACLE["line_dedup_apply"],
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["clean_text"])
        for r in dedup.line_dedup_apply(spark, line_dir).collect()
    }
    assert out[1] == (3, 2, "unique line one")
    assert out[2] == (4, 3, "another body")
    assert out[3] == (2, 0, "totally unique\ndoc three")
    assert out[4] == (0, 0, "")  # NULL text
    # the within-doc-only duplicate pair survives; the boilerplate line
    # strips even though doc 5's copy carried surrounding whitespace
    assert out[5] == (3, 1, "repeat me\nrepeat me")
    assert out[6] == (0, 0, "")


C4_ROWS = [
    # passes every rule: one line, 3 sentences, ≥5 words each
    (1, "This is a good first sentence here. Another full sentence "
        "follows right after! Is this a third sentence too?"),
    # 2-word line dropped by the keep filter; the kept line has only one
    # sentence → r_min_sentences fails
    (2, "Short line.\nThis one has five words."),
    (3, "One good sentence is right here. A second one is also here. "
        "A third sentence appears now. But lorem ipsum kills the page."),
    (4, "A curly brace { should kill this page now. Even with sentences "
        "galore everywhere here. Three of them right here indeed."),
    (5, "This page mentions porn so it dies. Sentence number two is "
        "right here. Sentence number three is right here."),
    # the word javascript drops the only line → 0 kept lines
    (6, "A line with enough words but javascript inside it dies here."),
    (7, None),
    (8, "no terminal punctuation at all"),
    # ends with a closing quote → terminal-punct rule accepts it
    (9, 'He said the magic words "now." Then he said them again "now." '
        'And once more he said "now."'),
]


@pytest.fixture(scope="module")
def c4_dir(tmp_path_factory):
    return _docs_dir(tmp_path_factory.mktemp("c4rules"), C4_ROWS)


def test_c4_rules_oracle_and_one_doc_per_rule(spark, c4_dir):
    from grapefruit_spark.operators import text as textops

    assert_matches_oracle(
        textops.quality_c4_rules(spark, c4_dir),
        _duck_for(c4_dir),
        textops.ORACLE["quality_c4_rules"],
    )
    r = {
        x["doc_id"]: x.asDict()
        for x in textops.quality_c4_rules(spark, c4_dir).collect()
    }
    assert r[1]["pass_c4"] is True and r[1]["n_sentences"] == 3
    assert r[2]["n_kept_lines"] == 1 and r[2]["r_min_sentences"] is False
    assert r[3]["r_no_lorem"] is False and r[3]["r_min_sentences"] is True
    assert r[4]["r_no_brace"] is False
    assert r[5]["r_no_badwords"] is False
    assert r[6]["n_kept_lines"] == 0  # javascript line-drop
    assert r[7] == {
        "doc_id": 7, "n_lines": 0, "n_kept_lines": 0, "n_sentences": 0,
        "r_min_sentences": False, "r_no_lorem": True, "r_no_brace": True,
        "r_no_badwords": True, "pass_c4": False,
    }
    assert r[8]["n_kept_lines"] == 0 and r[8]["n_sentences"] == 0
    assert r[9]["pass_c4"] is True  # closing-quote terminal punctuation
    # exactly one page passes per positive branch; every rule fails
    # somewhere in the corpus
    assert sum(v["pass_c4"] for v in r.values()) == 2


# --------------------------------------------------------- ADVICE_r13


def test_threshold_curve_broadcasts_the_4row_side(spark):
    """ADVICE_r13: the former broadcast-hinted LEFT-outer join could not
    build its outer (thr) side, so the BNLJ silently broadcast the
    SCALING runs relation. Pin the fixed shape: the non-equi join is
    INNER with BuildRight = the 4-row threshold frame."""
    from grapefruit_spark.operators import dedup

    plan = (
        dedup.dup_run_threshold_curve(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert len(bnlj) == 1
    assert "BuildRight, Inner" in bnlj[0], bnlj[0]


def test_pca_project_full_range_emission(spark, tmp_path):
    """VERDICT_r13 #4: embedding_pca_project's former single-bigint
    numerator died at num ≈ 2.6e11·n (n ≳ 3·10⁷ unit vectors). The r14
    emission is the exact division pair (num div n, num % n): proj_q is
    bounded by the DATA magnitude alone and proj_r < n, so no emitted
    quantity grows with corpus size, and the wide numerator folds
    through DECIMAL(38,0) on both engines.

    Reachability note (derived r14): the OLD int64 ceiling could never
    actually fire through this call chain — num ~ 10⁶·n·Σ|c−μ| while
    embedding_covariance's diagonal emits n·Σc² ≥ (nδ)²/n·... ≈ (num/
    (64·10⁶))², so any corpus pushing num past 2⁶³ overflows the
    upstream covariance row (its documented gate bound) first. The
    planted corpus therefore drives num past 2⁵³ (exact-float64 — the
    regime where a float fold would silently round, ~5 orders past the
    gate SFs) and proves the decimal path bit-exact there.
    """
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from grapefruit_spark.operators import similarity

    rng = random.Random(7)
    n = 1500
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [[rng.uniform(-750, 750) for _ in range(8)] for _ in range(n)],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    assert_matches_oracle(
        similarity.QUERIES["embedding_pca_project"](spark, d),
        con,
        similarity.ORACLE["embedding_pca_project"],
    )
    rows = similarity.QUERIES["embedding_pca_project"](spark, d).collect()
    mx = max(
        abs(r[f"proj_q_{c}"] * n + r[f"proj_r_{c}"])
        for r in rows
        for c in range(4)
    )
    assert mx > 2**53  # the numerator really left exact-float64 range
    assert all(abs(r[f"proj_r_{c}"]) < n for r in rows for c in range(4))


def test_logit_gradient_survives_int64_scale(spark, tmp_path):
    """ADVICE_r13: the logit oracle's per-feature gradient used to be
    CAST AS BIGINT — on a hot feature |g| = 1024·10¹²·n_docs passes
    int64 at n ≳ 9·10³ docs and DuckDB raised a cast error. 20k
    identical docs put the bias gradient at 20000·1024·5·10¹¹ ≈
    1.02·10¹⁹ > 2⁶³ on the very first step; the DECIMAL(38,0)-held
    gradient (narrowed only after the division) must stay hash-green.
    """
    from grapefruit_spark.operators import search

    n = 20_000
    d = _docs_dir(tmp_path, [(i, "a b") for i in range(n)])
    assert n * 1024 * (10**12 // 2) > 2**63  # the planted overflow
    assert_matches_oracle(
        search.QUERIES["quality_classifier_logit"](spark, d),
        _duck_for(d),
        search.ORACLE["quality_classifier_logit"],
    )
