"""Round-15 optimization-round gates: every tiered/fused rewrite this
round must produce bit-identical values to the path it replaces, pinned
here on the driver corpus AND on planted corpora that exercise the
branch points (saturated σ, negative weights, gramless docs)."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.usefixtures("spark")

SF_DIR = "/root/testdata/sf0.001"


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


def test_logit_fused_tier_matches_distributed(spark):
    """The r15 fused GD kernel (all LOGIT_ITERS steps in one numpy task)
    must equal the distributed per-step loop weight for weight on the
    driver corpus — the exact frame the hash gate checks."""
    from grapefruit_spark.operators.search import (
        LOGIT_FUSED_MAX_DOCS,
        _logit_weight_rows,
    )

    fused = _logit_weight_rows(spark, SF_DIR)  # tier picks fused
    dist = _logit_weight_rows(spark, SF_DIR, fused_max_docs=0)
    assert sorted(fused) == sorted(dist)
    assert len(fused) == 65
    # the driver corpus really is inside the fused tier
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert 0 < n_docs <= LOGIT_FUSED_MAX_DOCS


def test_logit_fused_tier_planted_branches(spark, tmp_path):
    """Planted corpus exercising σ saturation directions, negative
    weights (trunc-toward-zero vs floor division would diverge on them),
    and a gramless doc (bias-only code row): fused == distributed."""
    from grapefruit_spark.operators.search import _logit_weight_rows

    rows = (
        # strongly positive-label cluster (pushes some weights up)
        [(i, "good clean prose with many simple words here " * 8)
         for i in range(40)]
        # strongly negative cluster (pushes bias/feature weights down —
        # the negative-weight trunc-div branch)
        + [(100 + i, "zzz !!! ### " * 40) for i in range(40)]
        # gramless doc: single token → no bigram, bias-only codes
        + [(900, "solo")]
        # NULL text
        + [(901, None)]
    )
    d = _docs_dir(tmp_path, rows)
    fused = _logit_weight_rows(spark, d)
    dist = _logit_weight_rows(spark, d, fused_max_docs=0)
    assert sorted(fused) == sorted(dist)
    # the plant really produced both signs (otherwise the trunc-div
    # branch point was never exercised)
    ws = [w for _, w in fused]
    assert any(w > 0 for w in ws) and any(w < 0 for w in ws)


def test_bpe_fused_tier_matches_distributed(spark):
    """The r15 fused BPE kernel (all merge rounds in one task, with
    incremental pair maintenance) must equal the distributed per-round
    loop merge for merge on the driver corpus."""
    from grapefruit_spark.operators.text import (
        BPE_FUSED_MAX_WORDS,
        _bpe_merge_rows,
    )

    fused = _bpe_merge_rows(spark, SF_DIR)
    dist = _bpe_merge_rows(spark, SF_DIR, fused_max_words=0)
    assert fused == dist
    assert len(fused) > 0
    assert BPE_FUSED_MAX_WORDS > 0  # tier actually on by default


def test_bpe_fused_tier_planted_chained_merges(spark, tmp_path):
    """Planted corpus where later merges CONSUME earlier merge outputs
    (multi-char symbols) and a tie exists — the incremental
    subtract/rewrite/add path and the pair-ASC tie-break must match the
    distributed recount exactly."""
    from grapefruit_spark.operators.text import _bpe_merge_rows

    rows = (
        [(i, "abab ababab abababab") for i in range(30)]  # chained ab→abab
        + [(100 + i, "cd cd cd") for i in range(10)]       # competing pair
        + [(200, "xyz xzy zyx")]                            # tie fodder
        + [(201, None), (202, "a")]                         # NULL / 1-char
    )
    d = _docs_dir(tmp_path, rows)
    fused = _bpe_merge_rows(spark, d)
    dist = _bpe_merge_rows(spark, d, fused_max_words=0)
    assert fused == dist
    # the plant really chained: some merged pair contains a multi-char
    # symbol produced by an earlier merge
    assert any(len(p.replace(" ", "")) > 2 for _, p, _ in fused)
