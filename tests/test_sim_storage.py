"""Sim storage lifetime: every registry query that stages files keeps them
only while it runs. A frame it returns reads no file under the temp
directory and no catalog table of its own, so a long-lived shared session
does not grow with every call, and the frame still answers once the call's
storage is gone."""

from __future__ import annotations

import os
import re
import tempfile

import pytest

from grapefruit_spark.operators import all_oracles, all_queries

from .conftest import SF_DIR
from .util import assert_matches_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the registry queries that stage files while they run, and mj_exe_wordcount,
#: whose external programs must not be files in the host-shared temp root
STAGING_QUERIES = [
    "stream_markov_sim",
    "stream_attribution_outer_sim",
    "stream_dedup_sim",
    "stream_rollup_sim",
    "stream_ttl_sim",
    "sdfs_sim",
    "cli_sim",
    "mj_exe_wordcount",
    "scale_skew_sim",
    "write_partition_overwrite_sim",
    "schema_evolution_sim",
    "write_manifest_sim",
    "snapshot_read_sim",
    "write_layout_sim",
    "ingest_pipeline_sim",
    "ingest_spans_sim",
]


@pytest.mark.parametrize("name", STAGING_QUERIES)
def test_a_sim_keeps_no_storage_once_it_returns(spark, duck, tmp_path, monkeypatch, name):
    """While the returned frame is alive, the temp directory is empty and the
    catalog's tables are unchanged; the frame then still collects its
    oracle's answer (rows, for a rows-only query), and collecting writes
    nothing there either."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tables = sorted(t.name for t in spark.catalog.listTables())
    df = all_queries()[name](spark, SF_DIR)
    assert os.listdir(tmp_path) == []
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    oracle = all_oracles().get(name)
    if oracle is None:
        assert df.collect()
    else:
        assert_matches_oracle(df, duck, oracle)
    assert os.listdir(tmp_path) == []


def test_temp_storage_lives_only_in_with_blocks():
    """No module makes a temp directory that outlives its call: no
    ``mkdtemp`` or ``gettempdir`` (the shared temp root), no exit-time
    cleanup list, and no ``atexit`` hook but ``session.py``'s."""
    root = os.path.join(REPO, "grapefruit_spark")
    banned = re.compile(r"mkdtemp|gettempdir|scratch_dir|scratch_release")
    offenders = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if not f.endswith(".py"):
                continue
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line) or (
                        "atexit" in line and p != os.path.join(root, "session.py")
                    ):
                        offenders.append(f"{os.path.relpath(p, REPO)}:{i}")
    assert offenders == [], f"stage files in a tempfile.TemporaryDirectory block: {offenders}"
