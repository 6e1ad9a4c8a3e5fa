from __future__ import annotations

import json

from grapefruit_spark import cli
from grapefruit_spark.cluster import conf_dump, info, members


def test_info_fields(spark):
    n = info(spark)
    assert n.app_id and n.master.startswith("local")
    assert n.default_parallelism >= 1 and n.status == "ALIVE"
    assert n.uptime_s >= 0


def test_members_nonempty(spark):
    m = members(spark)
    assert len(m) >= 1
    assert all(e["status"] == "ALIVE" for e in m)


def test_conf_dump_reflects_engine(spark):
    d = conf_dump(spark)
    assert d["spark.sql.adaptive.enabled"] == "true"
    assert d["spark.sql.session.timeZone"] == "UTC"


def test_cli_namespace_roundtrip(spark, tmp_path, capsys):
    src = tmp_path / "in.csv"
    src.write_text("k,v\na,1\nb,2\n")
    wh = str(tmp_path / "wh")
    assert cli.main(["--warehouse", wh, "put", str(src), "t1", "--fmt", "csv"]) == 0
    assert cli.main(["--warehouse", wh, "store"]) == 0
    assert "t1" in capsys.readouterr().out
    assert cli.main(["--warehouse", wh, "global"]) == 0
    assert json.loads(capsys.readouterr().out)["t1"] >= 1
    assert cli.main(["--warehouse", wh, "delete", "t1"]) == 0


def test_cli_put_goes_through_sdfs_put(spark, tmp_path):
    """``cli put`` writes through ``Sdfs.put``, which seeds the schema
    cache: the ``get`` that follows plans without a Spark job."""
    from grapefruit_spark.sdfs import Sdfs

    from .test_schema_cache import _jobs

    src = tmp_path / "in.csv"
    src.write_text("k,v\na,1\nb,2\n")
    wh = str(tmp_path / "wh")
    assert cli.main(["--warehouse", wh, "put", str(src), "t1", "--fmt", "csv"]) == 0
    fs = Sdfs(spark, wh)
    got, n_jobs = _jobs(spark, lambda: fs.get("t1"))
    assert n_jobs == 0
    assert sorted((r["k"], r["v"]) for r in got.collect()) == [("a", 1), ("b", 2)]


def test_cli_info_json(spark, capsys):
    assert cli.main(["info"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "ALIVE"


def test_cli_demo_runs(spark, capsys):
    assert cli.main(["demo", "q6_forecast_revenue"]) == 0
    assert "revenue" in capsys.readouterr().out


def test_cli_maple_juice_executable_path(spark, tmp_path):
    """`maple <exe>` / `juice <exe>` with REAL program files (the
    reference's calling convention) route through rdd.pipe end-to-end."""
    import sys

    from grapefruit_spark.catalog import table
    from grapefruit_spark.sdfs import Sdfs

    from .conftest import SF_DIR

    wh = str(tmp_path / "wh")
    fs = Sdfs(spark, wh)
    fs.put(table(spark, SF_DIR, "documents").select("text").limit(50), "docs")

    mapper = tmp_path / "m.py"
    mapper.write_text(
        "import sys\nfor line in sys.stdin:\n"
        "    for w in line.split():\n        print(f'{w}\\t1')\n"
    )
    reducer = tmp_path / "r.py"
    reducer.write_text(
        "import sys\ncur, acc = None, 0\n"
        "def flush():\n    if cur is not None: print(f'{cur}\\t{acc}')\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n        flush(); cur, acc = k, 0\n"
        "    acc += int(v)\nflush()\n"
    )
    assert cli.main(["--warehouse", wh, "maple", f"{sys.executable} {mapper}", "2", "kv", "docs"]) == 0
    assert cli.main(["--warehouse", wh, "juice", f"{sys.executable} {reducer}", "2", "kv", "counts"]) == 0
    counts = {r["key"]: int(r["value"]) for r in fs.get("counts").collect()}
    assert len(counts) > 0 and all(v >= 1 for v in counts.values())


def test_cli_sim_matches_wordcount_oracle(spark, duck):
    """The A11/A12 driver-gate sim: the whole put→maple→juice→ls→store→
    info→members CLI session must land value-identical to the wordcount
    oracle (and its in-sim introspection asserts must hold)."""
    from grapefruit_spark.operators.mapreduce_apps import ORACLE, cli_sim

    from .conftest import SF_DIR
    from .util import assert_matches_oracle

    assert_matches_oracle(cli_sim(spark, SF_DIR), duck, ORACLE["cli_sim"])
