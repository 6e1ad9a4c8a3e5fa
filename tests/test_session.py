"""The session ``get_spark`` builds is stopped at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sockets() -> set[str]:
    return {e for e in os.listdir("/tmp") if e.startswith(".") and e.endswith(".sock")}


@pytest.mark.parametrize("ending", [
    pytest.param("", id="never_stops"),
    pytest.param("spark.stop()\nspark._sc._gateway.shutdown()\n", id="stops_and_shuts_gateway"),
])
def test_script_exit_leaves_no_socket_file(ending):
    """PySpark's accumulator server binds ``/tmp/.<uuid>.sock`` and removes
    it only when the context stops. A script that calls ``get_spark``
    (twice: one exit hook) and exits without ``stop()`` leaves none; one
    that stopped the session and shut its gateway (as perfbench/run.py
    does) exits without an error from the hook."""
    script = (
        "import atexit, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "hooks = []\n"
        "register = atexit.register\n"
        "atexit.register = lambda f, *a, **k: (hooks.append(f), register(f, *a, **k))[1]\n"
        "from grapefruit_spark.session import get_spark\n"
        "get_spark('no-stop', master='local[1]')\n"
        "spark = get_spark('no-stop', master='local[1]')\n"
        "print('\\nCOUNT', spark.range(3).count())\n"
        "print('HOOKS', sum(f.__module__ == 'grapefruit_spark.session' for f in hooks))\n"
        + ending
    )
    before = _sockets()
    out = subprocess.run([sys.executable, "-c", script],
                         env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert _sockets() - before == set()
    assert out.stdout.splitlines()[-2:] == ["COUNT 3", "HOOKS 1"]
    assert "Exception ignored" not in out.stderr, out.stderr[-4000:]
