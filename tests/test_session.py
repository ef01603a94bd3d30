"""Session-factory lifecycle: what a process leaves behind."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import os
from lakehouse_v3_spark.session import get_spark
spark = get_spark(master="local[1]", driver_memory="1g")
print([p for p in os.environ["PYTHONPATH"].split(os.pathsep)
       if "lakehouse-pyfiles-" in p])
spark.stop()
"""


def test_shipped_package_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO_DIR)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    shipped = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert shipped and all(p.startswith(str(tmp_path)) for p in shipped)
    assert not list(tmp_path.glob("lakehouse-pyfiles-*"))
