"""Tables that registered queries build live in temp directories that
are removed when the process exits (the queries return lazy DataFrames
over them, so they cannot go earlier)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_scratch_dir_is_removed_at_process_exit(tmp_path):
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from ethereum_etl_airflow_spark.queries import _scratch_dir\n"
        "d = _scratch_dir('scratch_test_')\n"
        "os.makedirs(os.path.join(d, 't', 'data'))\n"
        "open(os.path.join(d, 't', 'data', 'f.parquet'), 'wb').close()\n"
        "print(d)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)


def test_query_builders_make_temp_dirs_through_the_helper():
    """No module of the package calls ``tempfile.mkdtemp`` except the
    helper and the demo script, which removes its own work dir."""
    pkg = REPO / "ethereum_etl_airflow_spark"
    callers = {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"tempfile\.mkdtemp\(", p.read_text())
    }
    assert callers == {"queries.py", "streaming/demo.py"}
    assert (pkg / "queries.py").read_text().count("tempfile.mkdtemp(") == 1
