"""``session.ship_package`` builds its package zip in a directory of
its own process and removes it at exit, and gives every ship its own
``addPyFile`` name (two package roots loaded into one process, as
``scripts/bench_ab.py`` does, must not register one name twice)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Ships to two stub contexts (no JVM) and prints the shipped paths.
_SHIP_TWICE = """
import json, types, zipfile
from nomad_event_streamer_spark import session

shipped = []

class Ctx:
    def __init__(self, app):
        self.applicationId = app

    def addPyFile(self, path):
        with zipfile.ZipFile(path) as zf:
            assert "nomad_event_streamer_spark/session.py" in zf.namelist()
        shipped.append(path)

for app in ("app-1", "app-2"):
    session.ship_package(types.SimpleNamespace(sparkContext=Ctx(app)))
print(json.dumps(shipped))
"""


def test_ship_package_names_each_ship_and_leaves_no_zip(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=_REPO)
    out = subprocess.run(
        [sys.executable, "-c", _SHIP_TWICE],
        env=env,
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    shipped = json.loads(out.stdout.splitlines()[-1])
    assert len({os.path.basename(p) for p in shipped}) == 2, shipped
    assert all(p.startswith(str(tmp_path)) for p in shipped), shipped
    assert os.listdir(tmp_path) == []
