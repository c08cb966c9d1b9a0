"""The defaulted-parameter audit of ``code_stats.py --never-passed``:
every option left in the package is one some call sets, except the
deployment settings a caller supplies from outside the repository."""

from __future__ import annotations

import os
import subprocess
import sys

from code_stats import never_passed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: deployment settings: where a long-running stream checkpoints and
#: which Cassandra keyspace the connector sink writes
ALLOWED = {"run_unbounded.checkpoint_dir", "CassandraSink.keyspace"}


def test_package_has_no_never_passed_parameter_but_deployment_settings():
    out = subprocess.run(
        [sys.executable, "code_stats.py", "--never-passed",
         "cassaforte_meter_transmission_gen_spark"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout
    assert {line.split()[-1] for line in out.splitlines()} == ALLOWED


def test_constructor_call_passes_init_parameters():
    defs = {
        "sink.py": (
            "class Sink:\n"
            "    def __init__(self, root, keyspace='k', mode='w', ttl=0):\n"
            "        pass\n"
        )
    }
    calls = {"use.py": "Sink('r', 'ks')\nSink('r', mode='a')\n"}
    assert never_passed(defs, calls) == ["sink.py:2  Sink.ttl"]
