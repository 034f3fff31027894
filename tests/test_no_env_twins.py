"""Structural guard: the package reads no ``SPARK_GRAFT_*`` environment
variable outside the deployment settings.

An env-read selector (``os.environ.get("SPARK_GRAFT_X", ...)``) is how
an operator grows a second, switched implementation next to its
default one.  Each operator has one kernel, pinned by tests or a DuckDB
oracle; only the session's deployment knobs may come from the
environment.  Any mention counts, comments included, so no docstring
points at a switch that is gone.  Spark-free: a source scan, well
under a second.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "spark_tensors_spark"

DEPLOYMENT = {"CPUS", "SHUFFLE", "STREAM_SHUFFLE", "ROCKSDB"}

_NAME = re.compile(r"SPARK_GRAFT_([A-Z0-9_]+)")


def test_only_deployment_env_settings_are_read():
    offenders, seen = [], set()
    for path in sorted(PKG.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for m in _NAME.finditer(line):
                seen.add(m.group(1))
                if m.group(1) not in DEPLOYMENT:
                    offenders.append(
                        f"{path.relative_to(PKG.parent)}:{lineno}: "
                        f"{m.group(0)}"
                    )
    assert not offenders, "env-switched selectors:\n" + "\n".join(offenders)
    # the scan reached the session's deployment reads, so an empty
    # offender list means something
    assert DEPLOYMENT <= seen
