"""Environment-knob budget.

The engine's only environment reads are deployment settings in
``session.py``.  Operator form choices (direct vs two-pass, collapse
shape) are decided from the input, never by an env override, so a
new ``os.environ``/``getenv`` anywhere else in the package fails here
at import speed (no SparkSession needed).
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "tweetdb_spark"
ENV_READ = re.compile(r"\benviron\b|\bgetenv\b")
SESSION_KNOBS = {"SPARK_GRAFT_CPUS", "TWEETDB_SHUFFLE_PARTITIONS", "TWEETDB_DRIVER_MEM"}


def test_env_reads_only_in_session():
    offenders = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ENV_READ.search(line)
    ]
    assert not offenders, "env reads outside session.py:\n" + "\n".join(offenders)
    src = (PKG / "session.py").read_text()
    names = set(re.findall(r"environ\.get\(\s*\"(\w+)\"", src))
    assert names == SESSION_KNOBS, names
