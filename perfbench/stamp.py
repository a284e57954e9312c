"""Configuration stamp carried by every benchmark artifact, and the rule
that refuses to compare artifacts measured under different
configurations."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess

# Fields that identify the code under test rather than how it was run:
# comparing two commits is the point, so these may differ.
CODE_FIELDS = ("git_sha", "source_digest")


def source_digest(root: str) -> str:
    """sha1 over the engine's Python sources and the query registry, so
    a checkout without git history still identifies its code."""
    h = hashlib.sha1()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(root, "bigdatamanagement_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def make_stamp(root: str, run: dict, launch: dict[str, str]) -> dict:
    """``run`` holds the benchmark's own settings (workload, seed, passes,
    seconds, trace, input directory); ``launch`` the cwd and environment
    the launcher set, with paths relative to the checkout so two
    checkouts of different commits stamp alike."""
    import pandas
    import pyspark

    return {
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pandas": pandas.__version__,
        "launch": launch,
        **run,
    }


def config_diff(a: dict, b: dict) -> dict[str, tuple]:
    """Configuration fields on which two stamps disagree."""
    keys = (set(a) | set(b)) - set(CODE_FIELDS)
    return {k: (a.get(k), b.get(k)) for k in sorted(keys) if a.get(k) != b.get(k)}


class StampMismatch(ValueError):
    pass


def check_comparable(a: dict, b: dict) -> None:
    diff = config_diff(a, b)
    if diff:
        raise StampMismatch(
            "artifacts measured under different configurations: "
            + ", ".join(f"{k}={x!r} vs {y!r}" for k, (x, y) in diff.items())
        )
