"""Self-test of the input generators: building a workload's inputs twice
from one seed gives byte-identical files, and another seed gives
different files.

    python3 perfbench/selftest.py            # every workload
    python3 perfbench/selftest.py event_stream

Writes under ``.bench_cache/selftest/`` in the working directory and
removes it afterwards. Exits 1 on the first violation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import BUILD  # noqa: E402


def digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def check(workload: str, scratch: str) -> list[str]:
    build = BUILD[workload][0]
    got = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        path = os.path.join(scratch, workload, tag)
        os.makedirs(path)
        build(seed, path)
        got[tag] = digests(path)
    errors = []
    if got["a"] != got["b"]:
        errors.append(f"{workload}: seed 1 built twice gives different files")
    if got["a"] == got["c"]:
        errors.append(f"{workload}: seeds 1 and 2 give identical files")
    return errors


def main() -> int:
    scratch = os.path.join(os.getcwd(), ".bench_cache", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    errors = []
    try:
        for workload in sys.argv[1:] or sorted(BUILD):
            found = check(workload, scratch)
            print(f"{workload}: {'FAIL' if found else 'ok'}", flush=True)
            errors += found
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
