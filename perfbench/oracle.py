"""Print a workload's oracle expectations as JSON.

    python3 -m perfbench.oracle <workload> <seed>

``run.py`` runs this as a child process while the Spark session starts
and warms up, so the DuckDB oracles add to set-up time but neither load
the measured loop nor follow it.
"""

from __future__ import annotations

import json
import subprocess
import sys


def start(root: str, workload: str, seed: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.oracle", workload, str(seed)],
        cwd=root,
        stdout=subprocess.PIPE,
        text=True,
    )


def finish(proc: subprocess.Popen):
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError(f"the oracle process exited with code {proc.returncode}")
    return json.loads(out)


def main() -> None:
    from perfbench.workloads import WORKLOADS

    workload, seed = sys.argv[1], int(sys.argv[2])
    json.dump(WORKLOADS[workload](seed, None).expected(), sys.stdout)


if __name__ == "__main__":
    main()
