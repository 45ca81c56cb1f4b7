#!/usr/bin/env python3
"""Copy a traced run's per-operation layer record into ``perfbench/records/``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 1
    python3 perfbench/snapshot.py <name> <n> <commit>

The committed record keeps, for every traced op or request, its layer
inclusive and self times and its counters, plus the per-layer means, the host
stamp and the commit it was measured at, so per-layer numbers of two commits
can be compared from the repository alone. Raw spans stay in ``.perfbench/out``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    workload, seed, commit = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    src = HERE.parent / ".perfbench" / "out" / f"{workload}-seed{seed}-trace1.json"
    run = json.loads(src.read_text())
    keep = ("workload", "seed", "rows", "prep_s", "setup_s", "check_s",
            "host", "failures", "per_layer", "trace_overhead_noise",
            "trace_overhead_resolved", "ops")
    record = {"commit": commit, **{k: run[k] for k in keep}}

    def window(w: dict) -> dict:
        return {k: v for k, v in w.items() if k != "by_class"}
    record["traced"] = window(run["traced"])
    record["untraced"] = [window(w) for w in run["untraced"]]
    dst = HERE / "records" / f"{workload}.json"
    dst.parent.mkdir(exist_ok=True)
    dst.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(dst)
    return 0


if __name__ == "__main__":
    sys.exit(main())
