#!/usr/bin/env python3
"""Write pins.json: the outputs the benchmark checks every run against.

    python3 perfbench/pin.py [first_seed [last_seed]]

For each corpus seed (default 0 .. ops.PINNED_SEEDS-1) and each workload's
corpus size, build the graph once and record the rows and value_hash of
every checked stage; at the publish size, also the result of one publish
pass, after checking its graph count and sha256 fold against a
serialization computed in the driver.  Run it from the repository root,
at a commit whose outputs are known to be right, and only when the
program's outputs are meant to change.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import ops

REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    first = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    last = int(sys.argv[2]) if len(sys.argv) > 2 else ops.PINNED_SEEDS - 1
    sys.path.insert(0, str(REPO))
    work = REPO / ".perfbench_work" / "pin"
    work.mkdir(parents=True, exist_ok=True)
    table = json.loads(ops.PINS_PATH.read_text()) if ops.PINS_PATH.is_file() else {}
    spark = ops.start_session(work)
    try:
        for seed in range(first, last + 1):
            for n in sorted(set(ops.RECORDS.values())):
                src_path, out = work / "src", work / "build"
                ops.write_src(spark, src_path, n, seed)
                lineage = ops.build(spark, ops.read_src(spark, src_path), out)
                summary = ops.build_summary(lineage)
                entry = {"build": {s: list(summary[s]) for s in ops.CHECKED_STAGES}}
                if n == ops.RECORDS["kg_publish"]:
                    graph = out / "graph"
                    result = ops.serialize(spark, graph) + ops.export_titles(spark, graph)
                    local = ops.local_sha_fold(spark, graph)
                    if local != result[:2]:
                        raise SystemExit(f"seed {seed}: publish {result[:2]} != "
                                         f"driver-side serialization {local}")
                    entry["publish"] = list(result)
                table.setdefault(str(n), {})[str(seed)] = entry
                ops.PINS_PATH.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
                print(n, seed, entry, flush=True)
    finally:
        ops.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
