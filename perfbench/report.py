"""Self time by workload x layer, from the traced runs' span files.

    python3 perfbench/report.py .perfbench_data/traces/*.json
"""

from __future__ import annotations

import json
import sys

LAYERS = ("operators.build", "planner.plan", "collect.driver", "scheduler", "executor",
          "harness")


def self_time_table(rows: dict[str, dict]) -> str:
    """``rows`` maps a workload to its trace summary: ``self_s`` per layer
    and the traced and untraced ``warm_total_s``."""
    head = ["workload", *LAYERS, "traced_warm_s", "untraced_warm_s", "overhead_s"]
    lines = [head]
    for wl, r in sorted(rows.items()):
        traced, plain = r["traced_warm_total_s"], r["untraced_warm_total_s"]
        lines.append([wl, *(f"{r['self_s'].get(layer, 0.0):.3f}" for layer in LAYERS),
                      f"{traced:.3f}", f"{plain:.3f}", f"{traced - plain:+.3f}"])
    widths = [max(len(row[i]) for row in lines) for i in range(len(head))]
    return "\n".join("  ".join(c.rjust(w) for c, w in zip(row, widths))
                     for row in lines)


if __name__ == "__main__":
    summaries = {}
    for path in sys.argv[1:]:
        with open(path) as f:
            t = json.load(f)
        summaries[f"{t['provenance']['workload']}@{t['provenance']['seed']}"] = t
    print("self seconds per traced warm pass (median over passes)")
    print(self_time_table(summaries))
