"""Per-layer report from a traced run's span file.

    python3 perfbench/report.py .perfbench_out/spans-<workload>-seed<n>.json

Prints each layer's self time (span time minus the time of the spans it
encloses), call counts, the per-layer metrics with the base of every
ratio, the end-to-end metric and workload each should move
(``layers.LAYER_MAP``), and the tracing overhead (traced pass wall minus
the untraced pass wall of the same process).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import MOVES, PER_LAYER, per_layer, self_times  # noqa: E402


def render(path: str) -> str:
    with open(path) as fh:
        doc = json.load(fh)
    meta, spans = doc["meta"], doc["spans"]
    walls = meta["traced_pass_walls"]
    n_pass = len(walls)
    counts: dict[str, int] = {}
    for s in spans:
        counts[s["name"]] = counts.get(s["name"], 0) + 1
    selfs = self_times(spans)
    lines = [
        f"per-layer report: {meta['workload']} seed={meta['seed']} "
        f"traced passes={n_pass} cores={meta['cores']}",
        f"  {'span':28s} {'calls/pass':>10s} {'self s/pass':>12s}",
    ]
    for name in sorted(selfs, key=lambda n: -selfs[n]):
        lines.append(f"  {name:28s} {counts[name] / n_pass:10.1f} {selfs[name] / n_pass:12.4f}")
    lines.append("  ('op' self time is benchmark-side time inside an operation outside any layer span)")
    metrics = per_layer(
        meta["workload"], spans, walls, meta["untraced_pass_wall"], meta["cores"], meta["peak_rss_mb"]
    )
    lines.append(f"  {'metric':30s} {'value':>14s} unit   definition  [moves: end-to-end metric @ workload]")
    for name, (value, unit) in metrics.items():
        moves, workload = MOVES[name]
        lines.append(f"  {name:30s} {value:14.6g} {unit:6s} {PER_LAYER[name][2]}  [{moves} @ {workload}]")
    return "\n".join(lines)


if __name__ == "__main__":
    print(render(sys.argv[1]))
