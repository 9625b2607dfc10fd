"""Print the benchmark's tables from result JSON.  Spark-free.

    python3 perfbench/render.py .bench_results/*.json
"""

from __future__ import annotations

import json
import os
import sys

from fold import layer_unit

UNITS = {
    "urls_per_s": "1/s",
    "round_s.p50": "s",
    "round_s.tail": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_url": "B",
    "scaling_eff_1to4": "ratio",
    "failed_ratio": "ratio",
}


def _fmt(v: float) -> str:
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.4g}"


def tracing_overhead(traced: dict, untraced: dict) -> str:
    """Traced minus untraced median round wall of one workload and seed."""
    t = traced["end_to_end"]["round_s.p50"]["median"]
    u = untraced["end_to_end"]["round_s.p50"]["median"]
    return (f"tracing overhead: round_s.p50 {t:.3f} s traced vs {u:.3f} s untraced"
            f" ({t - u:+.3f} s, {(t - u) / u:+.1%})")


def render(result: dict, untraced_path: str | None = None) -> str:
    """Tables of one result; a traced result also gets its tracing
    overhead against the untraced result at ``untraced_path``, if any."""
    head = (
        f"== {result['workload']}  seed {result['seed']}  trace {result['trace']}  "
        f"local[{result['cores']}]  heap {result['heap']}  "
        f"rounds attempted {result['attempted']}  failed {result['failed']}  "
        f"wall {result['wall_s']:.1f} s"
    )
    lines = [head, "", "end-to-end (median [q1, q3] over n samples)"]
    for name, s in result.get("end_to_end", {}).items():
        spread = f"[{_fmt(s['q1'])}, {_fmt(s['q3'])}]" if "q1" in s else ""
        pct = f" (p{s['pct']})" if "pct" in s else ""
        lines.append(
            f"  {name + pct:<24} {_fmt(s['median']):>10} {UNITS.get(name, ''):<6}"
            f" {spread:<24} n={s['n']}"
        )
    layer = result.get("per_layer")
    if layer:
        lines += ["", "per-layer (traced crawl, per round)"]
        if untraced_path and os.path.exists(untraced_path) and "end_to_end" in result:
            with open(untraced_path) as fh:
                untraced = json.load(fh)
            if "end_to_end" in untraced:
                lines.append("  " + tracing_overhead(result, untraced))
        for name in sorted(layer):
            lines.append(f"  {name:<36} {_fmt(layer[name]):>12} {layer_unit(name)}")
        rows = result.get("rounds", [])
        if rows:
            lines += ["", "  round   wall_s   busy_s  gap_s  jobs  tasks  rank_jobs  selected"]
            for r in rows:
                lines.append(
                    f"  {r['round']:>5} {r['wall_s']:>8.3f} {r['busy_s']:>8.3f}"
                    f" {r['driver_gap_s']:>6.3f} {r['spark.jobs']:>5} {r['spark.tasks']:>6}"
                    f" {r['crawl.rank.jobs']:>10} {r['n_selected']:>9}"
                )
    return "\n".join(lines)


def main(paths: list[str]) -> int:
    for p in paths:
        with open(p) as fh:
            result = json.load(fh)
        untraced = p.replace("-trace1.json", "-trace0.json") if result["trace"] else None
        print(render(result, untraced))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
