#!/usr/bin/env python3
"""Print the benchmark report from the records ``run.py`` leaves behind.

    python3 perfbench/report.py [RECORD_OR_DIR ...]

With no argument it reads ``.perfbench/results/``. For each workload it
prints every end-to-end metric (median and quartiles over the untraced runs,
with unit and sample counts, plus the error rate), then the per-layer table
of the latest traced run: span wall and self times, every layer metric with
its unit, the base of every ratio or derived value, and the tracing overhead.
Host facts (nproc, memory, Spark version) and the seeds are printed with it.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths or [os.path.join(ROOT, ".perfbench", "results")]:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        rec["_mtime"] = os.path.getmtime(f)
        out.append(rec)
    return out


def _quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def end_to_end(recs: list[dict]) -> list[str]:
    seeds = sorted({r["seed"] for r in recs})
    lines = [f"  end-to-end: {len(recs)} untraced runs, seeds {seeds}"]
    samples = {
        "setup_s": f"{sum(len(r['setup_samples_s']) for r in recs)} set-ups (session start + median set-up per run)",
        "job_s": f"{sum(r['warm_samples'] for r in recs)} warm jobs, median per run "
                 f"(no tail percentile: fewer than ten samples lie beyond any)",
        "throughput": f"unit is {recs[-1]['throughput_unit']}",
        "peak_rss_mb": "driver JVM + Python driver + Python workers",
    }
    rows = [(name, m["unit"], [r["metrics"][name]["value"] for r in recs], samples.get(name, ""))
            for name, m in recs[-1]["metrics"].items()]
    rows.append(("first_job_s", "s", [r["first_job_s"] for r in recs], f"{len(recs)} first jobs; reported, not gated"))
    lines.append(f"    {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}  unit     samples")
    for name, unit, values, note in rows:
        q1, med, q3 = _quartiles(values)
        lines.append(f"    {name:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}  {unit:<8} {note}")
    attempted = sum(len(r["job_samples_s"]) for r in recs)
    failed = sum(len(r["problems"]) for r in recs)
    lines.append(f"    {'error_rate':<14}{failed / attempted:>12.4g}{'':>24}  fraction {failed} failed / {attempted} attempted jobs")
    for r in recs:
        for p in r["problems"]:
            lines.append(f"      seed {r['seed']} job {p['job']}: {'; '.join(p['problems'])}")
    return lines


def per_layer(rec: dict) -> list[str]:
    lines = [f"  per-layer: traced run, seed {rec['seed']}"]
    lines.append(f"    {'span':<18}{'parent':<10}{'wall s':>9}{'self s':>9}")
    for s in rec["spans"]:
        lines.append(
            f"    {s['name']:<18}{s['parent'] or '-':<10}{s['end'] - s['start']:>9.3f}"
            f"{rec['self_s'][s['name']]:>9.3f}"
        )
    lines.append(f"    {'metric':<30}{'value':>14}  unit   base")
    for name, m in rec["metrics"].items():
        base = rec["bases"].get(name, "")
        lines.append(f"    {name:<30}{m['value']:>14.6g}  {m['unit']:<6} {base}")
    lay = rec["layers"]
    lines.append(
        f"    tracing overhead: traced job {lay['trace.job_s']:.3f} s - untraced job "
        f"{lay['trace.untraced_job_s']:.3f} s = {lay['trace.overhead_s']:+.3f} s"
    )
    return lines


def main(argv: list[str]) -> int:
    recs = load(argv)
    if not recs:
        print("no records found; run perfbench/run.py first", file=sys.stderr)
        return 1
    host = max(recs, key=lambda r: r["_mtime"])["host"]
    print(
        f"host: nproc {host['nproc']}, cores used {host['cores_used']}, memory {host['mem_total_gb']} GB, "
        f"Spark {host['spark']}, Python {host['python']}"
    )
    by = collections.defaultdict(lambda: {0: [], 1: []})
    for r in recs:
        by[r["workload"]][r["trace"]].append(r)
    for wl in sorted(by):
        print(f"\n== {wl} ==")
        plain, traced = by[wl][0], by[wl][1]
        if plain:
            print("\n".join(end_to_end(sorted(plain, key=lambda r: r["_mtime"]))))
        if traced:
            print("\n".join(per_layer(max(traced, key=lambda r: r["_mtime"]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
