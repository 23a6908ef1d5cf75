"""Regenerate BASELINE.md's per-query baseline table from BENCH_FULL.json.

The prose table went stale once before (it still said "@ r5" four rounds
after the binding record moved to the committed BENCH_FULL.json), which
invites the same stale-baseline confusion the bench tripwire had to be
hardened against. This script rewrites everything between the
PER_QUERY_BASELINE markers from the CURRENT BENCH_FULL.json; run it right
after bench.py so the table cannot drift from the artifact.

Usage: python tools/baseline_md.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
START = "<!-- PER_QUERY_BASELINE_START (generated by tools/baseline_md.py) -->"
END = "<!-- PER_QUERY_BASELINE_END -->"


def render(bench: dict) -> str:
    sys.path.insert(0, REPO)
    from bench import _family

    families: dict[str, list[tuple[str, float, float]]] = {}
    spreads = bench.get("spreads", {})
    for name, sec in bench["queries"].items():
        families.setdefault(_family(name), []).append(
            (name, sec, spreads.get(name, 1.0))
        )

    lines = [
        START,
        "",
        "## Current per-query baseline (generated from BENCH_FULL.json, sf0.1)",
        "",
        f"calibration_sec: {bench.get('calibration_sec', 'n/a')}  |  "
        f"total: {bench.get('value')} s over {len(bench['queries'])} queries",
        "",
        "Baselines with spread > x2 were taken in host noise; the bench",
        "tripwire discounts them (compares against min*spread, see",
        "bench._regression_baseline).",
    ]
    for fam in sorted(families, key=lambda f: -sum(s for _, s, _ in families[f])):
        rows = sorted(families[fam], key=lambda r: (-r[1], r[0]))
        lines += [
            "",
            f"### {fam} ({round(sum(s for _, s, _ in rows), 1)} s)",
            "",
            "| query | sec | spread |",
            "|---|---|---|",
        ]
        lines += [f"| {n} | {s} | x{sp} |" for n, s, sp in rows]
    lines += ["", END]
    return "\n".join(lines)


def main() -> None:
    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        bench = json.load(fh)
    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as fh:
        text = fh.read()
    if START not in text or END not in text:
        print("baseline_md: markers missing in BASELINE.md", file=sys.stderr)
        sys.exit(1)
    head, rest = text.split(START, 1)
    _, tail = rest.split(END, 1)
    with open(path, "w") as fh:
        fh.write(head + render(bench) + tail)
    print("baseline_md: BASELINE.md per-query table regenerated")


if __name__ == "__main__":
    main()
