#!/usr/bin/env python3
"""Per-query scaling-ratio table between two BENCH_FULL records
(VERDICT r13 item 1: convert the repo's 100 TB-shape comments into a
measured sf0.1 -> sf1 wall-time ratio table; every super-linear
outlier must be fixed or explained in-record).

Usage: scaling_report.py BENCH_FULL_sf0.1.json BENCH_FULL_sf1.json \
          [data_ratio] [outlier_ratio] > SCALING_sf1.md

data_ratio: nominal data growth between the records (default 10).
outlier_ratio: flag queries whose wall grew more than this (default 15
— 1.5x the data growth leaves AQE/partition-count headroom before a
slope reads as super-linear).

Sub-second sf0.1 slots are ratio-noise (scheduler quanta dominate), so
rows with base < 0.2 s are flagged only when the scaled wall ALSO
exceeds base*outlier + 1 s absolute.

Shared builds (the record's per-tag `builds` seconds) get their own
table under the same ratio and outlier rule. When both records carry
the per-slot `stages` anatomy, each flagged query also shows its
effective parallelism and serial-stage count on both sides; older
records without `stages` still parse.
"""
import json
import sys


def load(path):
    with open(path) as f:
        rec = json.load(f)
    qs = {k: v for k, v in rec.get("queries", {}).items()
          if not k.endswith("_iso") and v >= 0}
    return rec, qs


def ratio_rows(base, scaled, outlier):
    """(name, base s, scaled s, ratio, flagged) for every common key."""
    rows = []
    for q in sorted(set(base) & set(scaled)):
        b, s = base[q], scaled[q]
        ratio = s / b if b > 0.005 else float("inf") if s > 0.05 else 1.0
        noise_floor = b < 0.2
        flagged = (ratio > outlier and
                   (not noise_floor or s > b * outlier + 1.0))
        rows.append((q, b, s, ratio, flagged))
    return rows


def table(rows, label):
    print(f"| {label} | base s | scaled s | ratio | flag |")
    print("|---|---|---|---|---|")
    for q, b, s, ratio, fl in sorted(rows, key=lambda r: -r[3]):
        rs = "inf" if ratio == float("inf") else f"{ratio:.1f}x"
        print(f"| {q} | {b:.2f} | {s:.2f} | {rs} | "
              f"{'SUPER-LINEAR' if fl else ''} |")


def main():
    base_path, scaled_path = sys.argv[1], sys.argv[2]
    data_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    outlier = float(sys.argv[4]) if len(sys.argv) > 4 else 15.0
    base_rec, base = load(base_path)
    scaled_rec, scaled = load(scaled_path)
    common = sorted(set(base) & set(scaled))
    missing = sorted(set(base) ^ set(scaled))
    rows = ratio_rows(base, scaled, outlier)

    flagged = [r for r in rows if r[4]]
    print(f"# Scaling report: {base_path} -> {scaled_path}")
    print()
    print(f"- queries compared: {len(common)}"
          + (f" (no counterpart: {len(missing)})" if missing else ""))
    print(f"- nominal data growth: {data_ratio:g}x; "
          f"outlier threshold: >{outlier:g}x wall")
    tb = sum(r[1] for r in rows)
    ts = sum(r[2] for r in rows)
    print(f"- total wall: {tb:.1f}s -> {ts:.1f}s "
          f"({ts / tb:.1f}x for {data_ratio:g}x data)")
    med = sorted(r[3] for r in rows if r[3] != float('inf'))
    if med:
        print(f"- median per-query ratio: {med[len(med) // 2]:.1f}x")
    print(f"- super-linear outliers: {len(flagged)}")
    print()
    table(rows, "query")

    base_st, scaled_st = base_rec.get("stages"), scaled_rec.get("stages")
    if flagged and base_st is not None and scaled_st is not None:
        print()
        print("Stage anatomy of the flagged queries (base -> scaled):")
        print()
        print("| query | eff_parallelism | serial_stages |")
        print("|---|---|---|")
        for q, *_ in flagged:
            b, s = base_st.get(q), scaled_st.get(q)
            if b is None or s is None:
                continue
            print(f"| {q} | {b['eff_parallelism']:.2f} -> "
                  f"{s['eff_parallelism']:.2f} | "
                  f"{b['serial_stages']} -> {s['serial_stages']} |")

    builds = ratio_rows(base_rec.get("builds", {}),
                        scaled_rec.get("builds", {}), outlier)
    if builds:
        print()
        print(f"Shared builds: {len(builds)} tags compared, "
              f"super-linear outliers: {sum(1 for r in builds if r[4])}")
        print()
        table(builds, "build")
    if missing:
        print()
        print(f"Missing from one side: {', '.join(missing)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
