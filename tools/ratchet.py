#!/usr/bin/env python3
"""Per-query bench ratchet: compare a new Bench sweep JSON against a
baseline sweep JSON and flag regressions.

Round 8 makes executor CPU (Bench's "cpu_queries") the PRIMARY ratchet
column: wall-clock cross-round comparisons on this box have required
manual A/B adjudication two rounds running (external host-load spikes
inflate wall 60-80% uniformly, and the same commit reads ~15% slower from
/root/repo than /tmp), while the CPU column stays flat across same-code
sweeps (±3.6% measured r7). So when BOTH sweeps carry cpu_queries:

  - SUSPECT      = >20% AND >0.3 s slower in CPU (code, until adjudicated)
  - WALL-ONLY    = wall regressed but CPU flat — annotated as the known
                   host-load/location artifact, not queued for bisection

When either sweep lacks the CPU column (pre-r6 baselines), falls back to
the wall-primary round-4 protocol, and suspects need the isolated
min-of-4 rerun (SPARK_GRAFT_ONLY) before being called real.

Recommended baselines: history/BENCH_SWEEP_r7_final.json (local[32]) and
history/BENCH_STANDALONE_r7.json (2-executor standalone). Beware the ratchet
trap: a sweep baseline can PREDATE same-round conversions — cross-check
the newest same-code sweep before bisecting.

Usage: python3 tools/ratchet.py BASELINE.json NEW.json
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    wall = {k: v for k, v in d["queries"].items() if v >= 0}
    cpu = {k: v for k, v in d.get("cpu_queries", {}).items() if v >= 0}
    return wall, cpu


def regressions(base, new, common):
    sus, imp = [], []
    for q in common:
        b, n = base.get(q), new.get(q)
        if b is None or n is None:
            continue
        if n > b * 1.2 and n - b > 0.3:
            sus.append((q, b, n))
        elif b > n * 1.2 and b - n > 0.3:
            imp.append((q, b, n))
    return sus, imp


def main():
    (base, bcpu), (new, ncpu) = load(sys.argv[1]), load(sys.argv[2])
    common = sorted(set(base) & set(new))
    missing = sorted(set(base) - set(new))
    added = sorted(set(new) - set(base))
    if missing:
        print(f"MISSING in new sweep ({len(missing)}): {missing}")
    if added:
        print(f"ADDED in new sweep ({len(added)}): {added}")
    if not common:
        sys.exit("ERROR: no common queries between the two sweeps — "
                 "wrong files, or a sweep that errored out entirely.")

    has_cpu = bool(bcpu) and bool(ncpu)
    cpu_common = [q for q in common if bcpu.get(q, 0) > 0 and q in ncpu] \
        if has_cpu else []

    tb, tn = sum(base[q] for q in common), sum(new[q] for q in common)
    if tb > 0:
        print(f"common queries: {len(common)}  baseline wall {tb:.1f}s  "
              f"new wall {tn:.1f}s  ratio {tn / tb:.3f}")
    ratios = sorted(new[q] / base[q] for q in common if base[q] > 0)
    if ratios:
        print(f"median per-query wall ratio: {ratios[len(ratios) // 2]:.3f}")
    if cpu_common:
        cr = sorted(ncpu[q] / bcpu[q] for q in cpu_common)
        print(f"median per-query CPU ratio:  {cr[len(cr) // 2]:.3f}  "
              f"(cpu totals {sum(bcpu[q] for q in cpu_common):.1f}s -> "
              f"{sum(ncpu[q] for q in cpu_common):.1f}s)")

    wall_sus, wall_imp = regressions(base, new, common)

    if has_cpu:
        cpu_sus, cpu_imp = regressions(bcpu, ncpu, cpu_common)
        cpu_sus_q = {q for q, _, _ in cpu_sus}
        print(f"\nCPU SUSPECTS (primary ratchet; >20% AND >0.3 CPU-s "
              f"slower): {len(cpu_sus)}")
        for q, b, n in sorted(cpu_sus, key=lambda x: x[1] - x[2]):
            print(f"  {q:<32} cpu {b:7.2f}s -> {n:7.2f}s  (+{n - b:.2f}s, "
                  f"{n / b:.2f}x)  wall {base[q]:6.2f}s -> {new[q]:6.2f}s")
        wall_only = [(q, b, n) for q, b, n in wall_sus if q not in cpu_sus_q]
        # Wall-up/CPU-flat is USUALLY the known host-load/location artifact,
        # but real regressions that add wait without CPU (lost parallelism,
        # extra shuffle/spill I/O, barrier stalls) present the same way —
        # so these are NEEDS-ADJUDICATION, not dismissed: one isolated
        # min-of-N rerun (tools/adjudicate.py, or SPARK_GRAFT_ONLY by hand)
        # decides SCATTER vs WALL-CONFIRMED.
        print(f"\nwall-only suspects (CPU flat — likely host-load/location "
              f"artifact; NEEDS ADJUDICATION via tools/adjudicate.py "
              f"before dismissal): {len(wall_only)}")
        for q, b, n in sorted(wall_only, key=lambda x: x[1] - x[2]):
            cb, cn = bcpu.get(q, 0), ncpu.get(q, 0)
            cr = f"{cn / cb:.2f}x" if cb > 0 else "n/a"
            print(f"  {q:<32} wall {b:7.2f}s -> {n:7.2f}s ({n / b:.2f}x)  "
                  f"cpu {cr}")
        print(f"\nCPU improved (>20% AND >0.3 CPU-s faster): {len(cpu_imp)}")
        for q, b, n in sorted(cpu_imp, key=lambda x: x[2] - x[1]):
            print(f"  {q:<32} cpu {b:7.2f}s -> {n:7.2f}s  ({n - b:.2f}s, "
                  f"{n / b:.2f}x)")
    else:
        print("\n(no CPU column in one of the sweeps — wall-primary "
              "fallback; suspects need the isolated min-of-4 rerun)")
        print(f"\nSUSPECTS (>20% AND >0.3s slower): {len(wall_sus)}")
        for q, b, n in sorted(wall_sus, key=lambda x: x[1] - x[2]):
            print(f"  {q:<32} {b:7.2f}s -> {n:7.2f}s  (+{n - b:.2f}s, "
                  f"{n / b:.2f}x)")
        print(f"\nimproved (>20% AND >0.3s faster): {len(wall_imp)}")
        for q, b, n in sorted(wall_imp, key=lambda x: x[2] - x[1]):
            print(f"  {q:<32} {b:7.2f}s -> {n:7.2f}s  ({n - b:.2f}s, "
                  f"{n / b:.2f}x)")


if __name__ == "__main__":
    main()
