#!/usr/bin/env python3
"""Automated sweep-outlier adjudication (round 9 — closes the one manual
step left in the bench protocol).

Takes the same two sweep JSONs as tools/ratchet.py, computes the suspect
lists (CPU suspects = primary ratchet; wall-only suspects = the
needs-adjudication bucket), then AUTOMATICALLY re-runs each suspect in an
isolated Bench JVM (SPARK_GRAFT_ONLY=<query>, min-of-N) and emits a final
machine-labeled verdict table:

  CODE-REGRESSION  isolated min-of-N CPU still >20% AND >0.3 s over the
                   baseline — the slowdown survives isolation, so it is
                   in the code; bisect it.
  WALL-CONFIRMED   (wall-only suspects) isolated wall confirms the
                   regression while CPU stays flat — a real non-CPU
                   regression (lost parallelism, shuffle/spill I/O,
                   barrier stall); investigate, don't dismiss.
  SCATTER          isolation reads at/below the suspect threshold — the
                   sweep reading was in-sweep contamination / host load
                   (the adjacent-query GC+cache pressure documented in
                   BENCH_NOTES r5-r8); no action.

With `--ab BASELINE_REF` a second phase runs: every confirmed suspect is
re-measured under the BASELINE COMMIT, built and run from a temporary
`git worktree` of it that is removed afterwards (the working tree, its
uncommitted edits included, is never touched) — the interleaved
same-window old/new A/B that rounds 5-9 established as the only
load-proof reading when isolation itself runs under host load
(sustained external load inflates even isolated CPU ~1.2-1.5x; both r9
sweeps measured it directly). A/B verdicts:

  AB-SAME          the old commit reads the same (within the ratchet
                   threshold) under current conditions — the regression
                   is box state, demoted, no action.
  AB-CONFIRMED     the new code still reads >20% AND >0.3 s over the old
                   commit in the same window — real; bisect.

This is exactly the hand-run protocol from rounds 5-8, mechanized. Exit
1 when any AB-CONFIRMED (or, without --ab, CODE-REGRESSION /
WALL-CONFIRMED) verdict lands, 0 otherwise, so the round can gate.

Usage:
  python3 tools/adjudicate.py BASELINE.json NEW.json [options]
    --repeat N        isolated min-of-N (default 4)
    --cpus N          cores for the isolated local run (default 32)
    --sf DIR          data dir (default: the NEW sweep's "sf" field)
    --out FILE        verdict JSON (default ADJUDICATION.json)
    --max-suspects N  safety cap on reruns (default 60)
    --ab REF          A/B-confirm suspects against this commit's engine
    --list-only       print the suspect lists and exit (no reruns)
    --no-package      skip the sbt package freshness step

The isolated runs use spark-submit on the packaged jar (same code path
as tools/standalone_bench.sh, local master) — sbt packages first unless
--no-package, so the rerun always executes the CURRENT tree.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ratchet import load, regressions  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def jar(tree):
    return os.path.join(tree, "target", "scala-2.13",
                        "cascadinghivespark_2.13-0.1.0.jar")


def ensure_jar(tree=REPO):
    """Package `tree` — an adjudication that reruns STALE code would
    compare the wrong commit and mislabel every verdict."""
    r = subprocess.run(["sbt", "-batch", "package"], cwd=tree,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.exit(f"sbt package failed:\n{r.stdout[-2000:]}")
    if not os.path.exists(jar(tree)):
        sys.exit(f"packaged jar not found at {jar(tree)}")


LAUNCHER = "local"


def run_isolated(query, sf, repeat, cpus, tree=REPO):
    """One Bench run of `tree`'s build timing exactly one query min-of-N;
    returns (wall, cpu) or (None, None) on failure. Every run starts in
    REPO, whichever tree it builds from, so both sides of an A/B launch
    from the same directory. LAUNCHER picks the mode:
    'local' = one spark-submit local[cpus] JVM; 'standalone' = a
    standalone_bench.sh invocation (own master + 2 executor JVMs) so
    suspects from a STANDALONE sweep are adjudicated under the same
    real-exchange path they were measured on — a local-mode rerun of a
    cross-JVM reading compares different constants."""
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        out = tf.name
    env = dict(os.environ,
               SPARK_GRAFT_ONLY=query,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_REPEAT=str(repeat),
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_BENCH_JSON=out)
    if LAUNCHER == "standalone":
        r = subprocess.run(
            ["bash", os.path.join(tree, "tools", "standalone_bench.sh"),
             sf, str(repeat), query],
            env=env, cwd=REPO, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    else:
        r = subprocess.run(
            [SPARK_SUBMIT, "--master", f"local[{cpus}]",
             "--driver-memory", "8g",
             "--conf", "spark.ui.enabled=false",
             "--conf", f"spark.sql.shuffle.partitions={cpus}",
             "--class", "graft.Bench", jar(tree)],
            env=env, cwd=REPO, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    try:
        with open(out) as f:
            d = json.load(f)
        os.unlink(out)
        w = d["queries"].get(query, -1)
        c = d.get("cpu_queries", {}).get(query, -1)
        if w is None or w < 0:
            print(f"  [adjudicate] {query}: isolated run ERRORED "
                  f"(tail of output):\n{r.stdout[-1500:]}", file=sys.stderr)
            return None, None
        return w, c
    except (OSError, json.JSONDecodeError, KeyError) as e:
        print(f"  [adjudicate] {query}: could not read isolated result "
              f"({e}); spark-submit rc={r.returncode}, tail:\n"
              f"{r.stdout[-1500:]}", file=sys.stderr)
        return None, None


def confirms(base, isolated):
    """The ratchet's own suspect rule, applied to the isolated reading."""
    return isolated > base * 1.2 and isolated - base > 0.3


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def ab_phase(rows, sf, repeat, cpus, ref):
    """Re-measure every confirmed suspect under the baseline commit's
    engine source — the load-proof reading. BRACKETED: a fresh new-tree
    pass runs BEFORE and AFTER the old-tree pass (new = elementwise min
    of the two brackets), so a load window that drifts across the phase
    cannot manufacture a confirmation — the first A/B design compared
    phase-1 readings (taken ~40 min earlier under different load)
    against the old pass and mislabeled 10 box-state suspects as real.
    The old commit is checked out into its own temporary worktree and
    built there, so the working tree is never switched and no file that
    one commit has and the other lacks leaks into either build."""
    todo = [r for r in rows if r["verdict"] in
            ("CODE-REGRESSION", "WALL-CONFIRMED", "AB-CONFIRMED")]
    if not todo:
        return
    print(f"[adjudicate] A/B phase: {len(todo)} confirmed suspects vs "
          f"{ref} (bracketed new/old/new passes, isolated each)")

    def sweep_pass(label, tree=REPO):
        out = {}
        for r in todo:
            q = r["query"]
            print(f"[adjudicate] A/B [{label}] {q}...", flush=True)
            out[q] = run_isolated(q, sf, repeat, cpus, tree)
        return out

    newA = sweep_pass("new-1")
    with tempfile.TemporaryDirectory(prefix="graft-ab-") as tmp:
        old_tree = os.path.join(tmp, "old")
        subprocess.run(["git", "worktree", "add", "--detach", old_tree, ref],
                       cwd=REPO, check=True)
        try:
            ensure_jar(old_tree)
            old = sweep_pass(f"old {ref}", old_tree)
        finally:
            subprocess.run(["git", "worktree", "remove", "--force",
                            old_tree], cwd=REPO, check=True)
    newB = sweep_pass("new-2")

    def pick(v, kind):
        return (v[1] if kind == "cpu" else v[0]) if v and v[0] is not None \
            else None
    for r in todo:
        q, kind = r["query"], r["suspect_kind"]
        ow = pick(old.get(q), kind)
        nws = [x for x in (pick(newA.get(q), kind), pick(newB.get(q), kind))
               if x is not None]
        r["ab_old_wall"], r["ab_old_cpu"] = old.get(q, (None, None))
        r["ab_new_brackets"] = nws
        if ow is None or not nws:
            r["verdict"] = "RERUN-FAILED"
            r["detail"] += "; A/B bracketed rerun failed"
            continue
        nw = min(nws)
        if confirms(ow, nw):
            r["verdict"] = "AB-CONFIRMED"
            r["detail"] += (f"; A/B bracketed: old {ow:.2f}s vs new "
                            f"min{tuple(round(x, 2) for x in nws)} "
                            f"= {nw:.2f}s — real")
        else:
            r["verdict"] = "AB-SAME"
            r["detail"] += (f"; A/B bracketed: old {ow:.2f}s vs new "
                            f"min{tuple(round(x, 2) for x in nws)} "
                            f"= {nw:.2f}s — box state, demoted")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("baseline")
    ap.add_argument("new")
    ap.add_argument("--repeat", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--sf", default=None)
    ap.add_argument("--out", default="ADJUDICATION.json")
    ap.add_argument("--max-suspects", type=int, default=60)
    ap.add_argument("--ab", default=None, metavar="REF",
                    help="A/B-confirm suspects against this commit")
    ap.add_argument("--launcher", choices=["local", "standalone"],
                    default="local",
                    help="rerun mode — match the MODE the sweeps were "
                         "measured in (standalone suspects need the "
                         "real-exchange path)")
    ap.add_argument("--recheck", action="store_true",
                    help="skip phase 1: load --out and re-run the A/B "
                         "phase on its confirmed rows only")
    ap.add_argument("--list-only", action="store_true")
    ap.add_argument("--no-package", action="store_true")
    args = ap.parse_args()

    global LAUNCHER
    LAUNCHER = args.launcher
    (bwall, bcpu), (nwall, ncpu) = load(args.baseline), load(args.new)
    with open(args.new) as f:
        sf = args.sf or json.load(f).get("sf", "/root/testdata/sf0.1")

    if args.recheck:
        if not args.ab:
            sys.exit("--recheck needs --ab REF")
        with open(args.out) as f:
            rows = json.load(f)["verdicts"]
        if not args.no_package:
            ensure_jar()
        ab_phase(rows, sf, args.repeat, args.cpus, args.ab)
        finish(args, sf, rows)
        return

    common = sorted(set(bwall) & set(nwall))
    if not common:
        sys.exit("no common queries between the sweeps")

    has_cpu = bool(bcpu) and bool(ncpu)
    cpu_common = [q for q in common
                  if bcpu.get(q, 0) > 0 and q in ncpu] if has_cpu else []
    wall_sus, _ = regressions(bwall, nwall, common)
    if has_cpu:
        cpu_sus, _ = regressions(bcpu, ncpu, cpu_common)
        cpu_q = {q for q, _, _ in cpu_sus}
        wall_only = [(q, b, n) for q, b, n in wall_sus if q not in cpu_q]
    else:
        # pre-r6 baselines: wall is all we have — every wall suspect is
        # adjudicated on wall
        cpu_sus, wall_only = [], wall_sus

    suspects = [(q, "cpu", b, n) for q, b, n in cpu_sus] + \
               [(q, "wall", b, n) for q, b, n in wall_only]
    print(f"[adjudicate] {len(cpu_sus)} CPU suspects, "
          f"{len(wall_only)} wall-only suspects (sf={sf})")
    if args.list_only or not suspects:
        for q, kind, b, n in suspects:
            print(f"  {kind:<5} {q:<34} {b:7.2f} -> {n:7.2f} ({n / b:.2f}x)")
        if not suspects:
            print("[adjudicate] nothing to adjudicate — sweeps agree "
                  "within the ratchet thresholds")
        write_out(args.out, sf, args.repeat, [])
        return
    if len(suspects) > args.max_suspects:
        print(f"[adjudicate] capping at {args.max_suspects} of "
              f"{len(suspects)} suspects (largest absolute deltas first); "
              "raise --max-suspects for the rest", file=sys.stderr)
        suspects = sorted(suspects,
                          key=lambda s: s[2] - s[3])[:args.max_suspects]

    if not args.no_package:
        print("[adjudicate] packaging current tree...")
        ensure_jar()

    rows = []
    for i, (q, kind, b, n) in enumerate(suspects, 1):
        print(f"[adjudicate] ({i}/{len(suspects)}) isolating {q} "
              f"(min-of-{args.repeat})...", flush=True)
        iw, ic = run_isolated(q, sf, args.repeat, args.cpus)
        if iw is None:
            verdict, detail = "RERUN-FAILED", "isolated run did not produce a result"
        elif kind == "cpu":
            if confirms(b, ic):
                verdict = "CODE-REGRESSION"
                detail = (f"isolated CPU {ic:.2f}s confirms the sweep's "
                          f"{n:.2f}s vs baseline {b:.2f}s")
            else:
                verdict = "SCATTER"
                detail = (f"isolated CPU {ic:.2f}s at/below threshold vs "
                          f"baseline {b:.2f}s — sweep reading "
                          f"({n:.2f}s) was contamination")
        else:  # wall-only suspect
            bc = bcpu.get(q, 0)
            if confirms(b, iw) and has_cpu and bc > 0 and confirms(bc, ic):
                verdict = "CODE-REGRESSION"
                detail = (f"isolated wall {iw:.2f}s AND CPU {ic:.2f}s both "
                          f"confirm (baseline {b:.2f}s wall / {bc:.2f}s cpu)")
            elif confirms(b, iw):
                verdict = "WALL-CONFIRMED"
                detail = (f"isolated wall {iw:.2f}s confirms vs baseline "
                          f"{b:.2f}s while CPU stays flat "
                          f"({ic:.2f}s vs {bc:.2f}s) — non-CPU wait "
                          "(parallelism/spill/stall); investigate")
            else:
                verdict = "SCATTER"
                detail = (f"isolated wall {iw:.2f}s at/below threshold vs "
                          f"baseline {b:.2f}s — host-load/location artifact")
        rows.append({"query": q, "suspect_kind": kind, "baseline": b,
                     "sweep": n, "isolated_wall": iw, "isolated_cpu": ic,
                     "loadavg": loadavg(),
                     "verdict": verdict, "detail": detail})

    if args.ab:
        ab_phase(rows, sf, args.repeat, args.cpus, args.ab)
    finish(args, sf, rows)


def finish(args, sf, rows):
    print(f"\n{'query':<34} {'kind':<5} {'base':>8} {'sweep':>8} "
          f"{'isolated':>9}  verdict")
    for r in rows:
        iso = r["isolated_cpu"] if r["suspect_kind"] == "cpu" \
            else r["isolated_wall"]
        iso_s = f"{iso:9.2f}" if iso is not None else "     n/a "
        print(f"{r['query']:<34} {r['suspect_kind']:<5} "
              f"{r['baseline']:8.2f} {r['sweep']:8.2f} {iso_s}  "
              f"{r['verdict']}")
    bad = [r for r in rows
           if r["verdict"] in ("CODE-REGRESSION", "WALL-CONFIRMED",
                               "AB-CONFIRMED", "RERUN-FAILED")]
    write_out(args.out, sf, args.repeat, rows)
    clean = sum(r["verdict"] in ("SCATTER", "AB-SAME") for r in rows)
    print(f"\n[adjudicate] {len(rows)} adjudicated: {clean} scatter/"
          f"box-state, {len(bad)} needing action -> {args.out}")
    sys.exit(1 if bad else 0)


def write_out(path, sf, repeat, rows):
    with open(path, "w") as f:
        json.dump({"sf": sf, "repeat": repeat, "verdicts": rows}, f,
                  indent=1)


if __name__ == "__main__":
    main()
