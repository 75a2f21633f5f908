#!/usr/bin/env python3
"""Run-to-run spread and parent/change pair comparison for the benchmark.

    # spread of one checkout: N seeds per workload, quartile spread of each
    # end-to-end metric against its bound in BENCHMARK.json
    python3 perfbench/compare.py spread --checkout . --seeds 10 [--workload W ...]

    # a change against its parent: alternating pairs on the same box
    python3 perfbench/compare.py pairs --parent ../parent --change . --pairs 10 \
        [--workload W ...] [--seed-base 1000]

Both checkouts must hold the same perfbench/ and BENCHMARK.json (copy the
change's benchmark into the parent checkout first), so both sides run
identical benchmark code and settings.

`pairs` alternates which side runs first, and gives pair k the same seed on
both sides. For every workload x end-to-end metric it reports each side's
median and quartiles and one verdict:

  gain        the change wins at least 9 of 10 pairs (ties count for
              neither), the medians differ by more than the parent's
              interquartile range, and the change failed no more
              operations than the parent;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the spread of either side exceeds the bound, unless every
              change run beats every parent run;
  no-worse    otherwise.

`spread` also flags the runs whose measured window lost more than 5% of
the host's CPU time to the hypervisor (steal, from /proc/stat), and gives
each metric's spread without them as well: the verdict stays on all runs,
the second figure tells a noisy host from a noisy benchmark.

Every run's result line is appended to --log (JSON lines), and `report
--log FILE` re-reads such a log without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spec_of(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, spec, workload, seed, trace=0):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1000)
    lines = p.stdout.strip().splitlines()
    # a run whose output checks fail still prints its result, then exits 1
    try:
        out, info = json.loads(lines[-1]), json.loads(lines[-2])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} in {checkout} failed ({p.returncode})")
    out.update(workload=workload, seed=seed, checkout=os.path.abspath(checkout),
               wall_s=time.time() - t0, steal_pct=info["steal_pct"],
               steal_suspect=info["steal_suspect"])
    return out


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(parent, change, better):
    """How much worse `change` is than `parent`, as a share of parent."""
    if not parent:
        return 0.0
    d = (change - parent) / parent
    return d if better == "lower" else -d


def verdict(m, pv, cv, failed_more=False):
    """Verdict for one metric from paired value lists (pair k = index k).
    No gain counts when the change failed more operations than the parent
    (`failed_more`)."""
    better, bound = m["better"], m.get("bound", 0.25)
    wins = sum(1 for p, c in zip(pv, cv) if (c < p if better == "lower" else c > p))
    pq1, pmed, pq3 = quartiles(pv)
    _, cmed, _ = quartiles(cv)
    all_better = (max(cv) < min(pv)) if better == "lower" else (min(cv) > max(pv))
    gap = (pmed - cmed) if better == "lower" else (cmed - pmed)
    if wins >= 0.9 * len(pv) and gap > (pq3 - pq1) and not failed_more:
        return "gain", wins
    if worse_by(pmed, cmed, better) > bound:
        return "worse", wins
    if max(spread(pv), spread(cv)) > bound and not all_better:
        return "unresolved", wins
    return "no-worse", wins


def report(records, spec):
    metrics = [m for m in spec["end_to_end"]]
    sides = sorted({r["checkout"] for r in records})
    parent = [r for r in records if r.get("side") == "parent"]
    change = [r for r in records if r.get("side") == "change"]
    for w in [x["name"] for x in spec["workloads"]]:
        if parent and change:
            ps = {r["pair"]: r for r in parent if r["workload"] == w}
            cs = {r["pair"]: r for r in change if r["workload"] == w}
            keys = sorted(set(ps) & set(cs))
            if not keys:
                continue
            p_failed = sum(ps[k]["failed"] for k in keys)
            c_failed = sum(cs[k]["failed"] for k in keys)
            print(f"\n{w}: {len(keys)} pairs; failed operations: parent {p_failed}, "
                  f"change {c_failed}")
            print(f"  {'metric':<22}{'parent med [q1, q3]':>34}{'change med [q1, q3]':>34}"
                  f"{'wins':>7}  verdict")
            for m in metrics:
                pv = [ps[k]["metrics"][m["name"]]["value"] for k in keys]
                cv = [cs[k]["metrics"][m["name"]]["value"] for k in keys]
                v, wins = verdict(m, pv, cv, failed_more=c_failed > p_failed)
                pq, cq = quartiles(pv), quartiles(cv)
                print(f"  {m['name']:<22}{pq[1]:>14.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                      f"{cq[1]:>14.4g} [{cq[0]:.4g}, {cq[2]:.4g}]{wins:>4}/{len(keys)}  {v}")
        else:
            for side in sides:
                rs = [r for r in records if r["workload"] == w and r["checkout"] == side]
                if not rs:
                    continue
                print(f"\n{w}: {len(rs)} runs of {side}")
                for m in metrics:
                    vals = [r["metrics"][m["name"]]["value"] for r in rs]
                    q1, q2, q3 = quartiles(vals)
                    s = spread(vals)
                    lim = m.get("bound", 0.25)
                    flag = "ok" if s <= lim / 3 else ("within bound" if s <= lim else "TOO WIDE")
                    print(f"  {m['name']:<22} median {q2:<12.5g} IQR/median {s:6.3f} "
                          f"(bound {lim}) {flag}")
                    quiet = [v for v, r in zip(vals, rs) if not r["steal_suspect"]]
                    if 2 <= len(quiet) < len(vals):
                        print(f"  {'':<22} without the runs flagged for steal ({len(quiet)} "
                              f"left): median {quartiles(quiet)[1]:.5g}, IQR/median "
                              f"{spread(quiet):.3f}")
                bad = sum(r["failed"] for r in rs)
                print(f"  failed operations: {bad}; wall per run: "
                      f"{statistics.median([r['wall_s'] for r in rs]):.1f} s")
                steal = [r["steal_pct"] for r in rs]
                flagged = [r["seed"] for r in rs if r["steal_suspect"]]
                print(f"  CPU steal in the measured window: median {statistics.median(steal):.1f}%,"
                      f" max {max(steal):.1f}%; runs flagged for steal: {flagged or 'none'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--checkout", default=os.path.dirname(HERE))
    s.add_argument("--seeds", type=int, default=10)
    s.add_argument("--seed-base", type=int, default=1)
    s.add_argument("--workload", action="append")
    s.add_argument("--log", default="perfbench-spread.jsonl")
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=1000)
    p.add_argument("--workload", action="append")
    p.add_argument("--log", default="perfbench-pairs.jsonl")
    r = sub.add_parser("report")
    r.add_argument("--log", required=True)
    r.add_argument("--checkout", default=os.path.dirname(HERE))
    a = ap.parse_args()

    if a.cmd == "report":
        with open(a.log) as f:
            records = [json.loads(line) for line in f if line.strip()]
        report(records, spec_of(a.checkout))
        return

    spec = spec_of(a.change if a.cmd == "pairs" else a.checkout)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    records = []
    with open(a.log, "a") as log:
        def keep(rec):
            records.append(rec)
            log.write(json.dumps(rec) + "\n")
            log.flush()
            print(f"{rec.get('side', '')} {rec['workload']} seed {rec['seed']}: "
                  f"correct={rec['correct']} wall={rec['wall_s']:.0f}s", file=sys.stderr)

        for w in workloads:
            if a.cmd == "spread":
                for k in range(a.seeds):
                    keep(run_once(a.checkout, spec, w, a.seed_base + k))
            else:
                for k in range(a.pairs):
                    order = [("parent", a.parent), ("change", a.change)]
                    if k % 2:
                        order.reverse()
                    for side, checkout in order:
                        rec = run_once(checkout, spec, w, a.seed_base + k)
                        rec.update(side=side, pair=k)
                        keep(rec)
    report(records, spec)


if __name__ == "__main__":
    main()
