#!/usr/bin/env python3
"""Cross-round bench outlier triage with mechanical canary
normalization (round 12 — closes the by-hand normalization VERDICT
r11 task 8 called out).

Usage: bench_triage.py <bench_a.json> <bench_b.json> [threshold=1.5] [min_sec=0.5] [--json out.json]

--json writes the full normalized table as a committed artifact
(BENCH_TRIAGE_r{N}.json at round close-out) so the next round's mover
adjudication is a file read, not a re-derivation.

For every query present in both artifacts prints the raw ratio b/a and
the CANARY-NORMALIZED ratio (b/a divided by the two runs' median-canary
ratio — the host-speed correction; each BENCH artifact records its
canary_sec samples). Queries with normalized ratio above the threshold
and b-cost above min_sec are flagged as movers that host speed does NOT
explain — the candidates for the isolated protocol
(`graft.tools.Run time <sf> <key...>`).

Accepts either a BENCH_r*.json artifact or a line number into
BENCH_HISTORY.jsonl as "hist:<n>".
"""
import json
import statistics
import sys


def load(spec):
    if spec.startswith("hist:"):
        lines = open("BENCH_HISTORY.jsonl").read().splitlines()
        return json.loads(lines[int(spec[5:])])
    d = json.load(open(spec))
    # driver-written BENCH_r*.json wraps the bench line under "parsed"
    return d.get("parsed", d)


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: bench_triage.py A B [thr] [min_sec] [--json OUT]")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    a, b = load(argv[0]), load(argv[1])
    thr = float(argv[2]) if len(argv) > 2 else 1.5
    min_sec = float(argv[3]) if len(argv) > 3 else 0.5
    ca = statistics.median(a.get("canary_sec", [1.0]))
    cb = statistics.median(b.get("canary_sec", [1.0]))
    host = cb / ca
    print(f"canary medians: a={ca:.3f}s b={cb:.3f}s -> host factor {host:.3f} "
          f"(drift a={a.get('canary_drift')} b={b.get('canary_drift')}, "
          f"noisy a={a.get('noisy')} b={b.get('noisy')})")
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    rows = []
    for q in common:
        if qa[q] <= 0:
            continue
        raw = qb[q] / qa[q]
        rows.append((raw / host, raw, qa[q], qb[q], q))
    rows.sort(reverse=True)
    norm_ratios = [r[0] for r in rows if r[3] >= min_sec]
    med = f"{statistics.median(norm_ratios):.3f}" if norm_ratios else "n/a"
    print(f"{len(common)} common queries; median normalized ratio {med} "
          f"(over the {len(norm_ratios)} with b >= {min_sec}s)")
    flagged = [r for r in rows if r[0] > thr and r[3] >= min_sec]
    print(f"movers (normalized > {thr}, b >= {min_sec}s): {len(flagged)}")
    for norm, raw, sa, sb, q in flagged:
        print(f"  {q:32s} a={sa:8.3f}s b={sb:8.3f}s raw={raw:5.2f}x norm={norm:5.2f}x")
    if json_out:
        art = {
            "a": argv[0], "b": argv[1],
            "host_factor": host,
            "canary": {"a_median_sec": ca, "b_median_sec": cb,
                       "a_drift": a.get("canary_drift"), "b_drift": b.get("canary_drift"),
                       "a_noisy": a.get("noisy"), "b_noisy": b.get("noisy")},
            "threshold": thr, "min_sec": min_sec,
            "n_common": len(common),
            "median_normalized_ratio":
                statistics.median(norm_ratios) if norm_ratios else None,
            "movers": [{"query": q, "a_sec": sa, "b_sec": sb,
                        "raw_ratio": raw, "normalized_ratio": norm}
                       for norm, raw, sa, sb, q in flagged],
            "table": [{"query": q, "a_sec": sa, "b_sec": sb,
                       "raw_ratio": raw, "normalized_ratio": norm}
                      for norm, raw, sa, sb, q in rows],
        }
        with open(json_out, "w") as f:
            json.dump(art, f, indent=1)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
