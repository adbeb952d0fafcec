"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as run.py writes them (any depth, e.g. a
copy of .bench_build/results from each commit). For every workload and
end-to-end metric it prints both sides' median, quartiles and IQR/median,
the share of (base, new) run pairs the new side wins (ties count for
neither), and a verdict:

- improved: new wins at least 90% of pairs and the medians differ by more
  than the base's interquartile distance, in the metric's better direction;
- no worse: the new median is not worse than the base median by more than
  the metric's bound (BENCHMARK.json), and the base spread is within the
  bound, or every new run beats every base run;
- unresolved: anything else;
- failed calls increased: the new runs fail a larger share of their calls
  than the base runs (the result line's `failed` / `attempted`). A failing
  call can be fast, so no other verdict holds.

Then, from the traced runs, the per-layer medians and their change, and last
the host CPU steal seen during every run.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(root):
    runs = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.json"), recursive=True)):
        with open(path) as f:
            rec = json.load(f)
        if "result_line" in rec and "harness" in rec:
            rec["path"] = os.path.relpath(path, root)
            runs.append(rec)
    return runs


def by_key(runs, trace):
    """workload -> metric -> values over the runs with that trace setting."""
    out = {}
    for r in runs:
        h = r["harness"]
        if h["trace"] != trace:
            continue
        for name, m in r["result_line"]["metrics"].items():
            out.setdefault(h["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def failed_share(runs, trace=0):
    """workload -> failed / attempted calls over all its runs."""
    counts = {}
    for r in runs:
        if r["harness"]["trace"] != trace:
            continue
        line = r["result_line"]
        f, a = counts.get(r["harness"]["workload"], (0, 0))
        counts[r["harness"]["workload"]] = (f + line["failed"], a + line["attempted"])
    return {w: f / a for w, (f, a) in counts.items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def verdict(base, new, better, bound):
    """(win share, verdict) of `new` against `base` for one metric."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = [(b, n) for b in base for n in new]
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    share = wins / len(pairs)
    bq1, bmed, bq3 = quartiles(base)
    nmed = statistics.median(new)
    gain = sign * (nmed - bmed)
    if share >= 0.9 and gain > (bq3 - bq1):
        return share, "improved"
    if share == 1.0:
        return share, "no worse"
    if (bq3 - bq1) <= bound * abs(bmed) and -gain <= bound * abs(bmed):
        return share, "no worse"
    return share, "unresolved"


def compare(base_runs, new_runs, end_to_end):
    """Rows (workload, metric, base values, new values, win share, verdict)
    over the untraced runs of both sides."""
    base, new = by_key(base_runs, 0), by_key(new_runs, 0)
    base_failed, new_failed = failed_share(base_runs), failed_share(new_runs)
    rows = []
    for w in sorted(set(base) & set(new)):
        more_failed = new_failed[w] > base_failed[w]
        for m in end_to_end:
            b, n = base[w].get(m["name"]), new[w].get(m["name"])
            if not b or not n:
                continue
            share, v = verdict(b, n, m["better"], m["bound"])
            rows.append((w, m["name"], b, n, share, "failed calls increased" if more_failed else v))
    return rows


def fmt(xs):
    q1, q2, q3 = quartiles(xs)
    return f"{q2:10.4g} [{q1:.4g}, {q3:.4g}] {spread(xs):6.3f}"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    base_runs, new_runs = load_runs(argv[1]), load_runs(argv[2])
    base_failed, new_failed = failed_share(base_runs), failed_share(new_runs)
    for w in sorted(set(base_failed) & set(new_failed)):
        print(f"{w:8} failed calls: base {base_failed[w]:.2%}, new {new_failed[w]:.2%}")
    print(f"{'workload':8} {'metric':13} {'base median [q1, q3] iqr/med':>38} "
          f"{'new median [q1, q3] iqr/med':>38} {'runs':>7} {'win':>5}  verdict")
    for w, name, b, n, share, v in compare(base_runs, new_runs, spec["end_to_end"]):
        print(f"{w:8} {name:13} {fmt(b):>38} {fmt(n):>38} {len(b):3}/{len(n):<3} {share:5.2f}  {v}")
    tb, tn = by_key(base_runs, 1), by_key(new_runs, 1)
    if set(tb) & set(tn):
        print("\nper-layer medians (traced runs): base -> new (change)")
    for w in sorted(set(tb) & set(tn)):
        for name in sorted(set(tb[w]) & set(tn[w])):
            bm, nm = statistics.median(tb[w][name]), statistics.median(tn[w][name])
            if bm == 0 and nm == 0:
                continue
            rel = f"{(nm - bm) / bm:+.1%}" if bm else "n/a"
            print(f"{w:8} {name:28} {bm:12.4g} -> {nm:<12.4g} ({rel})")
    print("\nhost CPU steal during each run (s)")
    for side, runs in (("base", base_runs), ("new", new_runs)):
        for r in runs:
            h = r["harness"]
            print(f"{side:4} {h['workload']:8} seed {h['seed']:<6} trace {h['trace']} "
                  f"steal {h['host']['run']['steal_s']:7.2f}  {r['path']}")


if __name__ == "__main__":
    main(sys.argv)
