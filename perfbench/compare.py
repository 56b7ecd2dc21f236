"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py <runs-A> <runs-B>

A set of runs is a directory of files, each holding the standard output of
one `perfbench/run.py ... --trace 0` run (the report block and the final JSON
line). For every end-to-end metric of BENCHMARK.json and every workload
found, it prints each set's sample count, median and quartiles
(statistics.quantiles, n=4), the spread (interquartile range over median)
and a verdict:

  ok          B's median is not worse than A's by more than the bound
  WORSE       B's median is worse than A's by more than the bound
  unresolved  a set's own spread is wider than the bound (unless every run
              of B reads better than every run of A)

It then does the same for the wall-time figures of the report block
(REPORT_TIMINGS), with the bound REPORT_BOUND: they are too spread between
runs on a shared 4-core host to be gated end-to-end metrics, so a quiet
pair of sets gets a verdict and a noisy one reads unresolved.

Exits 1 if any pairing is WORSE or unresolved, else 0.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# report-block wall-time figures: name -> which way is better
REPORT_TIMINGS = {"translate.rows_per_s": "higher", "translate.job_ms": "lower",
                  "ingest.docs_per_s": "higher", "ingest.batch_ms": "lower",
                  "ingest.query_p50_ms": "lower", "warmup_s": "lower"}
REPORT_BOUND = 0.25


def load(d):
    """{workload: {metric: [values]}} from one directory of run outputs."""
    out = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if not os.path.isfile(path) or not name.endswith(".out"):
            continue
        with open(path, errors="replace") as fh:
            lines = [x.strip() for x in fh if x.strip()]
        head = [x for x in lines if x.startswith("# perfbench ")]
        if not head or not lines[-1].startswith("{"):
            print(f"skipping {path}: not a run output", file=sys.stderr)
            continue
        info = json.loads(head[0][len("# perfbench "):])
        if info.get("trace"):
            continue
        res = json.loads(lines[-1])
        wl = out.setdefault(info["workload"], {})
        for k, v in res["metrics"].items():
            wl.setdefault(k, []).append(v["value"])
        for x in lines:
            k, _, v = x[2:].partition(" = ")
            if x.startswith("# ") and k in REPORT_TIMINGS:
                v = json.loads(v)
                wl.setdefault("report:" + k, []).append(
                    v["p50"] if isinstance(v, dict) else v)
    return out


def summary(xs):
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    checks = [(m["name"], m["name"], m["better"], m["bound"])
              for m in spec["end_to_end"]]
    checks += [(name, "report:" + name, better, REPORT_BOUND)
               for name, better in REPORT_TIMINGS.items()]
    bad = 0
    print(f"{'workload':<16} {'metric':<20} {'n':>5} {'median A':>12} "
          f"{'median B':>12} {'quartiles A':>23} {'quartiles B':>23} "
          f"{'spread A':>8} {'spread B':>8} {'change':>8} {'bound':>6}  verdict")
    for wl in sorted(set(a) | set(b)):
        for name, key, better, bound in checks:
            xa, xb = a.get(wl, {}).get(key), b.get(wl, {}).get(key)
            if not xa and not xb and key.startswith("report:"):
                continue  # a figure of the other workload
            if not xa or not xb:
                print(f"{wl:<16} {name:<20} missing in "
                      f"{'A' if not xa else 'B'}")
                bad += 1
                continue
            ma, _, _, sa = summary(xa)
            mb, _, _, sb = summary(xb)
            lower = better == "lower"
            change = (mb - ma) / ma if lower else (ma - mb) / ma  # >0 = worse
            every_better = (max(xb) < min(xa)) if lower else (min(xb) > max(xa))
            if change > bound:
                verdict = "WORSE"
            elif max(sa, sb) > bound and not every_better:
                verdict = "unresolved"
            else:
                verdict = "ok"
            bad += verdict != "ok"
            row(wl, name, xa, xb, change, bound, verdict)
    sys.exit(1 if bad else 0)


def row(wl, name, xa, xb, change, bound, verdict):
    ma, qa1, qa3, sa = summary(xa)
    mb, qb1, qb3, sb = summary(xb)
    print(f"{wl:<16} {name:<20} {len(xa):>2}/{len(xb):<2} {ma:>12.4g} "
          f"{mb:>12.4g} {f'[{qa1:.4g}, {qa3:.4g}]':>23} "
          f"{f'[{qb1:.4g}, {qb3:.4g}]':>23} {sa:>8.3f} {sb:>8.3f} "
          f"{change:>+8.3f} {bound:>6}  {verdict}")


if __name__ == "__main__":
    main()
