"""Run interleaved parent/change pairs of the CDC benchmark and compare them.

    python3 tools/perf_pairs.py --parent ../parent --change . \
        --workload tail_cow --pairs 10 --seed 701 [--trace 0] [--seconds 6] \
        [--raw pairs.jsonl]
    python3 tools/perf_pairs.py --summarize pairs.jsonl

--parent and --change are two checkouts of the repository (a second checkout
of the parent commit: `git worktree add`, `git clone` or `git archive`). Pair
i runs `perfbench/run.py --workload W --seed (seed + i) --trace T` once in
each checkout, with the same seed and run length; the side that runs first
alternates from pair to pair. Each run's JSON result is appended to --raw
(one line per run) as soon as it ends, so a summary can be printed again, or
an interrupted series read, with --summarize.

For every metric of every workload the summary prints each side's median and
quartiles, the pairs the change won (ties count for neither side), and the
verdict of the rule for claiming a gain: the change wins at least
9 of 10 pairs and the medians differ, in the better direction, by more than
the distance between the parent's quartiles. For the end-to-end metrics it
also flags a change median worse than the parent's by more than the bound
BENCHMARK.json fixes, and marks the metric "unresolved" when the parent's
quartile spread alone exceeds bound x median: the pairs then cannot tell a
change within the bound from one beyond it, unless every change run beats
every parent run. The direction (higher or lower is better) and the bounds
come from the change checkout's BENCHMARK.json. Above the verdicts it prints
each checkout's main-source Scala lines split into code, comment and blank
lines (the rule is in `line_kinds`), then the change in code lines and,
under it, the code-line change of each main-source file whose code count
changed, largest loss first: the code-size scoreboard.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}"}
    return json.loads(lines[-1])


def value(metric):
    """A result metric is {"value": v, "unit": u}."""
    return metric.get("value") if isinstance(metric, dict) else metric


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(bench_json):
    """metric -> (better, bound or None) from BENCHMARK.json."""
    with open(bench_json) as f:
        spec = json.load(f)
    out = {m["name"]: (m["better"], m.get("bound")) for m in spec.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"]})
    return out


def line_kinds(text):
    """(code, comment, blank) line counts of one Scala source.

    A blank line holds only whitespace. A comment line starts, after its
    indentation, with `//` or `/*`, or lies inside a block comment: from a
    line that starts with `/*` through the first line that contains `*/`.
    Every other line is code, also when it ends in a trailing comment. So
    deleting a comment or a blank line never changes the code count, and
    joining two code lines lowers it by one.
    """
    code = comment = blank = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            comment += 1
            in_block = "*/" not in s
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
    return code, comment, blank


def scala_lines(checkout):
    """{checkout-relative path: (code, comment, blank)} for every .scala file
    under the checkout's src/main, split by `line_kinds`."""
    base = os.path.join(checkout, "src", "main")
    out = {}
    for d, _, files in os.walk(base):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    out[os.path.relpath(path, checkout)] = line_kinds(f.read())
    return out


def code_deltas(parent, change):
    """[(code-line change, path)] of every file whose code count differs
    between two `scala_lines` maps (a missing file counts 0), largest loss
    first."""
    deltas = [(change.get(p, (0,))[0] - parent.get(p, (0,))[0], p)
              for p in set(parent) | set(change)]
    return sorted(d for d in deltas if d[0] != 0)


def summarize(records, dirs):
    by = {}
    for r in records:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r["result"]
    for workload in sorted(by):
        pairs = [p for _, p in sorted(by[workload].items())
                 if "parent" in p and "change" in p]
        failed = sum(1 for p in pairs for s in p.values() if "error" in s)
        incorrect = sum(1 for p in pairs for s in p.values()
                        if "error" not in s and not s.get("correct", False))
        ops = {side: sum(p[side].get("failed", 0) for p in pairs if "error" not in p[side])
               for side in ("parent", "change")}
        pairs = [p for p in pairs if "error" not in p["parent"] and "error" not in p["change"]]
        print(f"\n== {workload}: {len(pairs)} complete pairs; runs that exited non-zero: "
              f"{failed}; runs not correct: {incorrect}; failed ops parent/change: "
              f"{ops['parent']}/{ops['change']}")
        metrics = sorted({k for p in pairs for s in p.values() for k in s["metrics"]})
        print(f"{'metric':40} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
              f"{'wins':>6}  verdict")
        for m in metrics:
            both = [(value(p["parent"]["metrics"].get(m)), value(p["change"]["metrics"].get(m)))
                    for p in pairs]
            both = [(a, b) for a, b in both
                    if isinstance(a, (int, float)) and isinstance(b, (int, float))]
            if not both:
                continue
            better, bound = dirs.get(m, (None, None))
            par = [a for a, _ in both]
            chg = [b for _, b in both]
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            verdict = ""
            wins = ""
            if better in ("higher", "lower"):
                sign = 1 if better == "higher" else -1
                n_win = sum(1 for a, b in both if sign * (b - a) > 0)
                wins = f"{n_win}/{len(both)}"
                gap = sign * (cmed - pmed)
                gain = n_win * 10 >= 9 * len(both) and gap > (pq3 - pq1)
                verdict = "GAIN" if gain else "no claim"
                if bound is not None and pmed != 0 and -gap > bound * abs(pmed):
                    verdict += f"; WORSE beyond bound {bound:g}"
                separated = min(sign * b for b in chg) > max(sign * a for a in par)
                if bound is not None and pq3 - pq1 > bound * abs(pmed) and not separated:
                    verdict += f"; unresolved (parent IQR {pq3 - pq1:.4g} > {bound:g} x median)"
            print(f"{m:40} {fmt(pmed, pq1, pq3):>30} {fmt(cmed, cq1, cq3):>30} "
                  f"{wins:>6}  {verdict}")


def fmt(med, q1, q3):
    def f(x):
        return f"{x:.4g}" if abs(x) < 1e5 else f"{x:.4e}"
    return f"{f(med)} [{f(q1)}, {f(q3)}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="append each run's result here (JSON lines)")
    ap.add_argument("--summarize", help="only summarize this --raw file")
    a = ap.parse_args()
    dirs = directions(os.path.join(a.change, "BENCHMARK.json"))
    if a.summarize:
        with open(a.summarize) as f:
            summarize([json.loads(ln) for ln in f if ln.strip()], dirs)
        return 0
    if not a.parent or not a.workload:
        ap.error("--parent and --workload are required unless --summarize is given")
    records = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for workload in a.workload:
            for side in order:
                res = run_once(a.parent if side == "parent" else a.change,
                               workload, seed, a.seconds, a.trace)
                rec = {"workload": workload, "pair": i, "seed": seed, "side": side,
                       "trace": a.trace, "result": res}
                records.append(rec)
                if a.raw:
                    with open(a.raw, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                m = res.get("metrics", {})
                print(f"pair {i} seed {seed} {workload} {side}: "
                      f"{res.get('error') or value(m.get('events_per_s'))} events/s",
                      file=sys.stderr, flush=True)
    files = {side: scala_lines(c) for side, c in (("parent", a.parent), ("change", a.change))}
    lines = {side: [sum(k[i] for k in files[side].values()) for i in range(3)]
             for side in files}
    for side in ("parent", "change"):
        code, comment, blank = lines[side]
        print(f"main-source Scala lines, {side}: {code} code, {comment} comment, "
              f"{blank} blank ({code + comment + blank} total)")
    print(f"main-source code lines: {lines['change'][0] - lines['parent'][0]:+d}")
    for delta, path in code_deltas(files["parent"], files["change"]):
        print(f"  {delta:+6d}  {path}")
    summarize(records, dirs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
