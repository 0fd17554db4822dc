#!/usr/bin/env python3
"""Parent-vs-change A/B of the perfbench workloads, as one command.

    python3 scripts/ab.py BASE_REV --workloads serve,ex_eval,corpus --pairs 10 [--trace]
    python3 scripts/ab.py HEAD --workloads serve --pairs 4      # A/A: the noise floor
    python3 scripts/ab.py --selftest                            # the summary arithmetic

The base side is `git archive BASE_REV`; the change side is a copy of
the working tree (tracked files plus untracked, not ignored ones). Both
are extracted into a scratch directory outside the repository (a fresh
temp directory unless --scratch is given), and each builds its own
benchmark there, so nothing is written into the repository.

For each workload, pair i runs `perfbench/run.py --seed SEED0+i` on both
trees for the run_seconds of BENCHMARK.json, the base first on even
pairs and the change first on odd ones.
perfbench is a black box: only its last stdout line (the result JSON)
is read. With --trace, one more pair per workload runs with
`--trace 1` and its per-layer metrics are listed side by side.

Output, one markdown table per workload: median and quartile distance
(IQR) of each end-to-end metric in BENCHMARK.json on both sides, the
median change, the pairs the change won, whether the change stays
within the metric's bound, and whether the median gain exceeds the
base IQR (the bar for claiming a gain); then `failed`/`attempted` and
the median run wall.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"ab: {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", "-C", REPO] + list(args), check=True,
                          stdout=subprocess.PIPE).stdout


def extract_rev(rev, dest):
    """`git archive rev` into dest."""
    with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", rev))) as t:
        t.extractall(dest)


def copy_worktree(dest):
    """The working tree's tracked and untracked-not-ignored files into dest."""
    for rel in git("ls-files", "-z", "--cached", "--others", "--exclude-standard") \
            .decode().split("\0"):
        src = os.path.join(REPO, rel)
        if rel and os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: (result dict or None, wall seconds)."""
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1" if trace else "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return res, wall


def value(res, name):
    m = (res or {}).get("metrics", {}).get(name)
    return None if m is None else m["value"]


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def summarize(spec, base, change):
    """Rows for one workload. `base`/`change`: lists of (result, wall), one
    per pair, in pair order; `spec`: BENCHMARK.json's end_to_end list."""
    rows = []
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(b, name), value(c, name)) for (b, _), (c, _) in zip(base, change)]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        if not pairs:
            rows.append({"metric": name, "n": 0})
            continue
        bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
        bm, cm = statistics.median(bs), statistics.median(cs)
        won = sum(1 for b, c in pairs if (c < b if lower else c > b))
        # the share by which the change is worse than the base (< 0: better)
        worse = ((cm - bm) if lower else (bm - cm)) / bm if bm else 0.0
        gain = (bm - cm) if lower else (cm - bm)
        rows.append({"metric": name, "n": len(pairs), "base": bm, "base_iqr": iqr(bs),
                     "change": cm, "change_iqr": iqr(cs),
                     "delta_pct": 100.0 * (cm - bm) / bm if bm else 0.0,
                     "won": won, "within_bound": worse <= m["bound"],
                     "gain_past_iqr": gain > iqr(bs)})
    return rows


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def table(workload, spec, base, change):
    out = [f"### {workload} ({len(base)} pairs)", "",
           "| metric | base median (IQR) | change median (IQR) | change | pairs won "
           "| within bound | gain > base IQR |",
           "|---|---|---|---|---|---|---|"]
    for r in summarize(spec, base, change):
        if r["n"] == 0:
            out.append(f"| {r['metric']} | - | - | - | - | - | - |")
            continue
        bound = next(m["bound"] for m in spec if m["name"] == r["metric"])
        out.append(
            f"| {r['metric']} | {fmt(r['base'])} ({fmt(r['base_iqr'])}) "
            f"| {fmt(r['change'])} ({fmt(r['change_iqr'])}) | {r['delta_pct']:+.1f} % "
            f"| {r['won']}/{r['n']} | {'yes' if r['within_bound'] else 'NO'} ({bound}) "
            f"| {'yes' if r['gain_past_iqr'] else 'no'} |")

    def failed(side):
        f = sum((res or {}).get("failed", 0) for res, _ in side)
        a = sum((res or {}).get("attempted", 0) for res, _ in side)
        broken = sum(1 for res, _ in side if res is None)
        return f"{f}/{a}" + (f", {broken} runs without a result" if broken else "")

    out.append(f"| failed/attempted | {failed(base)} | {failed(change)} | | | | |")
    out.append(f"| run wall s (median) | {statistics.median(w for _, w in base):.1f} "
               f"| {statistics.median(w for _, w in change):.1f} | | | | |")
    return "\n".join(out)


def trace_table(workload, b, c):
    names = sorted(set((b or {}).get("metrics", {})) | set((c or {}).get("metrics", {})))
    out = [f"#### {workload}, traced pair", "", "| metric | base | change |", "|---|---|---|"]
    for n in names:
        bv, cv = value(b, n), value(c, n)
        if bv or cv:
            out.append(f"| {n} | {fmt(bv)} | {fmt(cv)} |")
    return "\n".join(out)


def selftest():
    spec = [{"name": "throughput_per_s", "better": "higher", "bound": 0.25},
            {"name": "p50_ms", "better": "lower", "bound": 0.25}]

    def res(thr, p50):
        return ({"failed": 0, "attempted": 3, "metrics": {
            "throughput_per_s": {"value": thr}, "p50_ms": {"value": p50}}}, 40.0)

    base = [res(1.0, 1000), res(1.1, 1100), res(0.9, 900), res(1.0, 1000)]
    change = [res(1.5, 700), res(1.4, 1400), res(1.6, 600), res(0.5, 800)]
    thr, p50 = summarize(spec, base, change)
    assert thr["base"] == 1.0 and thr["change"] == 1.45 and thr["won"] == 3, thr
    assert thr["within_bound"] and thr["gain_past_iqr"], thr
    assert p50["base"] == 1000 and p50["change"] == 750 and p50["won"] == 3, p50
    assert abs(p50["delta_pct"] + 25.0) < 1e-9, p50
    worse = summarize(spec[1:], base, [res(1.0, 1300)] * 4)[0]
    assert not worse["within_bound"] and worse["won"] == 0, worse
    assert "| failed/attempted | 0/12 | 0/12 |" in table("w", spec, base, change)
    print("ab selftest: ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_rev", nargs="?")
    ap.add_argument("--workloads", default="serve,ex_eval,corpus")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--seed0", type=int, default=401)
    ap.add_argument("--trace", action="store_true", help="add one traced pair per workload")
    ap.add_argument("--scratch", help="where to extract both trees (default: a temp dir)")
    ap.add_argument("--jsonl", help="append every run's result to this file")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.base_rev:
        ap.error("BASE_REV is required")
    scratch = a.scratch or tempfile.mkdtemp(prefix="ab-")
    if os.path.realpath(scratch).startswith(os.path.realpath(REPO) + os.sep):
        ap.error("--scratch must be outside the repository")
    trees = {"base": os.path.join(scratch, "base"), "change": os.path.join(scratch, "change")}
    for t in trees.values():
        shutil.rmtree(t, ignore_errors=True)
        os.makedirs(t)
    extract_rev(a.base_rev, trees["base"])
    copy_worktree(trees["change"])
    log(f"base = {a.base_rev} in {trees['base']}, change = working tree in {trees['change']}")
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec, seconds = bench["end_to_end"], bench["run_seconds"]
    sink = open(a.jsonl, "a") if a.jsonl else None

    def run(side, workload, seed, trace):
        res, wall = run_once(trees[side], workload, seed, seconds, trace)
        log(f"{workload} seed {seed} {side}{' traced' if trace else ''}: "
            f"{'no result' if res is None else 'failed ' + str(res.get('failed'))}, "
            f"wall {wall:.0f} s")
        if sink:
            sink.write(json.dumps({"side": side, "workload": workload, "seed": seed,
                                   "trace": trace, "wall_s": wall, "result": res}) + "\n")
            sink.flush()
        return res, wall

    tables = []
    for w in a.workloads.split(","):
        got = {"base": [], "change": []}
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                got[side].append(run(side, w, a.seed0 + i, False))
        tables.append(table(w, spec, got["base"], got["change"]))
        if a.trace:
            tb = run("base", w, a.seed0 + a.pairs, True)[0]
            tc = run("change", w, a.seed0 + a.pairs, True)[0]
            tables.append(trace_table(w, tb, tc))
        print("\n\n".join(tables[-2 if a.trace else -1:]) + "\n", flush=True)
    if sink:
        sink.close()


if __name__ == "__main__":
    main()
