#!/usr/bin/env python3
"""Compare two versions of the engine on the benchmark in interleaved pairs.

Usage:
    python3 tools/pairs.py --workload corpus --seeds 11-18 \
        --base HEAD~1 --change HEAD|DIR [--seconds 12] [--root DIR]

Each side goes into its own directory under --root (default
`<tmp>/graft-pairs`): a revision is `git archive`d from this repository,
a directory is copied as git sees it (tracked and untracked files, minus
ignored ones), so uncommitted work can be measured. A side's earlier
benchmark build is kept and reused while its sources are unchanged.

Each seed in the inclusive range A-B is one pair: `graftbench/run.py
--workload W --seed S --seconds X` in both sides, the base first on even
pair numbers and the change first on odd ones, so neither side always
runs on a warmer or cooler machine. Prints every pair as it finishes,
then for each end-to-end metric of BENCHMARK.json: the median [q1, q3]
of each side, the change's median relative to the base's, and how many
pairs the change won. Exits 1 if any run failed, was incorrect or
failed an op.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# build outputs a side keeps from one invocation to the next
KEEP = ("graftbench/target", "graftbench/project/target", "graftbench/project/project")


def quantile(values, p):
    """Linear-interpolated p-th percentile (0..100) of `values`."""
    xs = sorted(values)
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def parse_run(stdout):
    """The result JSON a run prints as its last stdout line, or None."""
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        return None
    return result if isinstance(result, dict) and "metrics" in result else None


def problems(pairs):
    """One line per run that printed no result, was incorrect or failed an op."""
    out = []
    for seed, sides in pairs:
        for side in ("base", "change"):
            r = sides[side]
            if r is None:
                out.append(f"seed {seed} {side}: no result")
            elif not r.get("correct") or r.get("failed"):
                out.append(f"seed {seed} {side}: correct={r.get('correct')} "
                           f"failed={r.get('failed')}")
    return out


def summarize(pairs, metrics):
    """Per metric `(name, better)`, over the pairs where both sides gave
    it: {"name", "n", "base": (median, q1, q3), "change": (median, q1,
    q3), "rel": change median / base median - 1, "wins": pairs the
    change did better in}."""
    rows = []
    for name, better in metrics:
        both = [(s["base"]["metrics"][name]["value"], s["change"]["metrics"][name]["value"])
                for _, s in pairs
                if all(s[k] and name in s[k]["metrics"] for k in ("base", "change"))]
        if not both:
            continue
        base = [b for b, _ in both]
        change = [c for _, c in both]
        sign = 1 if better == "lower" else -1
        b50, c50 = quantile(base, 50), quantile(change, 50)
        rows.append({"name": name, "n": len(both),
                     "base": (b50, quantile(base, 25), quantile(base, 75)),
                     "change": (c50, quantile(change, 25), quantile(change, 75)),
                     "rel": c50 / b50 - 1 if b50 else float("nan"),
                     "wins": sum(sign * (b - c) > 0 for b, c in both)})
    return rows


def format_summary(rows):
    spread = lambda t: f"{t[0]:.6g} [{t[1]:.6g}, {t[2]:.6g}]"
    lines = [f"{'metric':<18} {'base median [q1, q3]':<32} {'change median [q1, q3]':<32}"
             f" {'change':>8} {'wins':>6}"]
    for r in rows:
        lines.append(f"{r['name']:<18} {spread(r['base']):<32} {spread(r['change']):<32}"
                     f" {r['rel'] * 100:>+7.1f}% {r['wins']:>3}/{r['n']}")
    return "\n".join(lines)


def git(*args, cwd=REPO, **kw):
    return subprocess.run(["git", *args], cwd=cwd, check=True, **kw)


def prepare(spec, dest):
    """Puts revision or directory `spec` at `dest`, keeping its old build."""
    kept = dest.with_name(dest.name + ".keep")
    shutil.rmtree(kept, ignore_errors=True)
    for k in KEEP:
        if (dest / k).exists():
            (kept / k).parent.mkdir(parents=True, exist_ok=True)
            (dest / k).rename(kept / k)
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    if Path(spec).is_dir():
        files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard",
                    cwd=spec, capture_output=True).stdout.decode().split("\0")
        for f in filter(None, files):
            src = Path(spec) / f
            if src.is_file():
                (dest / f).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / f)
    else:
        archive = git("archive", spec, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    for k in KEEP:
        if (kept / k).exists():
            (dest / k).parent.mkdir(parents=True, exist_ok=True)
            (kept / k).rename(dest / k)
    shutil.rmtree(kept, ignore_errors=True)
    # build now, so the first timed run of the side does not
    res = subprocess.run([sys.executable, "-B", "-c",
                          "import sys, time; sys.path.insert(0, 'graftbench'); import run; "
                          "run.build(time.monotonic() + 850)"], cwd=dest)
    if res.returncode != 0:
        sys.exit(f"pairs: building {spec} failed")


def run_once(side, workload, seed, seconds):
    res = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds)],
                         cwd=side, capture_output=True, text=True)
    result = parse_run(res.stdout) if res.returncode == 0 else None
    if result is None:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
    return result


def end_to_end(root):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return [(m["name"], m.get("better", "lower")) for m in spec["end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--base", required=True, help="a revision")
    ap.add_argument("--change", required=True, help="a revision or a directory")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--root", default=os.path.join(tempfile.gettempdir(), "graft-pairs"))
    a = ap.parse_args()
    first, last = (int(x) for x in a.seeds.split("-"))
    root = Path(a.root).resolve()
    sides = {"base": root / "base", "change": root / "change"}
    prepare(a.base, sides["base"])
    prepare(a.change, sides["change"])
    metrics = end_to_end(sides["base"])
    pairs = []
    for i, seed in enumerate(range(first, last + 1)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {k: run_once(sides[k], a.workload, seed, a.seconds) for k in order}
        pairs.append((seed, got))
        cells = " | ".join(
            f"{k}: " + (" ".join(f"{m}={got[k]['metrics'][m]['value']:.6g}"
                                 for m, _ in metrics if m in got[k]["metrics"])
                        if got[k] else "no result")
            for k in ("base", "change"))
        print(f"pair {i + 1} seed {seed} {order[0]} first | {cells}", flush=True)
    print(format_summary(summarize(pairs, metrics)))
    bad = problems(pairs)
    for line in bad:
        print(f"FAILED {line}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
