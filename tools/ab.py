"""Interleaved A/B of the working tree against a git revision on one
perfbench workload.

    python tools/ab.py --base <rev> --workload W --pairs N [--first-seed S]

Run from the repository root. Each side runs in a copy of its own under
a fresh directory in $TMPDIR (set TMPDIR to choose the scratch
directory): the base is `git archive <rev>`, the head the working
tree's tracked and untracked, not ignored files. Each copy keeps its
own `perfbench/.work`, so each side generates its own data, as the
benchmark does on a fresh checkout. A copy leaves no entry in the
repository's `.git` if a run is killed, so removing the directory is
the whole clean-up.

Pair i runs seed `first_seed + i` on both sides, the base first in even
pairs and the head first in odd ones. Every run is

    python3 perfbench/run.py --workload W --seed S --seconds 4 --trace 0

in that side's copy. The script prints every run as it ends, then for
each end-to-end metric of BENCHMARK.json: the head/base ratio of every
pair, both medians, the base's first and third quartiles, the pairs the
head won (in the metric's better direction; ties count for neither
side) and the failed passes of each side. It calls only
`perfbench/run.py` and changes nothing in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = 4


def _git(*args: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", ROOT, *args], check=True, **kw)


def export_rev(rev: str, dest: str) -> None:
    """Write the files of git revision `rev` into `dest`."""
    os.makedirs(dest)
    archive = _git("archive", "--format=tar", rev, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def export_worktree(dest: str) -> None:
    """Write the working tree's tracked and untracked, not ignored files
    into `dest`."""
    os.makedirs(dest)
    listed = _git("ls-files", "-z", "--cached", "--others", "--exclude-standard",
                  capture_output=True).stdout.decode()
    for rel in filter(None, listed.split("\0")):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):  # a deleted tracked file is still listed
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


class Runner:
    """Runs perfbench in a copy; `stop` ends a run still in flight."""

    def __init__(self) -> None:
        self.proc: subprocess.Popen | None = None

    def run(self, tree: str, workload: str, seed: int) -> dict:
        """One benchmark run: its result line as a dict, or a failed
        result with no metrics when the run printed none."""
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
        self.proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                                     stderr=subprocess.DEVNULL, text=True)
        out, _ = self.proc.communicate()
        rc, self.proc = self.proc.returncode, None
        lines = out.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = None
        if rc != 0 or not isinstance(res, dict) or "metrics" not in res:
            return {"correct": False, "attempted": 0, "failed": 0, "metrics": None,
                    "error": f"exit {rc}"}
        return res

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def report(runs: list[dict], metrics: list[dict]) -> None:
    """The per-metric comparison of the pairs in `runs`."""
    pairs = [(r["base"]["metrics"], r["head"]["metrics"]) for r in runs]
    pairs = [(b, h) for b, h in pairs if b and h]
    print(f"\n{len(pairs)} complete pairs of {len(runs)}")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        b = [p[0][name]["value"] for p in pairs]
        h = [p[1][name]["value"] for p in pairs]
        if not b:
            continue
        ratios = [y / x if x else float("nan") for x, y in zip(b, h)]
        wins = sum((y > x) if higher else (y < x) for x, y in zip(b, h))
        mb, mh = statistics.median(b), statistics.median(h)
        q1, q3 = quartiles(b)
        print(f"{name} ({m['better']} is better): base median {mb:.4g} "
              f"(q1 {q1:.4g}, q3 {q3:.4g}, IQR {q3 - q1:.4g}), head median {mh:.4g}, "
              f"ratio of medians {mh / mb if mb else float('nan'):.3f}, "
              f"head better in {wins}/{len(pairs)}")
        print("  pair ratios head/base: " + " ".join(f"{r:.3f}" for r in ratios))
    for side in ("base", "head"):
        failed = sum(r[side]["failed"] for r in runs)
        attempted = sum(r[side]["attempted"] for r in runs)
        broken = sum(r[side]["metrics"] is None for r in runs)
        print(f"{side}: {failed} failed of {attempted} passes, {broken} runs without a result")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    # a SIGTERM unwinds like Ctrl-C, so the copies are still removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = tempfile.mkdtemp(prefix="ab-")
    runner = Runner()
    try:
        trees = {"base": os.path.join(scratch, "base"), "head": os.path.join(scratch, "head")}
        export_rev(args.base, trees["base"])
        export_worktree(trees["head"])
        print(f"ab: {args.workload}, {args.pairs} pairs, base {args.base}, "
              f"head the working tree, copies in {scratch}", flush=True)
        runs = []
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            pair = {}
            for side in order:
                res = pair[side] = runner.run(trees[side], args.workload, seed)
                vals = ({k: round(v["value"], 4) for k, v in res["metrics"].items()}
                        if res["metrics"] else res.get("error"))
                print(f"pair {i + 1} seed {seed} {side}: failed {res['failed']}/"
                      f"{res['attempted']} {vals}", flush=True)
            runs.append(pair)
        report(runs, metrics)
    finally:
        runner.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
