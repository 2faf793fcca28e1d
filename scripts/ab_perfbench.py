"""Interleaved A/B of two git revisions on the repo benchmark.

Exports each revision with ``git archive`` into its own directory under
``.ab_perfbench/`` and runs ``perfbench/run.py`` from there, alternating
the two revisions seed by seed (and the order within each pair), so that
drift of a shared host lands on both sides alike. Every workload of
``BENCHMARK.json`` runs, at its ``run_seconds``, as the benchmark itself
runs them. For every workload it prints
each run's end-to-end metrics plus ``calib_s`` (the harness's fixed
calibration job, a host-load gauge), the per-pair deltas, both medians,
and the quartile spread of the base runs; a claim of a gain needs the
change to win most pairs and to move the median by more than that
spread.

Usage:
    python scripts/ab_perfbench.py BASE HEAD [--seeds 1 2 3 4]
        [--trace 0] [--log FILE]

``BASE``/``HEAD`` are any git revisions; ``WORKTREE`` stands for the
current checkout's tracked and untracked (not ignored) files. Each run
is one fresh process, as the benchmark's own runs are. ``--log`` keeps
every run's raw JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".ab_perfbench")


def export(rev: str, dest: str) -> None:
    """The files of ``rev`` (or of the working tree) under ``dest``."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev == "WORKTREE":
        names = subprocess.run(
            ["git", "ls-files", "-co", "--exclude-standard", "-z"],
            cwd=ROOT, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for name in filter(None, names):
            src = os.path.join(ROOT, name)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, name))
        return
    tar = os.path.join(dest, ".export.tar")
    subprocess.run(["git", "archive", "-o", tar, rev], cwd=ROOT, check=True)
    with tarfile.open(tar) as t:
        t.extractall(dest)
    os.remove(tar)


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark process; its result line with ``calib_s`` folded in."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.splitlines()[-20:])
        raise RuntimeError(f"{' '.join(cmd)} in {tree} exited {p.returncode}:\n{tail}")
    result = json.loads(lines[-1])
    machine = next(
        (json.loads(ln)["machine"] for ln in lines if ln.startswith('{"machine"')), {}
    )
    result["calib_s"] = machine.get("calib_s", 0.0)
    result["wall_s"] = time.monotonic() - t0
    return result


def metrics_of(result: dict) -> dict[str, float]:
    out = {k: v["value"] for k, v in result["metrics"].items()}
    out["calib_s"] = result["calib_s"]
    return out


def quartile_spread(xs: list[float]) -> float:
    """(q3 - q1) / median; 0 for fewer than two values."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def report(workload: str, pairs: list[tuple[int, dict, dict]]) -> str:
    """Per-pair deltas and medians of every metric of one workload."""
    names = list(metrics_of(pairs[0][1]))
    out = [f"== {workload}: {len(pairs)} pairs (base -> head, delta %)"]
    for name in names:
        base = [metrics_of(b)[name] for _, b, _ in pairs]
        head = [metrics_of(h)[name] for _, _, h in pairs]
        deltas = [(h - b) / b * 100 if b else 0.0 for b, h in zip(base, head)]
        mb, mh = statistics.median(base), statistics.median(head)
        lower = sum(h < b for b, h in zip(base, head))
        out.append(
            f"{name:>12}: median {mb:.4g} -> {mh:.4g} "
            f"({(mh - mb) / mb * 100 if mb else 0.0:+.1f} %), "
            f"base spread {quartile_spread(base):.3f}, head lower in {lower}/{len(pairs)}"
        )
        out.append(
            "              pairs: "
            + ", ".join(
                f"s{seed} {b:.4g}->{h:.4g} ({d:+.1f}%)"
                for (seed, _, _), b, h, d in zip(pairs, base, head, deltas)
            )
        )
    bad = [
        (seed, side)
        for seed, b, h in pairs
        for side, r in (("base", b), ("head", h))
        if not r["correct"] or r["failed"]
    ]
    out.append(f"{'runs':>12}: " + (f"NOT CORRECT {bad}" if bad else "all correct, failed 0"))
    return "\n".join(out)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", default=None)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    trees = {}
    for label, rev in (("base", args.base), ("head", args.head)):
        trees[label] = os.path.join(WORK, label)
        export(rev, trees[label])
    log = open(args.log, "a") if args.log else None
    print(f"base {args.base}, head {args.head}, seeds {args.seeds}, {seconds:g} s, trace {args.trace}")
    pairs: dict[str, list] = {w: [] for w in workloads}
    try:
        for i, seed in enumerate(args.seeds):
            for workload in workloads:
                order = ("base", "head") if i % 2 == 0 else ("head", "base")
                got = {}
                for label in order:
                    got[label] = run_once(trees[label], workload, seed, seconds, args.trace)
                    m = metrics_of(got[label])
                    print(
                        f"{workload} seed {seed} {label}: correct {got[label]['correct']}, "
                        + ", ".join(f"{k} {v:.4g}" for k, v in m.items()),
                        flush=True,
                    )
                    if log:
                        log.write(json.dumps({"workload": workload, "seed": seed, "side": label, **got[label]}) + "\n")
                        log.flush()
                pairs[workload].append((seed, got["base"], got["head"]))
    finally:
        if log:
            log.close()
    for workload in workloads:
        if pairs[workload]:
            print(report(workload, pairs[workload]))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
