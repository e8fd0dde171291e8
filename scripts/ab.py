"""Paired A/B of two sides of the engine benchmark (``perfbench/run.py``).

    python3 scripts/ab.py --workload llm_curation --pairs 10 --seed 611 \\
        --parent 11650c6 --change 6db43a0
    python3 scripts/ab.py --workload llm_curation --parent . SPARK_GRAFT_ZIP_STAMP=0 --change .

A side is a git revision, exported with ``git archive`` into a temporary
directory that is removed on exit, or ``.`` for the working tree, followed
by any ``KEY=VAL`` environment settings for its runs. Pair ``i`` runs both
sides on seed ``--seed + i``; even pairs run the parent first, odd pairs
the change. Before pair 1 each side makes one discarded warm-up run, so
an exported revision does not pay its first byte-compile in a measured
run while ``.`` starts warm. Every run is the benchmark's own command from
``BENCHMARK.json`` with its ``run_seconds`` and the given ``--trace``.

With ``--trace 0`` each end-to-end metric of ``BENCHMARK.json`` gets both
medians with their quartiles, the change's wins out of the pairs (ties
count for neither side) and a verdict, checked in this order:

- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``better``: the change wins at least 9/10 of the pairs and the medians
  differ by more than the parent's interquartile range;
- ``unresolved``: the parent's interquartile range exceeds the bound
  (relative to its median), unless every change run beats every parent run;
- ``flat``: none of these.

With ``--trace 1`` it prints the per-layer medians of both sides, without
verdicts. Both modes print failed/attempted operations per side; a run
that prints no result line counts as failed and is listed. The raw
per-run results go to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WIN_SHARE = 0.9


def parse_side(words: list[str]) -> dict:
    """``[REV, KEY=VAL, ...]`` -> ``{"rev": REV, "env": {KEY: VAL}}``."""
    rev, *settings = words
    env = {}
    for s in settings:
        key, sep, val = s.partition("=")
        if not sep or not key:
            raise ValueError(f"expected KEY=VAL after the revision, got {s!r}")
        env[key] = val
    return {"rev": rev, "env": env}


def checkout(rev: str, tmp: Path) -> Path:
    """Directory holding ``rev``'s committed files (``.``: the working tree)."""
    if rev == ".":
        return ROOT
    dest = tmp / rev.replace("/", "_")
    if not dest.exists():
        dest.mkdir()
        archive = tmp / f"{dest.name}.tar"
        with open(archive, "wb") as f:
            subprocess.run(["git", "-C", str(ROOT), "archive", rev], stdout=f, check=True)
        with tarfile.open(archive) as tar:
            tar.extractall(dest, filter="data")
        archive.unlink()
    return dest


def parse_output(stdout: str) -> tuple[dict | None, dict | None]:
    """(result, report) from a run's standard output: the result is the
    last line when it parses as a JSON object with ``metrics``; the report
    is the line before it, when there is one."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]

    def obj(i: int) -> dict | None:
        try:
            doc = json.loads(lines[i])
        except (IndexError, json.JSONDecodeError):
            return None
        return doc if isinstance(doc, dict) else None

    result = obj(-1)
    if result is None or "metrics" not in result:
        return None, None
    report = obj(-2)
    return result, report if report and "report" in report else None


def run_once(bench: dict, side: dict, where: Path, args, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=where, env={**os.environ, **side["env"]},
                          capture_output=True, text=True)
    result, report = parse_output(proc.stdout)
    return {"seed": seed, "returncode": proc.returncode, "result": result, "report": report,
            "stderr_tail": proc.stderr.splitlines()[-20:]}


def values(runs: list[dict], name: str) -> list[float]:
    return [r["result"]["metrics"][name]["value"] for r in runs
            if r["result"] and name in r["result"]["metrics"]]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[dict], change: list[dict], name: str, better: str, bound: float) -> dict:
    """Medians, quartiles, wins and verdict of one end-to-end metric; pair
    ``i`` is ``parent[i]`` against ``change[i]``."""
    sign = 1 if better == "higher" else -1  # sign * (c - p) > 0: the change is better
    p, c = values(parent, name), values(change, name)
    out = {"pairs": len(parent), "wins": 0}
    for pr, cr in zip(parent, change):
        pv, cv = values([pr], name), values([cr], name)
        if pv and cv and sign * (cv[0] - pv[0]) > 0:
            out["wins"] += 1
    if not p or not c:
        out["verdict"] = "no runs"
        return out
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)
    out.update(parent=(pm, p1, p3), change=(cm, c1, c3))
    gain = sign * (cm - pm)  # > 0: the change's median is better
    if -gain > bound * abs(pm):
        out["verdict"] = "worse"
    elif out["wins"] >= WIN_SHARE * out["pairs"] and gain > p3 - p1:
        out["verdict"] = "better"
    elif p3 - p1 > bound * abs(pm) and not min(sign * x for x in c) > max(sign * x for x in p):
        out["verdict"] = "unresolved"
    else:
        out["verdict"] = "flat"
    return out


def failures(runs: list[dict]) -> dict:
    ok = [r["result"] for r in runs if r["result"]]
    return {
        "failed": sum(r["failed"] for r in ok),
        "attempted": sum(r["attempted"] for r in ok),
        "failed_runs": [r["seed"] for r in runs if not r["result"]],
    }


def report(parent: list[dict], change: list[dict], end_to_end: list[dict] | None) -> list[str]:
    """The printed table, one line per metric, then one line per side:
    verdicts on the ``end_to_end`` metrics, or, when that is None (traced
    runs), the medians of every metric the runs report."""
    lines = []
    if end_to_end is None:
        names = sorted({n for r in parent + change if r["result"] for n in r["result"]["metrics"]})
        lines.append(f"{'metric':34s} {'parent median':>14s} {'change median':>14s}")
        for n in names:
            meds = [f"{statistics.median(xs):.4g}" if xs else "-" for xs in (values(parent, n), values(change, n))]
            lines.append(f"{n:34s} {meds[0]:>14s} {meds[1]:>14s}")
    else:
        lines.append(f"{'metric':12s} {'parent median (q1-q3)':>30s} {'change median (q1-q3)':>30s}  wins   verdict")
        for m in end_to_end:
            v = verdict(parent, change, m["name"], m["better"], m["bound"])
            cols = [f"{v[s][0]:.4g} ({v[s][1]:.4g}-{v[s][2]:.4g})" if s in v else "-" for s in ("parent", "change")]
            lines.append(f"{m['name']:12s} {cols[0]:>30s} {cols[1]:>30s}  {v['wins']:>2d}/{v['pairs']:<2d}  {v['verdict']}")
    for side, runs in (("parent", parent), ("change", change)):
        f = failures(runs)
        line = f"{side}: failed {f['failed']} of {f['attempted']} attempted"
        if f["failed_runs"]:
            line += f"; {len(f['failed_runs'])} of {len(runs)} runs printed no result (seeds {f['failed_runs']})"
        lines.append(line)
    return lines


def main(argv: list[str] | None = None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    side = "a git revision or '.', then KEY=VAL environment settings"
    ap.add_argument("--parent", nargs="+", required=True, metavar="WORD", help=side)
    ap.add_argument("--change", nargs="+", required=True, metavar="WORD", help=side)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, help="raw per-run results as JSON")
    args = ap.parse_args(argv)
    try:
        sides = {"parent": parse_side(args.parent), "change": parse_side(args.change)}
    except ValueError as e:
        ap.error(str(e))

    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        where = {k: checkout(s["rev"], Path(tmp)) for k, s in sides.items()}
        for k in ("parent", "change"):
            warm = run_once(bench, sides[k], where[k], args, args.seed - 1)
            print(f"warm-up {k}: {'ok' if warm['result'] else 'NO RESULT'} (discarded)", file=sys.stderr, flush=True)
        for i in range(args.pairs):
            seed = args.seed + i
            for k in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
                run = run_once(bench, sides[k], where[k], args, seed)
                runs[k].append(run)
                res = run["result"]
                status = f"failed {res['failed']}/{res['attempted']}" if res else f"NO RESULT (exit {run['returncode']})"
                print(f"pair {i + 1}/{args.pairs} seed {seed} {k}: {status}", file=sys.stderr, flush=True)

    if args.out:
        args.out.write_text(json.dumps({"workload": args.workload, "seconds": bench["run_seconds"],
                                        "trace": args.trace, "sides": sides, **runs}, indent=1))
    end_to_end = None if args.trace else bench["end_to_end"]
    print("\n".join(report(runs["parent"], runs["change"], end_to_end)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
