#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts, for an A/B claim.

    python3 tools/perf_pairs.py PARENT CHANGE --workload geoparquet_io --pairs 10

``PARENT`` and ``CHANGE`` are two checkouts of this repository (a
``git clone`` or ``git archive`` of each commit). Pair ``i`` runs
``perfbench/run.py --workload W --seed FIRST+i --seconds S --trace 0``
once in each checkout, one after the other, and the side that runs first
alternates from pair to pair, so a drift in the host's speed falls on
both sides alike. Each run's result line is printed as it lands (and
appended to ``--out`` as JSON lines, if given). At the end, for every
end-to-end metric that ``CHANGE/BENCHMARK.json`` declares, it prints
each side's median and quartiles and the number of pairs the change
won (ties count for neither side), and the runs that were not correct.
When the runs' record lines carry per-op walls, it also summarizes them
by op family (``write``, ``read…columns``, ``read…geo_sql``, or
the op kind for the ``queries`` workload): one median wall per run and
family, then each side's median and quartiles of those and the pairs
the change won, so a claim can name the ops that moved.

This tool only invokes the benchmark; it changes nothing in either
checkout beyond what a perfbench run itself leaves there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``checkout``; its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-5:]
        return {"correct": False, "error": f"exit {proc.returncode}: {tail}",
                "metrics": {}}
    if "metrics" not in result:
        return {"correct": False, "error": f"no result line: {lines[-1][:200]}",
                "metrics": {}}
    # perfbench reports each metric as {"value": v, "unit": u}.
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    record = next((json.loads(ln)["record"] for ln in reversed(lines[:-1])
                   if ln.startswith('{"record"')), {})
    result["op_walls"] = family_walls(record.get("ops") or [])
    return result


def op_family(op: dict) -> str:
    """``write`` or ``read…<path>`` for a ``geoparquet_io`` op
    (``write[tile]``, ``read[tile,w0,geo_sql]``), else the op's kind."""
    name = op.get("op", "")
    if name.startswith("read[") and name.endswith("]"):
        return "read…" + name[:-1].rsplit(",", 1)[-1]
    if name.startswith("write["):
        return "write"
    return op.get("kind") or name


def family_walls(ops: list[dict]) -> dict[str, float]:
    """The median ``wall_s`` of each op family over one run's ops."""
    walls: dict[str, list[float]] = {}
    for op in ops:
        if op.get("wall_s") is not None:
            walls.setdefault(op_family(op), []).append(op["wall_s"])
    return {fam: statistics.median(ws) for fam, ws in sorted(walls.items())}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) with the inclusive method; one sample is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], metrics: list[dict],
              key: str = "metrics") -> list[str]:
    """One line per metric: each side's median [q1, q3] and the change's
    wins over the pairs where both sides reported it. ``key`` names the
    per-run dict the values come from (``op_walls`` for the op families)."""
    out = []
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        both = [(p[key][name], c[key][name]) for p, c in pairs
                if name in p.get(key, {}) and name in c.get(key, {})]
        if not both:
            out.append(f"{name}: no pair reported it")
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
        change = (cm - pm) / pm * 100 if pm else float("nan")
        out.append(
            f"{name} ({m.get('unit', '')}, {m.get('better', 'lower')} is better): "
            f"parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
            f"{change:+.1f}%  change won {wins}/{len(both)}  "
            f"parent IQR {p3 - p1:.4g}, |median diff| {abs(cm - pm):.4g}"
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--out", help="append each run's result here as a JSON line")
    args = ap.parse_args(argv)

    for d in (args.parent, args.change):
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    pairs, bad = [], []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            r = run_once(getattr(args, side), args.workload, seed, args.seconds)
            got[side] = r
            if not r.get("correct") or r.get("failed"):
                bad.append((seed, side, r.get("error") or f"failed={r.get('failed')}"))
            line = {"pair": i, "seed": seed, "side": side, "workload": args.workload,
                    "correct": r.get("correct"), "failed": r.get("failed"),
                    "metrics": {m["name"]: r["metrics"].get(m["name"]) for m in metrics}}
            print(json.dumps(line), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({**line, "result": r}) + "\n")
        pairs.append((got["parent"], got["change"]))

    print(f"# {args.workload}: {args.pairs} pairs, seeds "
          f"{args.first_seed}-{args.first_seed + args.pairs - 1}, --seconds {args.seconds}")
    for line in summarize(pairs, metrics):
        print(line)
    families = sorted({f for p, c in pairs for f in (*p.get("op_walls", {}),
                                                      *c.get("op_walls", {}))})
    if families:
        print("# per-op wall medians by op family (s)")
        for line in summarize(pairs, [{"name": f, "unit": "s"} for f in families],
                              key="op_walls"):
            print(line)
    for seed, side, why in bad:
        print(f"NOT CORRECT: seed {seed} {side}: {why}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
