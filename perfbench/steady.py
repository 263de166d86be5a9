"""Steadiness mode: do two sets of runs of the same code agree?

Runs ``--runs`` untraced runs of one workload with seeds 1..N, then
another set with seeds N+1..2N, each in a fresh process, and reports per
end-to-end metric each set's median and quartiles, each set's spread
(Q3 - Q1 over the median) and how much worse the second median is than
the first. A metric agrees when both are within its bound. Then a few
traced runs give ``trace.overhead_ratio``: the median round CPU time of
the traced runs over that of the untraced ones. Records go to
``.perfbench/steady-<workload>.jsonl``.

Records carry the environment they ran in (core count, driver memory,
Spark, Java, pyarrow and DuckDB versions); sets from different
environments are refused, not compared.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import stats

TRACED_RUNS = 3


def _run_once(here: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(here, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", str(trace),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}: {out.stderr[-2000:]}")
    env = next(
        (json.loads(ln[len("# env "):]) for ln in lines if ln.startswith("# env ")), None
    )
    return {"seed": seed, "trace": trace, "env": env, **json.loads(lines[-1])}


def _check_env(records: list[dict]) -> None:
    envs = {json.dumps(r["env"], sort_keys=True) for r in records}
    if len(envs) != 1:
        raise ValueError(f"records come from {len(envs)} different environments: {sorted(envs)}")


def compare(bench: dict, first: list[dict], second: list[dict]) -> tuple[list[str], bool]:
    """Report lines and whether every end-to-end metric agrees."""
    _check_env(first + second)
    lines, all_ok = [], True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a = [r["metrics"][name]["value"] for r in first]
        b = [r["metrics"][name]["value"] for r in second]
        qa, qb = stats.quartiles(a), stats.quartiles(b)
        sa, sb = stats.iqr_share(a), stats.iqr_share(b)
        worse = stats.worse_share(qa[1], qb[1], m["better"])
        ok = worse <= bound and sa <= bound and sb <= bound
        all_ok &= ok
        lines.append(
            f"{name:18s} set1 {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}] spread {sa:.3f} | "
            f"set2 {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}] spread {sb:.3f} | "
            f"worse {worse:+.3f} bound {bound} third {bound / 3:.3f} -> {'agree' if ok else 'DISAGREE'}"
        )
    return lines, all_ok


def overhead_ratio(untraced: list[dict], traced: list[dict]) -> float:
    """Traced over untraced end-to-end round time: the median traced
    ``bench.round_cpu_s`` over the median untraced ``round_cpu_s``."""
    _check_env(untraced + traced)
    t = stats.median([r["metrics"]["bench.round_cpu_s"]["value"] for r in traced])
    u = stats.median([r["metrics"]["round_cpu_s"]["value"] for r in untraced])
    return t / u


def main(args, bench: dict, here: str) -> int:
    n = args.runs
    out_path = os.path.join(os.path.dirname(here), ".perfbench", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    sets: list[list[dict]] = [[], [], []]  # two untraced sets, then the traced runs
    plan = [(0, n, 0), (1, n, 0), (2, TRACED_RUNS, 1)]
    seed = 0
    with open(out_path, "w") as log:
        for s, count, trace in plan:
            for _ in range(count):
                seed += 1
                rec = _run_once(here, args.workload, seed, args.seconds, trace)
                rec["set"] = s
                log.write(json.dumps(rec) + "\n")
                log.flush()
                if not rec["correct"]:
                    print(f"# seed {rec['seed']}: {rec['failed']} of {rec['attempted']} failed")
                sets[s].append(rec)
    lines, ok = compare(bench, sets[0], sets[1])
    print(f"# {args.workload}: {n} + {n} untraced runs and {TRACED_RUNS} traced runs "
          f"of {args.seconds:g} s; records in {out_path}")
    for ln in lines:
        print(ln)
    print(f"trace.overhead_ratio = {overhead_ratio(sets[0] + sets[1], sets[2]):.4f}")
    return 0 if ok else 1
