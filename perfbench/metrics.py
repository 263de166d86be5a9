"""The timed loop and the turn from rounds and spans into metrics.

End-to-end metrics (``--trace 0``), the same names for every workload:

- ``setup_s``: process start to the start of the first timed round;
- ``round_cpu_s``: median over rounds of the CPU time the whole process
  tree (driver, JVM, Python workers) used during a round.

Printed, and not end-to-end metrics of ``BENCHMARK.json`` because they
did not repeat well enough on a shared host: ``round_s``, the wall time
of a round's timed calls (a daily pass and its re-run; an analyst pass
and a curation job; also the per-layer ``bench.round_s``), whose spread
reached a third of its median in busy periods; ``throughput_per_s``,
work units per second of operation time (rows landed per second of daily
pass, queries per second), redundant with it at one round per run;
``op_p50_s``, the median operation latency. Traced runs also print
``peak_rss_mb``, the peak resident memory of the process tree (a
per-layer metric).

Per-layer metrics (``--trace 1``) are medians over the rounds of
per-round totals. A metric of a layer the workload does not load reads 0.
A traced round does the same work as an untraced one: the workloads take
their traced counts and checks after the round, outside its clocks.
"""

from __future__ import annotations

import time

import stats
from spans import layer_of, self_times, tree_cpu_s


def run_rounds(ctx, wl, args) -> list[dict]:
    """Repeat ``wl.round`` until ``args.seconds`` of timed rounds have
    elapsed; every round is traced when ``--trace 1``."""
    rounds: list[dict] = []
    timed = 0.0
    i = 0
    while True:
        ctx.notes = {}
        first_span = len(ctx.tracer.spans)
        cost0 = ctx.tracer.cost_s
        group = ctx.probe.begin() if ctx.probe else None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.round", round=i):
            ok, res = ctx.attempt(wl.name, f"round-{i}", lambda: wl.round(ctx, i))
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        cost = ctx.tracer.cost_s - cost0
        spark = ctx.probe.collect(group) if ctx.probe else {}
        if ok:
            ctx.attempt(wl.name, f"after-round-{i}", lambda: wl.after_round(ctx, i), counted=False)
        rounds.append(
            {
                "first_span": first_span,
                "start": t0,
                "wall": wall,
                "cpu": cpu,
                "trace_cost": cost,
                "result": res if ok else None,
                "spans": ctx.tracer.spans[first_span:],
                "notes": dict(ctx.notes),
                "spark": spark,
            }
        )
        timed += wall
        i += 1
        if timed >= args.seconds:
            break
    return rounds


def _end_to_end(rounds: list[dict], process_start: float) -> dict:
    """End-to-end values; 0 where no round completed (the run then also
    reports failures, so it is not correct)."""
    done = [r for r in rounds if r["result"] is not None]
    lat = [x for r in done for x in r["result"].op_latencies]

    def med(values):
        return stats.median(values) if values else 0.0

    return {
        "setup_s": rounds[0]["start"] - process_start,
        "round_s": med([r["result"].busy_s for r in done]),
        "round_cpu_s": med([r["cpu"] for r in done]),
        "throughput_per_s": stats.rate(sum(r["result"].work for r in done), sum(lat)) if lat else 0.0,
        "op_p50_s": med(lat),
    }


def _round_layers(r: dict, cores: int, key_module: dict[str, str]) -> dict[str, float]:
    """Per-layer totals of one traced round."""
    out: dict[str, float] = {}

    def add(name, v):
        out[name] = out.get(name, 0.0) + v

    spans = r["spans"]
    own = self_times(spans)
    for s in spans:
        add(f"self.{layer_of(s.name)}_s", own[s.id])
        if s.name == "bench.query":
            key = s.attrs["key"]
            add(f"key.{key}_s", s.duration)
            add(f"layer.{key_module[key]}_s", s.duration)
        elif s.name != "bench.round":
            add(f"{s.name}_s", s.duration)
    out.update(r["notes"])
    if r["result"] is not None:
        out["bench.round_s"] = r["result"].busy_s
        out["bench.round_cpu_s"] = r["cpu"]
    files = out.get("io.files_written", 0.0)
    rows = out.get("io.rows_written", 0.0)
    out["io.rows_per_file"] = rows / files if files else 0.0
    out["io.stored_bytes_per_row"] = out.get("io.bytes_written", 0.0) / rows if rows else 0.0
    work = out.get("ingest.work_items", 0.0)
    out["ingest.pending_ratio"] = out.get("ingest.pending_items", 0.0) / work if work else 0.0
    noop = r["result"].parts.get("noop_pass_s") if r["result"] is not None else None
    out["ingest.noop_pass_s"] = stats.median(noop) if noop else 0.0
    for k, v in r["spark"].items():
        out[f"spark.{k}"] = v
    out["spark.busy_ratio"] = r["spark"].get("executor_run_s", 0.0) / (r["wall"] * cores)
    return out


def _per_layer(rounds, setup_spans, cores, key_module) -> dict[str, float]:
    per_round = [_round_layers(r, cores, key_module) for r in rounds]
    names = {n for d in per_round for n in d}
    out = {n: stats.median([d.get(n, 0.0) for d in per_round]) for n in names}
    own = self_times(setup_spans)
    for s in setup_spans:
        if s.name in ("session.start", "session.warmup"):
            out[f"{s.name}_s"] = s.duration
            out["self.session_s"] = out.get("self.session_s", 0.0) + own[s.id]
    # round wall time over round wall time less what recording spans cost
    # in it: the share of span bookkeeping only. Traced against untraced
    # time (trace.overhead_ratio) needs both kinds of run; steadiness mode
    # reports it.
    wall = sum(r["wall"] for r in rounds)
    out["trace.span_cost_ratio"] = wall / (wall - sum(r["trace_cost"] for r in rounds))
    return out


def report(args, bench, spec, wl, ctx, rounds, tracer, extra, peak_rss, process_start) -> dict:
    e2e = _end_to_end(rounds, process_start)
    summary = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} rounds={len(rounds)} attempted={ctx.attempted} failed={ctx.failed} "
        f"error_rate={stats.error_rate(ctx.attempted, ctx.failed):.4f}"
    ]
    for f in ctx.failures:
        summary.append(f"FAILED {f['workload']} {f['key']}: {f['message']}")
    done = [r["result"] for r in rounds if r["result"] is not None]
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        "round_s": (e2e["round_s"], "s"),
        "round_cpu_s": (e2e["round_cpu_s"], "s"),
        "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
        "op_p50_s": (e2e["op_p50_s"], "s"),
    }
    if peak_rss is not None:
        named["peak_rss_mb"] = (peak_rss / 2**20, "MB")
    if done:
        named.update(wl.named(done))
    named.update(extra)
    for k, (v, unit) in named.items():
        summary.append(f"{k} = {v:.6g} {unit}")

    if args.trace:
        setup_spans = tracer.spans[: rounds[0]["first_span"]]
        layers = _per_layer(rounds, setup_spans, ctx.cores, spec["key_module"])
        layers["peak_rss_mb"] = peak_rss / 2**20
        names = [m["name"] for m in bench["per_layer"]]
        units_of = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        layers = e2e
        names = [m["name"] for m in bench["end_to_end"]]
        units_of = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units_of[n]} for n in names}
    return {
        "summary": summary,
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
