"""Benchmark of the spatial conflation engine.

    python3 perfbench/run.py --workload assign --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the inputs from ``--seed``,
starts Spark on this machine's cores with a heap sized from its memory,
times the workload's user job and query suite for ``--seconds``, checks
every output, and prints one JSON line last: the ``end_to_end`` metrics
of ``BENCHMARK.json`` untraced, its ``per_layer`` metrics with
``--trace 1``. The full record goes to ``perfbench/results/``.
See ``perfbench/NOTES.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def geo_kernels() -> dict:
    """Throughput of the numpy kernels outside Spark at fixed sizes: the
    median of five timed calls each."""
    import numpy as np

    from pdxbldgimport_spark.geo.core import RingSet, points_in_polygons_pairs
    from pdxbldgimport_spark.geo.linemerge import merge_chains
    from pdxbldgimport_spark.geo.simplify import densify_rings, simplify_ring
    from stats import median

    rng = np.random.default_rng(0)
    n_poly = 2000
    x0, y0 = rng.random(n_poly), rng.random(n_poly)
    rings = [np.array([x, y, x + 0.01, y, x + 0.01, y + 0.01, x, y + 0.01, x, y])
             for x, y in zip(x0, y0)]
    rs = RingSet.from_arrow_lists([[r] for r in rings])
    n_pairs = 200_000
    px, py = rng.random(n_pairs), rng.random(n_pairs)
    pair_pt = np.arange(n_pairs)
    pair_poly = rng.integers(0, n_poly, n_pairs)
    dense = [densify_rings(r, 8) for r in rings]
    # each square ring as two open halves sharing its third vertex; the
    # merge closes them back into the ring
    chains = [half for r in rings[:500] for half in (r[:6], r[4:])]

    def rate(n, fn):
        times = []
        for _ in range(5):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return n / median(times)

    return {
        "geo.pip_pairs_per_s": rate(
            n_pairs, lambda: points_in_polygons_pairs(px, py, rs, pair_pt, pair_poly)),
        "geo.simplify_rings_per_s": rate(
            len(dense), lambda: [simplify_ring(r, 1e-6) for r in dense]),
        "geo.linemerge_chains_per_s": rate(len(chains), lambda: merge_chains(chains)),
    }


def spark_layers(b, wl, counts, log_lines) -> dict:
    """Per-timed-call Spark counters, from the status tracker (exact
    counts) and the event log (bytes, times): medians over the timed
    jobs, over the suite passes, and over the workload's shuffle-heavy
    operation (``wl.shuffle_span``). GC, CPU and Arrow figures cover one
    job plus one pass."""
    from stats import median
    from tracing import parse_event_log

    groups = parse_event_log(log_lines)
    spans = b.tracer.spans
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x, [])
        return out

    def counters(root):
        """Counters of one span and every span under it."""
        c = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "gc_ms": 0.0,
             "sw": 0.0, "sr": 0.0, "spill": 0.0, "py_out": 0.0, "py_in": 0.0,
             "skew": 1.0, "wall": spans[root].dur}
        for sid in subtree(root):
            j, st, t = counts.get(sid, (0, 0, 0))
            c["jobs"] += j
            c["stages"] += st
            c["tasks"] += t
            g = groups.get(f"pb-{sid}")
            if g is None:
                continue
            c["run_ms"] += g.run_ms
            c["gc_ms"] += g.gc_ms
            c["sw"] += g.shuffle_write_b
            c["sr"] += g.shuffle_read_b
            c["spill"] += g.spill_b
            c["py_out"] += g.py_sent_b
            c["py_in"] += g.py_recv_b
            c["skew"] = max(c["skew"], g.task_skew())
        return c

    def of(layer, name):
        return [counters(s.sid) for s in spans if (s.layer, s.name) == (layer, name)]

    per_job = of(wl.job_layer, "job")
    per_pass = of("suite", "pass")
    shuffle = of(*wl.shuffle_span)
    mb = 1 << 20

    def med(rows, key, scale=1.0):
        return median([r[key] / scale for r in rows])

    out = {
        "spark.jobs": med(per_job, "jobs"),
        "spark.stages": med(per_job, "stages"),
        "spark.tasks": med(per_job, "tasks"),
        "spark.suite_jobs": med(per_pass, "jobs"),
        "spark.shuffle_write_mb": med(shuffle, "sw", mb),
        "spark.shuffle_read_mb": med(shuffle, "sr", mb),
        "spark.spill_mb": med(shuffle, "spill", mb),
        "spark.task_skew": med(shuffle, "skew"),
        "spark.gc_s": med(per_job, "gc_ms", 1000.0) + med(per_pass, "gc_ms", 1000.0),
        "spark.cpu_busy_share": median(
            [r["run_ms"] / 1000.0 / (r["wall"] * b.cores) for r in per_job + per_pass]),
    }
    if any(g.py_sent_b for g in groups.values()):  # the workload crosses the Arrow boundary
        out["arrow.to_python_mb"] = med(per_job, "py_out", mb) + med(per_pass, "py_out", mb)
        out["arrow.from_python_mb"] = med(per_job, "py_in", mb) + med(per_pass, "py_in", mb)
    return out


def per_layer(b, wl, spec, start_s) -> tuple[dict, list]:
    """Every per-layer value, and the names of those the workload does
    not exercise (they read 0: the result carries every per-layer name
    of BENCHMARK.json). Runs the workload's traced extras and reads the
    status tracker first, then stops the context so the event log is
    complete, then parses it."""
    from stats import median

    names = {m["name"] for m in spec["per_layer"]}
    extras = wl.layers()
    counts = {s.sid: b.job_counts(s.sid) for s in b.tracer.spans}
    b.spark.stop()
    log_lines = event_log_lines(b)

    vals = {}
    vals["session.start_s"] = start_s
    vals["synth.views_s"] = median(
        [s.dur for s in b.tracer.spans if (s.layer, s.name) == ("synth", "views")])
    vals["trace.job_s"] = b.best("job")
    for q in wl.suite:
        vals[f"queries.build_s.{q}"] = median(b.times[f"build:{q}"])
        vals[f"queries.exec_s.{q}"] = median(b.times[f"exec:{q}"])
    if "stream_drain" in b.times:
        vals["streaming.drain_s"] = b.med("stream_drain")
        vals["streaming.batch_twin_s"] = b.med("events_sessions")
    timed_jobs = {s.sid for s in b.tracer.spans if (s.layer, s.name) == (wl.job_layer, "job")}
    exports = [s.dur for s in b.tracer.spans
               if (s.layer, s.name) == ("exports", "pdx_tile_artifacts") and s.parent in timed_jobs]
    if exports:
        vals["exports.write_s"] = median(exports)
    vals.update(extras)
    vals.update(spark_layers(b, wl, counts, log_lines))
    vals.update(geo_kernels())
    for layer, secs in b.tracer.self_times().items():
        if f"self_s.{layer}" in names:
            vals[f"self_s.{layer}"] = secs
    unknown = sorted(set(vals) - names)
    if unknown:
        raise KeyError(f"per-layer values missing from BENCHMARK.json: {unknown}")
    idle = sorted(names - set(vals))
    vals.update(dict.fromkeys(idle, 0.0))
    return vals, idle


def event_log_lines(b) -> list[str]:
    d = os.path.join(b.run_dir, "eventlog")
    lines: list[str] = []
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        with open(os.path.join(d, name)) as f:
            lines += f.readlines()
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    spec = load_spec()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {sorted(names)}",
              file=sys.stderr)
        return 2
    try:
        import harness  # imports the engine
        import workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from stats import result_line

    b = harness.Bench(BENCH_DIR, args.workload, args.seed, args.seconds, bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "heap_mb": b.heap_mb, "cores": b.cores, "cpus": b.cpus}
    status = 1
    try:
        b.attempted += 1  # the session start is an operation that can fail
        try:
            b.start_spark()
        except Exception:  # noqa: BLE001 — a JVM that cannot start is a failure
            b.failed += 1
            b.errors.append("session start: " + traceback.format_exc(limit=3))
            raise
        start_s = b.tracer.spans[0].dur
        phases = record["phases"] = {"started": time.perf_counter() - b.t_process}
        wl = workloads.WORKLOADS[args.workload](b)
        wl.make_inputs()
        phases["inputs"] = time.perf_counter() - b.t_process
        prepare_s = wl.setup()
        phases["setup"] = time.perf_counter() - b.t_process
        warm_s = wl.warmup()
        phases["warmup"] = time.perf_counter() - b.t_process
        setup_s = start_s + prepare_s + warm_s
        # the peak covers the timed loop only: not set-up, not the DuckDB
        # oracles of the warm-up, not the checks below
        b.reset_peak_rss()
        wl.measure()
        peak_rss_mb = b.peak_rss_mb()
        phases["measure"] = time.perf_counter() - b.t_process
        wl.checks()
        phases["checks"] = time.perf_counter() - b.t_process
        if args.trace:
            metrics, record["per_layer_not_exercised"] = per_layer(b, wl, spec, start_s)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics = wl.end_to_end(setup_s, peak_rss_mb)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        missing = sorted(set(units) - set(metrics))
        if missing:
            raise KeyError(f"metrics not produced: {missing}")
        self_times = b.tracer.self_times()
        record.update({
            "setup": {"start_s": start_s, "prepare_s": prepare_s, "warmup_s": warm_s},
            "docs": wl.docs,
            "jobs": wl.jobs_run,
            "passes": wl.passes_run,
            "times": dict(b.times),
            "host": dict(b.host),
            "outputs": {k: repr(v)[:200] for k, v in b.outputs.items()},
            "self_s": self_times,
            "top_self_layer": max(self_times, key=self_times.get),
            "metrics": metrics,
            "errors": b.errors,
            "attempted": b.attempted, "failed": b.failed,
            "failed_ops_share": b.failed / b.attempted,
        })
        if args.trace:
            record["spans"] = b.tracer.to_json()
        correct = b.failed == 0
        report(record, units, b)
        line = result_line(correct, b.attempted, b.failed,
                           {k: (metrics[k], units[k]) for k in units})
        status = 0 if correct else 1
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        record["errors"] = b.errors + [traceback.format_exc()]
        line = None
        print(traceback.format_exc(), file=sys.stderr)
        print(f"# run failed: failed_ops_share {b.failed / b.attempted:.6g} "
              f"({b.failed}/{b.attempted})", file=sys.stderr)
    finally:
        b.close()
        record.setdefault("phases", {})["closed"] = time.perf_counter() - b.t_process
        record["close_s"] = b.close_s
        save(b, record)
    if line is None:
        return 1
    print(line, flush=True)
    return status


def report(record: dict, units: dict, b) -> None:
    """Human-readable lines before the result line."""
    print(f"# workload={record['workload']} seed={record['seed']} "
          f"cpus={record['cpus']} cores={record['cores']} heap_mb={record['heap_mb']} "
          f"jobs={record['jobs']} passes={record['passes']}")
    for k in sorted(units):
        print(f"# {k:<40} {record['metrics'][k]:>16.6g} {units[k]}")
    if "job_s" in record["metrics"]:
        print(f"# docs_per_s (documents of one job / job_s) "
              f"{record['docs'] / record['metrics']['job_s']:.6g}")
    print(f"# failed_ops_share {record['failed_ops_share']:.6g} "
          f"({record['failed']}/{record['attempted']})")
    print(f"# top self-time layer: {record['top_self_layer']} "
          f"({record['self_s'][record['top_self_layer']]:.3f} s)")
    for e in record["errors"]:
        print(f"# error: {e[:300]}")
    if record["trace"]:
        other = os.path.join(b.results_dir, result_name(record, 0))
        if os.path.exists(other):
            with open(other) as f:
                base = json.load(f)["metrics"].get("job_s")
            if base:
                print(f"# tracing overhead on job_s: "
                      f"{record['metrics']['trace.job_s'] / base - 1:+.3%}")


def result_name(record: dict, trace: int) -> str:
    return f"{record['workload']}-seed{record['seed']}-trace{trace}.json"


def save(b, record: dict) -> None:
    os.makedirs(b.results_dir, exist_ok=True)
    path = os.path.join(b.results_dir, result_name(record, record["trace"]))
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
