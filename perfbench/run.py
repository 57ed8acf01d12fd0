"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload lending_dml --seed 1 --seconds 14 --trace 0

Runs one workload from the repository root: set-up (timed three times,
median reported), a timed region of ``--seconds``, then output checks.
Prints a human-readable report and, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer metrics with ``--trace 1``.

Scratch files live under ``.perfbench/`` in the working checkout and
are removed at the end, except the span dump of a traced run and the
last untraced figures (used for the tracing-overhead line).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: workload name → module holding its ``run(r) -> figures``
WORKLOADS = {
    "lending_dml": "perfbench.wl_lending",
    "autoloader_ingest": "perfbench.wl_autoloader",
}

def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    ap.add_argument(
        "--corrupt", action="store_true", help="self-test: falsify one recorded result before checking"
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(REPO, "ent_fins_lakehouse_spark")):
        print("perfbench: ent_fins_lakehouse_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import importlib

    from perfbench import harness
    from perfbench.metrics import E2E_UNITS, LAYER_UNITS

    shutil.rmtree(harness.run_root(), ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(harness.run_root(), "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    probe_start = harness.host_probe_ms()
    load_start, cpu_start = os.getloadavg(), harness.cpu_ticks()
    tracer = harness.Tracer(enabled=bool(args.trace))
    r = harness.Run(args, tracer)
    t_start = time.time()
    try:
        figures = importlib.import_module(WORKLOADS[args.workload]).run(r)
        versions = harness.engine_versions(r.spark)
    finally:
        r.stop()
        r.cleanup()
    load_end, cpu_end = os.getloadavg(), harness.cpu_ticks()
    ticks = [b - a for a, b in zip(cpu_start, cpu_end)]
    probe_end = harness.host_probe_ms()

    ops = r.ops
    py_rss = harness.python_peak_rss_mb()
    # each workload computes its own rate, median and tail
    e2e = {
        "setup_s": harness.median(r.setup_times),
        "ops_per_s": figures.pop("ops_per_s"),
        "op_p50_ms": figures.pop("op_p50_ms"),
        "op_tail_ms": figures.pop("op_tail_ms"),
        "peak_rss_mb": py_rss + r.jvm_peak_rss_mb,
    }
    tail_pct, n = figures.pop("op_tail_pct"), figures.pop("op_samples")
    everything = r.all_ops()
    failed = [o for o in everything if o.error is not None]
    failed_frac = len(failed) / max(len(everything), 1)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(
        f"host nproc={r.cpus} SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', '(unset)')} "
        f"SPARK_GRAFT_DRIVER_MEM={os.environ.get('SPARK_GRAFT_DRIVER_MEM', '(unset)')} jvm_options='{r.jvm_options}' "
        f"loadavg start={load_start[0]:.2f} end={load_end[0]:.2f} "
        f"steal={100.0 * ticks[7] / max(sum(ticks), 1):.1f}% "
        f"probe={probe_start:.1f}/{probe_end:.1f}ms wall={time.time() - t_start:.1f}s"
    )
    print("engines " + " ".join(f"{k}={v}" for k, v in versions.items()))
    print("setup runs (s): " + ", ".join(f"{t:.3f}" for t in r.setup_times))
    if r.phases:
        print("phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in r.phases.items()))
    kinds = sorted({o.kind for o in ops})
    for k in kinds:
        ms = [o.ms for o in ops if o.kind == k]
        print(f"  op {k:18s} n={len(ms):4d} p50={harness.median(ms):9.1f} ms max={max(ms):9.1f} ms")
    print("op latencies (ms): " + " ".join(f"{o.kind}:{o.ms:.1f}" for o in ops))
    print("warm-up latencies (ms): " + " ".join(f"{o.kind}:{o.ms:.1f}" for o in r.untimed))
    print(f"op_tail_ms is p{tail_pct} of n={n} samples (10 or more beyond it)")
    print(f"peak_rss_mb is python {py_rss:.0f} MB + JVM {r.jvm_peak_rss_mb:.0f} MB")
    for k, v in e2e.items():
        print(f"  {k:26s} {v:14.4f} {E2E_UNITS[k]}")
    figures["failed_frac"] = failed_frac
    for k, v in figures.items():
        if "." not in k:
            print(f"  {k:26s} {v:14.4f}")
    for o in failed[:10]:
        print(f"FAILED {o.kind} {o.meta.get('name', '')}: {o.error}")

    out_dir = os.path.join(REPO, ".perfbench")
    last = os.path.join(out_dir, f"last-{args.workload}-trace0.json")
    # the untraced run to subtract must be of the same inputs and code
    stamp = {"seed": args.seed, "size": args.size, "seconds": args.seconds, "code": code_digest()}
    if args.trace:
        layer = per_layer(tracer, figures)
        report_self_times(tracer)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        base = {}
        if os.path.isfile(last):
            with open(last, encoding="utf-8") as fh:
                base = json.load(fh)
        if base.get("stamp") == stamp:
            print(f"tracing overhead (traced - untraced run of seed {args.seed}, same code):")
            for k, v in e2e.items():
                b = base["e2e"][k]
                print(f"  {k:26s} {v - b:+12.4f} {E2E_UNITS[k]} ({(v - b) / b:+.1%})")
        else:
            print(
                "tracing overhead: run this seed untraced first (--trace 0, same code, "
                "size and seconds) to print it"
            )
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        with open(last, "w", encoding="utf-8") as fh:
            json.dump({"stamp": stamp, "e2e": e2e}, fh)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    result = {
        "correct": not failed,
        "attempted": len(everything),
        "failed": len(failed),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def code_digest() -> str:
    """SHA-1 of the program's and the benchmark's Python sources."""
    h = hashlib.sha1()
    for top in ("ent_fins_lakehouse_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    h.update(os.path.relpath(full, REPO).encode())
                    with open(full, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def per_layer(tracer, figures: dict) -> dict[str, float]:
    from perfbench.harness import median
    from perfbench.metrics import LAYER_UNITS

    out = {}
    spanned = {s[0] for s in tracer.spans}
    for name in LAYER_UNITS:
        if name in figures:
            out[name] = float(figures[name])
        elif name.endswith("_s") and name[:-2] in spanned:
            calls = tracer.durations(name[:-2])
            # later set-ups reuse the session: the first call is the start
            out[name] = calls[0] if name == "session.get_session_s" else median(calls)
        elif name in tracer.values:
            vals = tracer.values[name]
            out[name] = sum(vals) if name == "sources.catalog.sql_calls" else sum(vals) / len(vals)
        else:
            out[name] = 0.0
    return out


def report_self_times(tracer) -> None:
    st = tracer.self_times()
    layers: dict[str, list[float]] = {}
    for name, (total, self_s, calls) in st.items():
        layer = name.rsplit(".", 1)[0] if not name.startswith(("op.", "bench.")) else name.split(".")[0]
        agg = layers.setdefault(layer, [0.0, 0.0, 0])
        agg[0] += total
        agg[1] += self_s
        agg[2] += calls
    print("per-layer self time (s): layer, self, total, calls")
    for layer, (total, self_s, calls) in sorted(layers.items(), key=lambda kv: -kv[1][1]):
        print(f"  {layer:32s} {self_s:9.3f} {total:9.3f} {calls:6d}")


if __name__ == "__main__":
    sys.exit(main())
