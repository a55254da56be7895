"""equi7grid_spark benchmark: one closed-loop workload per process.

    python3 perfbench/run.py --workload assign_counts --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One client runs one Spark job at a time on local[N], N = the online CPUs;
a process that may use fewer (taskset) is refused. The run generates (or
reuses) the seeded inputs, then sets up once, cold: it starts the JVM and
SparkContext, loads the compiled kernel and runs one discarded warm-up
iteration, which pays every first-call build; `setup_s` is that wall.
Each run is a fresh process, so the median over runs is the median of cold
set-ups. Further iterations run untimed for WARMUP_S while the JVM's JIT
settles (without that, iterations got 1.5x faster over the first ~15 s of
the loop), then the workload's iteration repeats for --seconds, checking
every output. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}; with --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones, taken from spans around
the calls into the engine and from Spark's event log.
`--workload all` runs every workload untraced and traced in turn, in
fresh processes, and prints every figure with the tracing overhead.
Full records and spans are written under perfbench/.out/. A failed check
makes the exit code 1; a missing engine or bad argument makes it 2. On
every way out the run waits until each process it started, directly or
not, has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".out"
CACHE = HERE / ".cache"
WARMUP_S = 10.0
E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "job_s_p50": "s"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_settings() -> dict:
    """local[N] with N the online CPUs, refused when this process may use
    fewer; driver memory sized to the host; every scratch path inside the
    checkout."""
    from host import mem_total_bytes, online_cpus, usable_cpus

    n, usable = online_cpus(), usable_cpus()
    if usable < n:
        fail(f"this process may use {usable} of the {n} online CPUs; "
             f"local[{n}] would be clamped silently (taskset?)")
    mem_gb = max(1, min(4, mem_total_bytes() // 4 // 2**30))
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # Python workers import the engine from the checkout, whatever the cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files under the system temp dir
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return {"cores": n, "driver_memory": f"{mem_gb}g"}


def new_session(cores: int, eventlog: Path | None):
    from equi7grid_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": str(OUT / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if eventlog is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=2 * cores, extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: the gateway server
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(args) -> int:
    settings = host_settings()
    sys.path.insert(0, str(ROOT))
    import host
    import workloads
    from spans import Tracer, parse_event_log
    from stats import median, tail

    spec = json.loads((HERE / "spec.json").read_text())["workloads"]
    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)} or all")
    from equi7grid_spark.operators.kernel import kernel_available

    traced = bool(args.trace)
    tr = Tracer(enabled=traced)
    work = OUT / f"{args.workload}-{os.getpid()}"
    eventlog = work / "eventlog" if traced else None
    if eventlog:
        eventlog.mkdir(parents=True)
    wl = workloads.WORKLOADS[args.workload](spec[args.workload], tr, work)
    datagen_s = wl.generate(CACHE, args.seed, settings["cores"], traced)
    if traced:
        wl.install_wrappers()

    attempted = failed = 0
    errors: list[str] = []

    def attempt(fn):
        nonlocal attempted, failed
        attempted += 1
        wl.last = {}
        try:
            return fn()
        except Exception as exc:  # every failure counts; the loop goes on
            failed += 1
            errors.append(f"{type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None

    cpu0 = host.cpu_times()
    with host.RssSampler() as rss:
        tr.iteration = -1  # the set-up's warm-up iteration
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = new_session(settings["cores"], eventlog)
        tr.sc = spark.sparkContext
        with tr.span("kernel.load"):
            kernel_available(spark)
        attempt(lambda: wl.iterate(spark))
        setup_s = time.perf_counter() - t0
        tr.iteration = -2  # untimed, until the JIT settles
        while time.perf_counter() - t0 - setup_s < WARMUP_S:
            if attempt(lambda: wl.iterate(spark)) is None:
                break

        t_loop = time.perf_counter()
        it = 0
        while time.perf_counter() - t_loop < args.seconds or not wl.samples:
            if it and not wl.samples:
                break  # the first iteration failed; do not spin
            tr.iteration = it
            res = attempt(lambda: wl.iterate(spark))
            if res is not None:
                secs, rows = res
                wl.samples.append({"job_s": secs, "rows": rows, **wl.last})
            it += 1
        tr.iteration = None
        attempt(lambda: wl.final_check(spark))
        peak_rss = rss.peak  # before the probes of a traced run
        if traced:
            attempt(lambda: wl.probes(spark))
        tr.sc = None
        spark.stop()
        stop_jvm()
    steal = host.steal_frac(cpu0, host.cpu_times())

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": settings, "size": wl.size,
              "datagen_s": datagen_s, "steal_frac": steal, "warmup_s": WARMUP_S,
              # reported, not gated: it moves 20-30% between runs with the
              # JVM's heap sizing
              "peak_rss_mb": peak_rss / 2**20}
    e2e = {}
    if wl.samples:
        jobs = [s["job_s"] for s in wl.samples]
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": sum(s["rows"] for s in wl.samples) / sum(jobs),
            "job_s_p50": median(jobs),
        }
        t = tail(jobs)
        record["job_s_tail"] = (
            {"value": t[0], "percentile": t[1], "samples": len(jobs)} if t else
            {"value": None, "samples": len(jobs),
             "why": "fewer than 11 samples: no percentile has 10 beyond it"})
    record["end_to_end"] = e2e
    record["job_s"] = [s["job_s"] for s in wl.samples]

    if traced:
        log = parse_event_log(sorted(eventlog.iterdir()))
        layers = (attempt(lambda: wl.layers(tr.spans, log)) if wl.samples else None) or {}
        record["per_layer"] = layers
        record["not_observed"] = wl.notes
        tr.dump(OUT / f"spans-{args.workload}-seed{args.seed}.json")
        base = OUT / f"record-{args.workload}-seed{args.seed}-trace0.json"
        if base.exists() and e2e:
            untraced = json.loads(base.read_text())["end_to_end"]
            record["trace_overhead"] = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        metrics = {k: {"value": v, "unit": workloads.LAYER_METRICS[k][0]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = failed == 0 and bool(wl.samples)
    record.update(attempted=attempted, failed=failed, failed_frac=failed / attempted,
                  errors=errors[:20])
    (OUT / f"record-{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    if record.get("job_s_tail", {}).get("value") is not None:
        t = record["job_s_tail"]
        print(f"# job_s_tail = {t['value']:.6g} s (p{t['percentile']:.1f} of {t['samples']})")
    print(f"# peak_rss_mb = {record['peak_rss_mb']:.1f} MB (driver JVM, Python driver and workers)")
    print(f"# datagen_s = {datagen_s:.3f} s, steal = {steal:.2%}, "
          f"iterations = {len(wl.samples)}, failed_frac = {failed / attempted:.3g}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    names = list(json.loads((HERE / "spec.json").read_text())["workloads"])
    summary, ok, attempted, failed = {}, True, 0, 0
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode not in (0, 1) or not lines:
                sys.stderr.write(proc.stderr)
                fail(f"{name} trace={trace} exited {proc.returncode}")
            res = json.loads(lines[-1])
            ok &= res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            rec = json.loads((OUT / f"record-{name}-seed{args.seed}-trace{trace}.json").read_text())
            print(f"== {name} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for line in lines[:-1]:
                print("  " + line)
            for k, v in res["metrics"].items():
                print(f"  {k} = {v['value']:.6g} {v['unit']}")
                if not trace:
                    summary[f"{name}.{k}"] = v
            for k, v in rec.get("trace_overhead", {}).items():
                print(f"  trace overhead {k} = {v:+.6g} {E2E_UNITS[k]}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": summary}))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "equi7grid_spark" / "__init__.py").exists():
        fail(f"the engine package equi7grid_spark is missing under {ROOT}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    from host import adopt_orphans, end_children

    adopt_orphans()
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        stop_jvm()  # still up only if the run raised
        signalled = end_children()
        if signalled:
            print(f"perfbench: signalled leftover processes {signalled}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
