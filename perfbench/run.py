"""Benchmark of the htrtf_spark extraction engine.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md in this directory) on
``local[<cores>]`` for ``--seconds`` and prints, as the last line of
standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones. The line before it holds the
workload's own timings (``--trace 0``) or the span summary and the
exact-count self-test (``--trace 1``).

Everything the run writes goes under ``.perfbench_runs/`` in the
checkout; the run's data is deleted at the end and only the span log
(``<run>.spans.jsonl``) is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# The engine's default driver heap (16g) is more than a 15 GB box has;
# 2g holds every workload here with room to spare. The heap is committed
# and touched at start, so peak_rss_mb does not follow the garbage
# collector's heap sizing from run to run.
DRIVER_MEM = "2g"
SETUP_REPEATS = 3

# Counts that must repeat exactly from one step to the next of a run.
EXACT_COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.build_jobs",
    "plans.checkpoint.resume_rows_ratio",
)


def declared_units(kind: str) -> dict:
    """{metric: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run reports exactly these."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def pin_environment(run_dir: Path, cores: int) -> None:
    """Environment the engine and its Python workers run under. Set
    before the JVM starts, which copies it to every worker."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    paths = [str(ROOT), str(ROOT / "perfbench")]
    paths += [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            # workers import htrtf_spark and the benchmark's own modules
            # whatever their working directory
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # the launcher JVM that spark-submit starts first would
            # otherwise write its perf data under /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def session_conf(run_dir: Path) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }


def tail(values: list[float]) -> dict | None:
    """Highest nearest-rank percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"p": (n - 10) * 100 // n, "value": sorted(values)[n - 11]}


def summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "tail": tail(values), "n": len(values)}


def run_step(wl, tr):
    from workloads import Step

    run_id = tr.new_run()
    try:
        st = wl.step(tr)
    except Exception:  # a failed call is counted, and the run goes on
        traceback.print_exc()
        st = Step(calls=1)
        st.check("raised", False)
    st.run_id = run_id
    st.wall = sum(s.duration for s in tr.spans if s.run_id == run_id and s.parent_id is None)
    return st


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                time.sleep(0.1)
            else:
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def window(wl, tr, seconds: float) -> list:
    """Untraced steps back to back until ``seconds`` have passed."""
    steps = []
    deadline = time.perf_counter() + seconds
    while not steps or time.perf_counter() < deadline:
        steps.append(run_step(wl, tr))
    return steps


def traced_window(wl, tr, run_dir: Path, seconds: float, cores: int):
    """Untraced and traced steps alternately until ``seconds`` have passed
    (at least two of each, so counts can be compared between steps), then
    the layer sweep once."""
    import layers
    from workloads import Step

    inp = layers.prepare(wl, str(run_dir / "probe"))
    sc = wl.spark.sparkContext
    steps, traced = [], []
    deadline = time.perf_counter() + seconds
    while len(traced) < 2 or time.perf_counter() < deadline:
        tr.counters = False
        steps.append(run_step(wl, tr))
        tr.counters = True
        st = run_step(wl, tr)
        st.counters = tr.run_counters(st.run_id)
        st.counters["cached_rdds_after"] = len(sc._jsc.getPersistentRDDs())
        st.counters["executor_busy_share"] = st.counters["executor_run_ms"] / (
            st.wall * 1000 * cores
        )
        traced.append(st)
    probe = Step()
    layer_samples = {}
    tr.new_run()
    try:
        found = layers.sweep(wl, inp, tr, str(run_dir / "probe"), probe)
        layer_samples = {k: [v] for k, v in found.items()}
    except Exception:  # counted like a failed step
        traceback.print_exc()
        probe.calls = max(probe.calls, 1)
        probe.check("probe.raised", False)
    return steps, traced, [probe], layer_samples


def write_spans(tr, path: Path) -> None:
    with open(path, "w") as fh:
        for s in tr.spans:
            rec = {
                "run": s.run_id,
                "span": s.span_id,
                "parent": s.parent_id,
                "name": s.name,
                "kind": s.kind,
                "start": s.start,
                "end": s.end,
                "self": tr.self_time(s),
                "counters": s.counters,
            }
            fh.write(json.dumps(rec) + "\n")


def end_to_end(wl, steps, setups, start_s, rss, failed, attempted, leaked):
    samples: dict[str, list[float]] = {}
    for st in steps:
        for k, v in st.samples.items():
            samples.setdefault(k, []).append(v)
    metrics = {
        "setup_s": statistics.median(setups),
        "run_s": statistics.median(st.wall for st in steps),
        "turns_per_s": statistics.median(
            st.rows / st.samples[wl.main_call] for st in steps if wl.main_call in st.samples
        ),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    detail = {
        "workload": wl.name,
        "steps": len(steps),
        "setup_repeats_s": setups,
        "session_start_s": start_s,
        "ops_failed_ratio": failed / max(attempted, 1),
        "cached_rdds_leaked": leaked,
        "run_s": summary([st.wall for st in steps]),
        "timings": {k: summary(v) for k, v in samples.items()},
    }
    return metrics, detail


def per_layer(wl, tr, steps, traced, layer_samples, start_s, leaked):
    for k in traced[0].counters:
        if k != "executor_run_ms":
            layer_samples[f"spark.{k}"] = [st.counters[k] for st in traced]
    layer_samples["session.start_s"] = [start_s]
    layer_samples["trace.overhead_ratio"] = [
        statistics.median(st.wall for st in traced) / statistics.median(st.wall for st in steps)
    ]
    missing = sorted(set(declared_units("per_layer")) - set(layer_samples))
    if missing:
        raise SystemExit(f"no samples for {missing}: a probe failed")
    metrics = {k: statistics.median(v) for k, v in layer_samples.items()}
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    detail = {
        "workload": wl.name,
        "rounds": len(traced),
        "self_test": {
            k: {
                "exact": len(set(layer_samples[k])) == 1,
                "min": min(layer_samples[k]),
                "max": max(layer_samples[k]),
            }
            for k in EXACT_COUNTS
        },
        "cached_rdds_leaked": leaked,
        "spans": {
            n: {
                "median_s": statistics.median(s.duration for s in ss),
                "self_median_s": statistics.median(tr.self_time(s) for s in ss),
                "n": len(ss),
            }
            for n, ss in sorted(by_name.items())
        },
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    cores = len(os.sched_getaffinity(0))
    runs = ROOT / ".perfbench_runs"
    run_dir = runs / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    pin_environment(run_dir, cores)
    try:
        # imported only now: they need the pinned environment, and a
        # checkout without the library fails here, before any measuring
        import htrtf_spark
        from htrtf_spark.session import get_spark
        from spans import RssSampler, Tracer, descendants
        from workloads import WORKLOADS

        if not Path(htrtf_spark.__file__).resolve().is_relative_to(ROOT):
            raise SystemExit(f"htrtf_spark is not in this checkout: {htrtf_spark.__file__}")

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{args.workload}", extra_conf=session_conf(run_dir)
            )
            start_s = time.perf_counter() - t0
            pids: list[int] = []
            try:
                wl = WORKLOADS[args.workload](spark, args.seed)
                setups = []
                for i in range(1 if trace else SETUP_REPEATS):
                    d = run_dir / f"setup-{i}"
                    d.mkdir()
                    t0 = time.perf_counter()
                    wl.setup(str(d))
                    setups.append(time.perf_counter() - t0)
                    if i:
                        shutil.rmtree(run_dir / f"setup-{i - 1}")
                warm = [run_step(wl, Tracer(spark, counters=False)) for _ in range(wl.warm_steps)]
                tr = Tracer(spark, counters=False)
                sc = spark.sparkContext
                cached_before = len(sc._jsc.getPersistentRDDs())
                if trace:
                    steps, traced, probes, layer_samples = traced_window(
                        wl, tr, run_dir, args.seconds, cores
                    )
                else:
                    steps, traced, probes = window(wl, tr, args.seconds), [], []
                leaked = len(sc._jsc.getPersistentRDDs()) - cached_before
                pids = descendants(os.getpid())
            finally:
                stop_spark(spark, pids or descendants(os.getpid()))
        write_spans(tr, runs / f"{run_dir.name}.spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    done = warm + steps + traced + probes
    attempted = sum(st.calls for st in done)
    failed = sum(st.calls for st in done if not st.ok)
    for st in done:
        bad = [n for n, ok in st.checks if not ok]
        if bad:
            print(f"check failed: {bad}", file=sys.stderr)

    if trace:
        metrics, detail = per_layer(wl, tr, steps, traced, layer_samples, start_s, leaked)
        units = declared_units("per_layer")
    else:
        metrics, detail = end_to_end(
            wl, steps, setups, start_s, rss, failed, attempted, leaked
        )
        units = declared_units("end_to_end")
    print(json.dumps(detail))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
