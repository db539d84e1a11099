"""Seeded closed-loop benchmark of the metrique_spark engine.

    python3 perfbench/run.py --workload cdc_mixed --seed 1 --seconds 10 \\
        --trace 0

Runs one workload from the root of a checkout: starts a Spark session on
``local[N]`` (N = min(2, usable cores)), builds the workload's initial
state three times (set-up), runs the workload's untimed warm-up steps,
then runs decks of steps with one client until ``--seconds`` have passed
(and at least one whole deck).
Every step's result is checked against the seeded model, and the CPU
time the engine spent on it is read from ``/proc`` (``cpu.py``).

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, measured
on every other measured step of each kind (the steps in between run
untraced, and the latency difference between the two is
``trace.overhead_pct``). The line before it
is a detail record with the workload's own named metrics (per step kind
median, tail where there are enough samples, sample counts, error rate,
amplification) and every step time. A traced run writes its spans to
``.bench_out/spans-<workload>-<seed>.jsonl``.
All scratch data lives in ``.bench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
# the point and as-of reads behind read_cpu_ms (and read_p50_ms)
FIND_KINDS = ("lookup_oids", "lookup_mql", "asof")
READ_KINDS = ("lookup_oids", "lookup_mql", "asof", "range", "history",
              "chain", "age")
COMMIT_KINDS = ("batch", "commit")


def nearest_rank(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    return ys[max(0, math.ceil(q * len(ys)) - 1)]


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(quantile, value): the highest nearest-rank percentile with at
    least ten samples above it, or None when no percentile above the
    median has ten samples beyond it."""
    if len(xs) <= 20:
        return None
    q = 1.0 - 10.0 / len(xs)
    return q, nearest_rank(xs, q)


def kind_stats(lat: dict[str, list[float]], units: dict[str, float]
               ) -> dict:
    """Per step kind: sample count, median, tail, and the kind's own
    units per second of its step time (documents for a dedup pass)."""
    out = {}
    for kind, xs in sorted(lat.items()):
        out[kind] = {"n": len(xs), "p50_s": statistics.median(xs),
                     "units_per_s": units[kind] / sum(xs)}
        qt = tail(xs)
        if qt:
            out[kind].update(tail_q=round(qt[0], 4), tail_s=qt[1])
    return out


def mix_throughput(lat: dict[str, list[float]], units: dict[str, float],
                   mix: dict[str, int], count_steps: bool) -> float:
    """Work per second of one deck's step mix, each step kind timed at its
    median latency: neither one stalled step (a GC pause, a slow flush)
    nor where the deadline cut the last deck moves the figure. Work is
    steps, or the steps' own units (documents, user values)."""
    busy = done = 0.0
    for kind, w in mix.items():
        xs = lat.get(kind)
        if xs:
            busy += w * statistics.median(xs)
            done += w * (1.0 if count_steps else units[kind] / len(xs))
    return done / busy if busy else 0.0


# step kinds -> the workload-named latency metrics they report
NAMED_LATENCY = (("commit", ("commit",)),
                 ("lookup", ("lookup_oids", "lookup_mql")),
                 ("asof", ("asof",)), ("range", ("range",)),
                 ("history", ("history",)),
                 ("version_window", ("chain", "age")))


def named_metrics(lat: dict[str, list[float]], units: dict[str, float],
                  mix: dict[str, int], extra: dict) -> dict:
    """The workload's own named metrics (those whose steps it runs), each
    with its unit and sample count: per step family the median and the
    tail latency, and the work rates."""
    out: dict[str, dict] = {}
    for name, kinds in NAMED_LATENCY:
        xs = [x for k in kinds for x in lat.get(k, [])]
        if not xs:
            continue
        out[f"{name}_p50_s"] = {"value": statistics.median(xs), "unit": "s",
                                "n": len(xs)}
        qt = tail(xs)
        if qt:
            out[f"{name}_tail_s"] = {"value": qt[1], "unit": "s",
                                     "n": len(xs), "q": round(qt[0], 4)}
    if "commit" in lat:
        out["cdc_ops_per_s"] = {"value": mix_throughput(lat, units, mix,
                                                        True),
                                "unit": "1/s",
                                "n": sum(len(xs) for xs in lat.values())}
    for kind, name in (("batch", "ingest_values_per_s"),
                       ("pass", "dedup_docs_per_s")):
        if kind in lat:
            out[name] = {"value": units[kind] / sum(lat[kind]),
                         "unit": "1/s", "n": len(lat[kind])}
    if "space_amp" in extra:
        out["space_amp"] = {"value": extra["space_amp"], "unit": "ratio"}
    return out


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed peak resident set (VmHWM) of the JVM, this driver and the
    JVM's Python workers."""
    kb = 0
    for pid in [os.getpid(), jvm_pid] + descendants(jvm_pid):
        v = _status(pid).get("VmHWM", "0 kB").split()[0]
        kb += int(v)
    return kb / 1024.0


def start_spark(work: Path, cores: int, ui: bool):
    from metrique_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the checkout's package, not an installed one
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            # the UI hosts the monitoring REST API the traced run reads
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # a fixed-size heap, so peak RSS does not depend on when the
            # collector chose to grow it; no perf-data file outside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                "-XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and \
                _status(pid).get("State", "Z").startswith(("R", "S", "D")):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                break
            time.sleep(0.05)


def per_layer(tr, lat_traced, lat_plain, extra: dict) -> dict:
    """The per-layer metrics of a traced run (0 where the workload does
    no work in that layer)."""
    from tracing import FS_METHODS

    pc = tr.per_call
    m: dict[str, float] = {}
    m["objects.stamp_s"] = pc("objects.stamp", "wall_s")
    m["objects.stamp_task_cpu_s"] = pc("objects.stamp", "task_cpu_s")
    up = "engine.upsert"
    m["engine.upsert_s"] = pc(up, "wall_s")
    m["engine.upsert_task_cpu_s"] = pc(up, "task_cpu_s")
    m["engine.upsert_shuffle_bytes"] = pc(up, "shuffle_write_bytes")
    m["engine.upsert_input_bytes"] = pc(up, "input_bytes")
    m["engine.upsert_output_bytes"] = pc(up, "output_bytes")
    m["engine.upsert_driver_s"] = pc(up, "driver_s")
    m["engine.upsert_jobs"] = pc(up, "jobs")
    m["engine.upsert_stages"] = pc(up, "stages")
    m["engine.upsert_tasks"] = pc(up, "tasks")
    c = tr.fs_per_op("batch" if tr.ops_by_kind.get("batch") else "commit")
    m["engine.manifest_bytes_per_commit"] = c["manifest_bytes"]
    m["engine.files_written_per_commit"] = pc(up, "files_written")
    for meth in FS_METHODS:
        m[f"fs.ops_per_commit.{meth}"] = c["calls"][meth]
    m["fs.busy_s_per_commit"] = c["busy_s"]
    m["fs.bytes_put_per_commit"] = c["bytes_put"]
    reads = [k for k in READ_KINDS if tr.ops_by_kind.get(k)]
    n_reads = sum(tr.ops_by_kind[k] for k in reads)
    for meth in FS_METHODS:
        m[f"fs.ops_per_lookup.{meth}"] = (
            sum(tr.fs_per_op(k)["calls"][meth] * tr.ops_by_kind[k]
                for k in reads) / n_reads if n_reads else 0.0)
    cp = "compaction.compact"
    m["compaction.compact_s"] = pc(cp, "wall_s")
    m["compaction.bytes_rewritten"] = pc(cp, "output_bytes")
    m["compaction.dirs_removed"] = pc(cp, "dirs_removed")
    m["engine.live_dirs"] = float(extra.get("live_dirs", 0))
    m["mql.compile_s"] = pc("mql.compile", "wall_s")
    m["mql.oid_prune_rate"] = pc("mql.compile", "pruned")
    m["engine.find_plan_s"] = pc("engine.find", "wall_s")
    ex = "engine.find_exec"
    m["engine.find_exec_s"] = pc(ex, "wall_s")
    m["engine.read_input_bytes"] = pc(ex, "input_bytes")
    returned = tr.layers.get(ex, {}).get("returned", 0)
    m["engine.read_rows_examined_per_returned"] = (
        tr.layers[ex]["input_records"] / returned if returned else 0.0)
    m["engine.read_jobs"] = pc(ex, "jobs")
    for layer, name in (("temporal.history", "history"),
                        ("temporal.window", "window")):
        m[f"temporal.{name}_task_cpu_s"] = pc(layer, "task_cpu_s")
        m[f"temporal.{name}_shuffle_bytes"] = pc(layer,
                                                 "shuffle_write_bytes")
    for name in ("text_signals", "minhash_pairs", "components"):
        layer = f"functions.{name}"
        m[f"{layer}_s"] = pc(layer, "wall_s")
        m[f"{layer}_task_cpu_s"] = pc(layer, "task_cpu_s")
        m[f"{layer}_shuffle_bytes"] = pc(layer, "shuffle_write_bytes")
    cand = float(extra.get("candidate_pairs", 0))
    verified = pc("functions.minhash_pairs", "verified")
    m["dedup.candidate_pairs"] = cand
    m["dedup.verified_pairs"] = verified
    m["dedup.verify_yield"] = verified / cand if cand else 0.0
    n = max(tr.traced_ops, 1)
    m["spark.jobs_per_op"] = tr.totals["jobs"] / n
    m["spark.stages_per_op"] = tr.totals["stages"] / n
    m["spark.tasks_per_op"] = tr.totals["tasks"] / n
    m["spark.gc_s"] = tr.totals["gc_s"] / n
    m["spark.task_run_s"] = tr.totals["task_run_s"] / n
    user = tr.layers.get(up, {}).get("user_bytes", 0)
    written = sum(tr.layers.get(k, {}).get("output_bytes", 0)
                  for k in (up, cp, "objects.stamp"))
    written += sum(tr.fs_by_kind.get(k, {}).get("bytes_put", 0)
                   for k in COMMIT_KINDS + ("compact",))
    m["storage.write_amp"] = written / user if user else 0.0
    m["storage.space_amp"] = float(extra.get("space_amp", 0.0))
    # tracing overhead: traced vs untraced median latency per step kind,
    # weighted by each kind's untraced step count
    num = den = 0.0
    for kind, xs in lat_plain.items():
        if lat_traced.get(kind):
            w = len(xs)
            num += w * statistics.median(lat_traced[kind])
            den += w * statistics.median(xs)
    m["trace.overhead_pct"] = 100.0 * (num / den - 1.0) if den else 0.0
    return {k: float(v) for k, v in m.items()}


def run(args, work: Path) -> tuple[dict, dict]:
    import workloads
    from cpu import ENGINE_PARTS, PARTS, CpuMeter

    # two task slots leave the other cores of a 4-core box to the JVM's
    # JIT and GC threads and the Python driver; local[4] ran slower there
    # and spread twice as wide from run to run
    cores = max(1, min(2, len(os.sched_getaffinity(0))))
    t0 = time.perf_counter()
    spark = start_spark(work, cores, ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        from tracing import Tracer

        fs = workloads.make_fs(bool(args.trace))
        tr = Tracer(spark, fs)
        wl = workloads.WORKLOADS[args.workload](spark, str(work), args.seed,
                                                tr, fs)
        builds = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build(rep)
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(builds)

        attempted = failed = 0
        lat: dict[str, list[float]] = {}
        lat_traced: dict[str, list[float]] = {}
        units: dict[str, float] = {}
        # per step kind and meter part, the CPU seconds of each step
        cpu: dict[str, dict[str, list[float]]] = {}
        meter = CpuMeter(spark.sparkContext._gateway.proc.pid)
        seen: Counter = Counter()

        def execute(step, measured: bool):
            nonlocal attempted, failed
            # a traced run traces every other measured step of each kind,
            # starting with the first, so a kind run once is traced
            n = seen[step.kind]
            traced = bool(args.trace) and measured and n % 2 == 0
            if measured:
                seen[step.kind] += 1
            attempted += 1
            ok, result = False, None
            # a traced step's time includes reading its stages back from
            # the REST API, so the traced-vs-untraced difference is what
            # tracing a step costs
            c0 = meter.read(driver_first=False)
            t0 = time.perf_counter()
            with tr.op(step.kind, traced):
                try:
                    result = step.run()
                    ok = True
                except Exception:
                    traceback.print_exc()
            dt = time.perf_counter() - t0
            dc = CpuMeter.delta(c0, meter.read(driver_first=True))
            try:
                ok = ok and bool(step.check(result))
            except Exception:
                ok = False
                traceback.print_exc()
            if not ok:
                failed += 1
                print(f"step {step.kind} failed: {result!r:.300}",
                      file=sys.stderr)
            if measured and not traced:
                lat.setdefault(step.kind, []).append(dt)
                for part, x in dc.items():
                    cpu.setdefault(step.kind, {}).setdefault(
                        part, []).append(x)
                units[step.kind] = units.get(step.kind, 0) + step.units
            elif measured and n > 0:
                # the first step of a kind runs cold: it is traced, for
                # the layer metrics, but left out of the overhead
                lat_traced.setdefault(step.kind, []).append(dt)

        phases = {"session": session_s, "setup": sum(builds)}
        t0 = time.perf_counter()
        for step in wl.warmup():
            execute(step, measured=False)
        t1 = time.perf_counter()
        t_end = t1 + args.seconds
        # the first deck always runs whole and fixes the step mix; after
        # it the run stops at the first step boundary past the deadline,
        # so run length does not jump by a whole deck
        mix: dict[str, int] = {}
        while not mix or time.perf_counter() < t_end:
            kinds = []
            for step in wl.deck():
                execute(step, measured=True)
                kinds.append(step.kind)
                if mix and time.perf_counter() >= t_end:
                    break
            mix = mix or dict(Counter(kinds))
        t2 = time.perf_counter()
        extra = wl.finish(bool(args.trace))
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        phases.update(warmup=t1 - t0, measure=t2 - t1,
                      finish=time.perf_counter() - t2)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
    phases["stop"] = stop_s

    count_steps = wl.unit == "steps"
    throughput = mix_throughput(lat, units, mix, count_steps)
    # the engine's CPU seconds per step: every part but the JIT compilers
    eng = {k: [sum(xs) for xs in zip(*(parts[p] for p in ENGINE_PARTS))]
           for k, parts in cpu.items()}
    finds = [x for k in FIND_KINDS for x in lat.get(k, [])]
    finds_cpu = [x for k in FIND_KINDS for x in eng.get(k, [])]
    named = named_metrics(lat, units, mix, extra)
    named.update(
        setup_s={"value": setup_s, "unit": "s", "n": SETUP_REPS},
        error_rate={"value": failed / attempted, "unit": "ratio",
                    "n": attempted},
        peak_rss_mb={"value": rss, "unit": "MB"},
        throughput_per_s={"value": throughput, "unit": "1/s",
                          "n": sum(map(len, lat.values()))})
    if finds:  # bulk_ingest and corpus_dedup run no finds
        named["read_p50_ms"] = {"value": 1000.0 * statistics.median(finds),
                                "unit": "ms", "n": len(finds)}
    cpu_total = {p: sum(sum(parts[p]) for parts in cpu.values())
                 for p in PARTS}
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "session_s": session_s, "builds_s": builds, "phases_s": phases,
        "named": named, "steps": kind_stats(lat, units), "mix": mix,
        f"{wl.unit}_per_s": throughput,
        # CPU seconds of all measured steps per meter part
        "cpu_s": cpu_total,
        "jit_share": (cpu_total["jit"] / sum(cpu_total.values())
                      if any(cpu_total.values()) else 0.0),
        # every step time, so steadiness runs can pool tails across runs
        "samples_s": {k: [round(x, 6) for x in xs]
                      for k, xs in sorted(lat.items())},
        "cpu_samples_s": {k: [round(x, 6) for x in xs]
                          for k, xs in sorted(eng.items())},
    }
    detail.update(extra)
    if args.trace:
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        tr.write(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = per_layer(tr, lat_traced, lat, extra)
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss,
                   "throughput_per_cpu_s": mix_throughput(
                       eng, units, mix, count_steps)}
        if finds_cpu:
            metrics["read_cpu_ms"] = 1000.0 * statistics.median(finds_cpu)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


UNITS = {"setup_s": "s", "read_cpu_ms": "ms", "throughput_per_cpu_s": "1/s",
         "peak_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "metrique_spark" / "__init__.py").is_file():
        print(f"no metrique_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {
        k: {"value": v, "unit": UNITS.get(k, _layer_unit(k))}
        for k, v in result["metrics"].items()}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or "busy_s" in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_amp", "_rate", "_yield", "_per_returned")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
