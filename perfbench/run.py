"""Same-host benchmark of the FEC batch job, the CDC lake and the operator
catalog, run from the root of a source checkout:

    python3 perfbench/run.py --workload fec_batch --seed 1 --seconds 20 --trace 0

Prints each metric as ``metric <name> <value> <unit>`` and, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` runs the same workload with span tracing and reports the
per-layer metrics; spans go to ``.perfbench_out/``. Exits 1 when an
oracle finds a wrong result and 2 when the checkout has no package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

PACKAGE = "fec_cn_support_etl_spark"
SPANNED = (
    "sources.fec.read_fec",
    "plans.fec_pipeline.individual_support",
    "plans.fec_pipeline.superpac_ie_support",
    "plans.fec_pipeline.pac_support",
    "plans.fec_pipeline.merge_support",
    "sources.csv_sink.write_pipeline_outputs",
    "plans.validate.run_all_checks",
    "cdc.runner.replay",
    "cdc.engine.prepare_epoch",
    "cdc.engine.commit_epoch",
    "cdc.table.commit_merge",
    "cdc.table.commit_append_delta",
    "cdc.table.compact",
    "cdc.table.read_keys",
    "cdc.table.read",
)
WRITE_COUNTERS = ("jobs", "fact_scans", "fact_scan_cpu_s", "shuffle_bytes", "cpu_s")
# metrics the harness itself adds to a traced run
TRACED_EXTRA = (
    "cdc.engine.commit_wait_s",
    "host.steal_pct",
    "host.competing_procs",
    "bench.traced_run_s",
    "bench.tracing_overhead_s",
)


def layer_names() -> set[str]:
    """Every per-layer metric a traced run of some workload reports."""
    import workloads

    names = {f"{n}.{c}" for n in SPANNED for c in ("s", "self_s")}
    names |= {f"sources.csv_sink.write_pipeline_outputs.{c}" for c in WRITE_COUNTERS}
    names.add("plans.fec_pipeline.merge_support.jobs")
    names |= {f"plans.catalog.{q}.{c}" for q in workloads.CatalogOps.QUERIES for c in ("s", "jobs")}
    names |= set(TRACED_EXTRA)
    for w in workloads.WORKLOADS.values():
        names |= set(w.LAYER_NAMES)
    return names


def end_to_end_names(bench: dict) -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in bench["end_to_end"]]


def per_layer_names(bench: dict) -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in bench["per_layer"]]


def load_benchmark(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end_values(result: dict, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "run_s": result["run_s"],
        "throughput_per_s": result["throughput"],
        "peak_rss_mb": peak_rss_mb,
    }


def layer_values(tracer, wl, names: list[tuple[str, str]]) -> dict[str, float]:
    """Per-layer metrics from the spans plus the workload's own counters;
    layers the workload never entered read 0. A catalog query's ``s`` and
    ``jobs`` are per pass, since the number of passes depends on speed."""
    agg = tracer.by_name()
    out: dict[str, float] = {}
    for name in SPANNED:
        a = agg.get(name, {})
        out[f"{name}.s"] = a.get("s", 0.0)
        out[f"{name}.self_s"] = a.get("self_s", 0.0)
    w = agg.get("sources.csv_sink.write_pipeline_outputs", {})
    for c in WRITE_COUNTERS:
        out[f"sources.csv_sink.write_pipeline_outputs.{c}"] = w.get(c, 0)
    # the only FEC plan function that runs jobs itself (its year probes)
    out["plans.fec_pipeline.merge_support.jobs"] = agg.get("plans.fec_pipeline.merge_support", {}).get("jobs", 0)
    # commit waited on the pipelined prepare: gaps between the replay's
    # consecutive commits, plus the wait for the first prepare
    wait = 0.0
    for rep in (s for s in tracer.spans if s["name"] == "cdc.runner.replay"):
        commits = sorted(
            (s for s in tracer.spans if s["name"] == "cdc.engine.commit_epoch" and s["parent"] == rep["id"]),
            key=lambda s: s["start"],
        )
        prev_end = rep["start"]
        for c in commits:
            wait += max(0.0, c["start"] - prev_end)
            prev_end = c["end"]
    out["cdc.engine.commit_wait_s"] = wait
    for name, a in agg.items():
        if name.startswith("plans.catalog."):
            out[f"{name}.s"] = a["s"] / a["n"]
            out[f"{name}.jobs"] = a.get("jobs", 0) / a["n"]
    out.update(wl.layers)
    return {n: float(out.get(n, 0.0)) for n, _ in names}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Terminate and wait for any process this one started that is
    still running (pyspark workers left behind by the JVM)."""
    me = os.getpid()
    kids = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = harness._proc_stat(pid)
            if st and st[1] == me:
                kids.append(int(pid))
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    for pid in kids:
        while time.time() < deadline:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break
            if done:
                break
            time.sleep(0.05)


def run_all(args) -> int:
    """Each workload in a fresh process (and JVM), one after the other."""
    import workloads

    rc = 0
    for name in workloads.WORKLOADS:
        print(f"== {name}", flush=True)
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from a source checkout; no {PACKAGE}/ under {root}", file=sys.stderr)
        return 2
    bench = load_benchmark(root)
    import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    host0 = harness.host_context()
    spark = tracer = None
    try:
        cls = workloads.WORKLOADS[args.workload]
        spark, session_s = harness.start_spark(work, f"perfbench-{args.workload}", cls.JAVA_OPTS)
        wl = cls(spark, work, args.seed, args.seconds)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0
        if args.trace:
            from tracing import Tracer

            # spans start after set-up, so warm-up work is not in them
            tracer = wl.tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            wl.wrap_layers()
            tracer.follow_executor_handoffs()
            with tracer.span("bench.run"):
                wl.run()
            tracer.unwrap_all()
        else:
            wl.run()
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.attach_spark_counters(fact_min_input_bytes=_fact_min_bytes(wl))
        jvm_hwm = harness.vm_hwm_mb(harness.jvm_pid(spark) or "self")
    finally:
        if spark is not None:
            stop_jvm(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    host1 = harness.host_context()

    r = wl.result
    detail = dict(r["detail"])
    detail.update(
        setup_session_s=(session_s, "s"),
        check_s=(check_s, "s"),
        wall_s=(time.perf_counter() - t_start, "s"),
        failed_ratio=(r["failed"] / max(1, r["attempted"]), "ratio"),
        host_nproc=(host0["nproc"], "count"),
        host_mem_total_mb=(host0["mem_total_mb"], "MB"),
        host_steal_pct_start=(host0["steal_pct"], "%"),
        host_steal_pct_end=(host1["steal_pct"], "%"),
        host_competing_procs=(max(host0["competing_procs"], host1["competing_procs"]), "count"),
    )
    for name, (v, unit) in sorted(detail.items()):
        print(f"metric {name} {v:.6g} {unit}")

    if tracer is None:
        names = end_to_end_names(bench)
        values = end_to_end_values(r, setup_s, harness.vm_hwm_mb("self") + jvm_hwm)
        with open(os.path.join(outdir, f"untraced-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"run_s": r["run_s"]}, fh)
    else:
        names = per_layer_names(bench)
        tracer.dump(os.path.join(outdir, f"spans-{args.workload}-{args.seed}.jsonl"))
        wl.layers["host.steal_pct"] = max(host0["steal_pct"], host1["steal_pct"])
        wl.layers["host.competing_procs"] = detail["host_competing_procs"][0]
        wl.layers["bench.traced_run_s"] = r["run_s"]
        untraced = untraced_run_s(outdir, args.workload, args.seed)
        if untraced is not None:
            wl.layers["bench.tracing_overhead_s"] = r["run_s"] - untraced
        values = layer_values(tracer, wl, names)

    for f in r["failures"][:20]:
        print(f"FAILED {f}")
    print_result(values, names, r["attempted"], r["failed"])
    return 0 if r["failed"] == 0 else 1


def untraced_run_s(outdir: str, workload: str, seed: int) -> float | None:
    """``run_s`` of an untraced run in this checkout: the same seed's if
    there is one, else the median over the workload's other seeds (every
    seed has the same input size)."""
    runs = {}
    prefix = f"untraced-{workload}-"
    for f in os.listdir(outdir):
        if f.startswith(prefix) and f.endswith(".json"):
            with open(os.path.join(outdir, f)) as fh:
                runs[f[len(prefix) : -len(".json")]] = json.load(fh)["run_s"]
    if str(seed) in runs:
        return runs[str(seed)]
    return harness.median(list(runs.values())) if runs else None


def print_result(values: dict, names: list[tuple[str, str]], attempted: int, failed: int) -> None:
    """Each metric as ``metric <name> <value> <unit>``, then the result
    object as the last line."""
    for name, unit in names:
        print(f"metric {name} {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))


def _fact_min_bytes(wl) -> int | None:
    """Half the smaller fact file: a stage reading at least this much
    input read a fact file (the dimension files are far smaller)."""
    if wl.name != "fec_batch":
        return None
    return min(os.path.getsize(os.path.join(wl.inputs, t, f"{t}.txt")) for t in ("itcont", "itpas2")) // 2


if __name__ == "__main__":
    sys.exit(main())
