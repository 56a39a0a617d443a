"""Ingest benchmark: batch_job, stream_microbatch and integration_mix.

    python3 perfbench/run.py --workload batch_job --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py                      # all three workloads
    python3 perfbench/run.py --layers layers.json # untraced + traced, per layer
    python3 perfbench/run.py --agree 10           # two interleaved sets

Each run generates (or reuses) the seeded input, then starts one fresh
``local[4]`` driver process (``driver.py``) that sets up, runs a cold op,
any warm-up ops, and then measured ops in a closed loop for ``--seconds``
and at least the workload's ``min_ops``.  Every op's output is checked
against a DuckDB re-derivation.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``).

Everything the benchmark writes lives under ``.bench_work/`` at the root of
the checkout.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logstash_filter_elastic_integration_spark"
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170.0  # a run of one workload must end within 180 s
DRIVER_MEM = "3g"

sys.path.insert(0, HERE)

# rows, files, warm-up ops and the fewest measured ops per workload; the two
# listed in BENCHMARK.json are sized so one run takes about a minute at
# local[4] (see README.md)
WORKLOADS = {
    "batch_job": {"rows": 320_000, "files": 16, "warmup": 1, "min_ops": 2},
    "stream_microbatch": {"rows": 80_000, "files": 64, "warmup": 0,
                          "min_ops": 4},
    "integration_mix": {"rows": 24_000, "files": 4, "warmup": 0,
                        "min_ops": 2},
}

END_TO_END = ["setup_s", "events_per_s", "batch_p50_s"]
UNITS = {"setup_s": "s", "events_per_s": "1/s", "batch_p50_s": "s"}

# per-layer metric -> unit
PER_LAYER = {
    "session.get_spark_s": "s", "registry.build_s": "s",
    "router.execute_s": "s", "router.execute_py4j": "count",
    "engine.filter_s": "s", "engine.filter_py4j": "count",
    "plan.analyzed_nodes": "count", "plan.exchanges": "count",
    "exec.noop_s": "s", "exec.cpu_s": "s", "exec.run_s": "s",
    "exec.gc_s": "s",
    "python.run_s": "s", "python.boot_s": "s", "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "router.write_fanout_s": "s", "sink.bytes": "B", "sink.files": "count",
    "router.sink_counts_s": "s", "shuffle.write_bytes": "B",
    "jobs.input_files_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.execute_s": "s",
    "driver.heap_mb": "MiB", "host.steal_s": "s", "host.calib_s": "s",
    "cold.pass_s": "s",
}


class BenchError(Exception):
    pass


# ------------------------------------------------------------- host -----
def steal_s() -> float:
    """Cumulative CPU steal time of the host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calib_s() -> float:
    """Fixed single-core probe: median of three timings of the same
    hashing loop, so a slow host phase can be told from a regression."""
    times = []
    block = b"\x5a" * 65536
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(512):
            h.update(block)
        h.digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ------------------------------------------------------------ inputs -----
def prepare_input(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seeded input and its expected output."""
    import gen
    import oracle

    spec = WORKLOADS[workload]
    root = os.path.join(WORK, "inputs")
    path = gen.cached_input(
        root, workload, seed, spec["rows"], spec["files"],
        with_ua=workload == "integration_mix",
        dataset="agent.turns" if workload == "stream_microbatch" else None)
    expected_path = path + ".expected.json"
    if not os.path.exists(expected_path):
        files = oracle.parquet_files(path)
        if workload == "integration_mix":
            expected = oracle.mix_expected(files)
        else:
            expected = oracle.flagship_expected_by_file(files)
        with open(expected_path + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(expected_path + ".tmp", expected_path)
    with open(expected_path) as f:
        return {"input": path, "expected": json.load(f)}


# ----------------------------------------------------------- children -----
def _child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"]
                                if env.get("PYTHONPATH") else "")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate the child's process group (it holds the JVM) and wait
    until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.05)
    else:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def run_child(cfg: dict, run_dir: str, deadline: float) -> dict:
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["result"] = os.path.join(run_dir, "result.json")
    if os.path.exists(cfg["result"]):
        os.remove(cfg["result"])
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = _child_env(run_dir)
    log_path = os.path.join(run_dir, "driver.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exited {code}"
        raise BenchError(f"driver process {why}:\n{tail}")
    with open(cfg["result"]) as f:
        return json.load(f)


# ----------------------------------------------------------- metrics -----
def op_latency(op: dict) -> float:
    """A micro-batch is timed by Spark's triggerExecution; a pass by the
    benchmark's wall clock."""
    return op.get("trigger_s", op["wall_s"])


def end_to_end(setup: float, ops: list[dict]) -> dict:
    measured = [op for op in ops if op["phase"] == "measured"]
    if not measured:
        raise BenchError("no measured op: the input ran out before warm-up "
                         "ended")
    lat = [op_latency(op) for op in measured]
    return {
        "setup_s": setup,
        "events_per_s": statistics.median(
            op["rows"] / op_latency(op) for op in measured),
        "batch_p50_s": statistics.median(lat),
    }


def _span_sums(spans: list[dict], op, name: str, field=None) -> float:
    return sum((s[field] if field else s["end"] - s["start"])
               for s in spans if s["op"] == op and s["name"] == name)


def per_layer(result: dict, host: dict) -> dict:
    spans = result["spans"]
    measured = [op for op in result["ops"] if op["phase"] == "measured"]
    per_op: list[dict] = []
    for op in measured:
        i = op["i"]
        row = dict(op["layers"])
        for name in ("router.execute", "engine.filter"):
            row[name + "_s"] = _span_sums(spans, i, name)
            row[name + "_py4j"] = _span_sums(spans, i, name, "py4j")
        row["router.write_fanout_s"] = _span_sums(spans, i,
                                                  "router.write_fanout")
        row["jobs.input_files_s"] = _span_sums(spans, i, "jobs.input_files")
        row["router.sink_counts_s"] = _span_sums(
            spans, i, "router.sink_counts") + sum(
            s["end"] - s["start"] for s in spans
            if s["op"] == i and s["name"] == "catalog.write"
            and str(s.get("table", "")).startswith("sink_counts"))
        if "stream.trigger_s" in row:
            row["stream.execute_s"] = row["router.execute_s"]
        per_op.append(row)
    out = {}
    for key in PER_LAYER:
        vals = [row[key] for row in per_op if key in row]
        out[key] = statistics.median(vals) if vals else 0.0
    for s in spans:
        if "plan" in s:
            out.update(s["plan"])
            break
    out["session.get_spark_s"] = _span_sums(spans, "setup",
                                            "session.get_spark")
    out["registry.build_s"] = _span_sums(spans, "setup", "registry.build")
    out["driver.heap_mb"] = result.get("heap_mb", 0.0)
    out["host.steal_s"] = host["steal_s"]
    out["host.calib_s"] = host["calib_s"]
    out["cold.pass_s"] = result["ops"][0]["wall_s"]
    return out


# --------------------------------------------------------------- run -----
def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 deadline: float) -> dict:
    """One benchmark run of one workload; returns the parsed outcome."""
    data = prepare_input(workload, seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        host = {"calib_s": calib_s()}
        steal0 = steal_s()
        cfg = {"workload": workload, "seconds": seconds, "trace": trace,
               "warmup": WORKLOADS[workload]["warmup"],
               "min_ops": WORKLOADS[workload]["min_ops"],
               "rows": WORKLOADS[workload]["rows"],
               "pipelines": os.path.join(HERE, "pipelines"),
               "work": os.path.join(run_dir, "w"), **data}
        result = run_child(cfg, run_dir, deadline)
        host["steal_s"] = steal_s() - steal0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = result["ops"]
    failed = [op for op in ops if not op["ok"]]
    return {
        "workload": workload, "seed": seed, "ops": ops,
        "attempted": len(ops), "failed": len(failed),
        "errors": sorted({op["error"] for op in failed}),
        "e2e": end_to_end(result["setup_s"], ops),
        "layers": per_layer(result, host) if trace else None,
        "spans": result.get("spans"), "host": host,
    }


def describe(out: dict) -> str:
    """Human-readable summary line (stdout, before the JSON line)."""
    m = out["e2e"]
    n = sum(op["phase"] == "measured" for op in out["ops"])
    share = out["failed"] / out["attempted"]
    return (f"# {out['workload']} seed={out['seed']}: "
            f"setup_s={m['setup_s']:.3f} "
            f"events_per_s={m['events_per_s']:.1f} "
            f"batch_p50_s={m['batch_p50_s']:.3f} (n={n}) "
            f"cold_pass_s={out['ops'][0]['wall_s']:.3f} "
            f"failed_share={share:.4f} ({out['failed']}/{out['attempted']}) "
            f"host.steal_s={out['host']['steal_s']:.2f} "
            f"host.calib_s={out['host']['calib_s']:.4f}")


def result_line(outs: list[dict], trace: bool) -> dict:
    single = len(outs) == 1
    metrics = {}
    for out in outs:
        prefix = "" if single else out["workload"] + "."
        if trace:
            for key, unit in PER_LAYER.items():
                metrics[prefix + key] = {"value": out["layers"][key],
                                         "unit": unit}
        else:
            for key in END_TO_END:
                metrics[prefix + key] = {"value": out["e2e"][key],
                                         "unit": UNITS[key]}
    return {"correct": all(o["failed"] == 0 for o in outs),
            "attempted": sum(o["attempted"] for o in outs),
            "failed": sum(o["failed"] for o in outs),
            "metrics": metrics}


def main_run(args) -> int:
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    deadline = time.monotonic() + DEADLINE_S * len(names)
    outs = []
    for name in names:
        out = run_workload(name, args.seed, args.seconds, bool(args.trace),
                           deadline)
        print(describe(out), flush=True)
        print("# ops " + " ".join(f"{op['phase'][0]}{op_latency(op):.2f}"
                                  for op in out["ops"]), file=sys.stderr)
        for err in out["errors"]:
            print(f"# {name} check failed: {err}", file=sys.stderr)
        outs.append(out)
    line = result_line(outs, bool(args.trace))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


# ------------------------------------------------------------ layers -----
def main_layers(args) -> int:
    """Untraced then traced run of each workload on one seed; one JSON file
    with the per-layer table, self times and the tracing overhead."""
    from tracing import self_times

    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    ok = True
    for name in WORKLOADS:
        plain = run_workload(name, args.seed, args.seconds, False,
                             time.monotonic() + DEADLINE_S)
        traced = run_workload(name, args.seed, args.seconds, True,
                              time.monotonic() + DEADLINE_S)
        print(describe(plain), flush=True)
        print(describe(traced), flush=True)
        ok = ok and plain["failed"] == 0 and traced["failed"] == 0
        measured = {op["i"] for op in traced["ops"]
                    if op["phase"] == "measured"}
        spans = traced["spans"]
        n = max(1, len(measured))
        selfs = self_times([s for s in spans if s["op"] in measured])
        cold = self_times([s for s in spans if s["op"] == 0])
        warm_op = statistics.median(op_latency(op) for op in traced["ops"]
                                    if op["phase"] == "measured")
        layers = traced["layers"]
        report["workloads"][name] = {
            "per_layer": {k: {"value": v, "unit": PER_LAYER[k]}
                          for k, v in layers.items()},
            "self_s_per_op": {k: v / n for k, v in sorted(selfs.items())},
            "cold_self_s": dict(sorted(cold.items())),
            "warm_op_s": warm_op,
            "share_of_warm_op": {
                k: layers[k] / warm_op for k in
                ("router.execute_s", "engine.filter_s",
                 "router.write_fanout_s", "router.sink_counts_s",
                 "jobs.input_files_s")},
            "untraced": plain["e2e"], "traced": traced["e2e"],
            "tracing_overhead": {k: traced["e2e"][k] - plain["e2e"][k]
                                 for k in END_TO_END},
            "failed": plain["failed"] + traced["failed"],
        }
    with open(args.layers, "w") as f:
        json.dump(report, f, indent=1)
    print(f"# per-layer report written to {args.layers}")
    return 0 if ok else 1


# ------------------------------------------------------------- agree -----
def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _subrun(name: str, seed: int, seconds: float) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=DEADLINE_S + 30)
    finally:
        if proc.poll() is None:  # interrupted: let it stop its driver
            proc.terminate()
            proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise BenchError(f"{name} seed {seed} failed:\n{err[-2000:]}")
    print(lines[-2] if len(lines) > 1 else lines[-1], flush=True)
    return json.loads(lines[-1])


def main_agree(args) -> int:
    """Two interleaved sets of runs of the same tree (set A on seeds
    seed..seed+n-1, set B on the next n seeds, alternating which goes
    first); per metric and workload, each set's median and quartiles and
    whether the sets agree within BENCHMARK.json's bounds."""
    bench = _bench_spec()
    spec = {m["name"]: m for m in bench["end_to_end"]}
    names = ([w["name"] for w in bench["workloads"]]
             if args.workload == "all" else [args.workload])
    report = {}
    all_ok = True
    for name in names:
        sets = {"A": [], "B": []}
        for r in range(args.agree):
            order = ("A", "B") if r % 2 == 0 else ("B", "A")
            for s in order:
                seed = args.seed + r + (args.agree if s == "B" else 0)
                sets[s].append(_subrun(name, seed, args.seconds)["metrics"])
        for key, m in spec.items():
            row = {}
            for s, runs in sets.items():
                vals = [run[key]["value"] for run in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                row[s] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med}
            a, b = row["A"]["median"], row["B"]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            spread_ok = key == "setup_s" or all(
                row[s]["spread"] <= m["bound"] for s in sets)
            row["b_worse_than_a"] = worse
            row["agree"] = spread_ok and worse <= m["bound"]
            all_ok = all_ok and row["agree"]
            report[f"{name}/{key}"] = row
            print(f"# agree {name}/{key}: A {a:.4g} [{row['A']['q1']:.4g}, "
                  f"{row['A']['q3']:.4g}] spread {row['A']['spread']:.3f} | "
                  f"B {b:.4g} [{row['B']['q1']:.4g}, {row['B']['q3']:.4g}] "
                  f"spread {row['B']['spread']:.3f} | B worse by "
                  f"{worse:+.3f} (bound {m['bound']}) -> "
                  f"{'agree' if row['agree'] else 'DISAGREE'}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({"agree": all_ok}))
    return 0 if all_ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="all",
                   choices=["all", *WORKLOADS])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--layers", metavar="PATH",
                   help="write the traced per-layer report to PATH")
    p.add_argument("--agree", type=int, metavar="N", default=0,
                   help="run two interleaved sets of N runs per workload")
    p.add_argument("--out", metavar="PATH", help="--agree report path")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    # SIGTERM unwinds like an error, so every driver process group started
    # so far is stopped and waited for before exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.agree:
            return main_agree(args)
        if args.layers:
            return main_layers(args)
        return main_run(args)
    except BenchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
