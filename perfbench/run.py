"""End-to-end benchmark of the report and training-data pipelines.

    python3 perfbench/run.py --workload diag_report --seed 1 \
        --seconds 20 --trace 0

Run it from the root of a checkout.  It generates the workload's input
from the seed, then runs whole iterations, each in a fresh worker
process (``worker.py``), until ``--seconds`` would be exceeded by one
more iteration; it always runs at least one.  Every iteration's output
is checked against the generator's ground truth outside the timed
region.  With ``--trace 1`` the worker drives the CLI's functions under
the span tracer and the per-layer metrics are reported instead of the
end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it repeat each metric with its unit and workload.  A detail
record with the run context, every iteration and every span goes to
``.perfbench/results/``; its file name carries the core counts, so
runs on different hosts never overwrite each other.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_diag  # noqa: E402
from tracer import self_time  # noqa: E402

# workload -> (generator, its size arguments)
WORKLOADS = {
    "diag_report": (gen_diag.generate,
                    {"nodes": 4, "dcs": 2, "keyspaces": 2, "tables": 3,
                     "log_lines": 300}),
    "training_jsonl": (gen_corpus.generate,
                       {"n_docs": 300, "exact_share": 0.1,
                        "near_share": 0.1}),
}
# (name, unit) in BENCHMARK.json order
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("input_mb_per_s", "MB/s"),
              ("out_bytes_per_in_byte", "ratio")]
PER_LAYER = [
    ("session.start_s", "s"), ("session.jvm_rss_mb", "MB"),
    ("sources.read_s", "s"), ("sources.jobs", "count"),
    ("sources.tasks", "count"), ("sources.rows", "count"),
    ("conformed.load_s", "s"), ("conformed.load_jobs", "count"),
    ("conformed.cached_mb", "MB"),
    ("queries.wall_s", "s"), ("queries.jobs", "count"),
    ("queries.stages", "count"), ("queries.tasks", "count"),
    ("queries.executor_run_s", "s"), ("queries.shuffle_write_mb", "MB"),
    ("queries.spill_mb", "MB"), ("queries.busy_ratio", "ratio"),
    ("sinks.write_s", "s"), ("sinks.jobs", "count"),
    ("sinks.tasks", "count"), ("sinks.bytes_written_mb", "MB"),
    ("sinks.files_written", "count"), ("sinks.export.curated_s", "s"),
    ("sinks.export.shards_s", "s"), ("sinks.export.webdataset_s", "s"),
    ("sinks.export.kept_ratio", "ratio"),
    ("trace.run_s", "s"), ("trace.collect_s", "s"),
]
# a run must end within this many seconds of its start
DEADLINE_S = 170


def _layer(span: dict) -> str:
    return span["layer"].split(".")[0]


def layer_metrics(rec: dict, out_dir: str) -> dict[str, float]:
    """The named per-layer metrics of one traced iteration.  A span's
    wall time counts once, on its top-level ancestor; Spark work is
    counted on the innermost span that ran it, so sums never double."""
    spans = rec["spans"]

    def wall(layer: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["parent"] is None and _layer(s) == layer)

    def named(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def total(layer: str, key: str) -> float:
        return sum(s.get(key, 0) for s in spans if _layer(s) == layer)

    q_wall = wall("queries")
    q_exec = total("queries", "executor_run_ms") / 1000.0
    kept = 0.0
    run_json = os.path.join(out_dir, "run.json")
    if os.path.exists(run_json):
        with open(run_json) as fh:
            corpus = json.load(fh)["corpus"]
        kept = corpus["n_kept"] / corpus["n_docs"] if corpus["n_docs"] else 0.0
    return {
        "session.start_s": rec["setup_s"],
        "session.jvm_rss_mb": rec["jvm_rss_mb"],
        "sources.read_s": wall("sources"),
        "sources.jobs": total("sources", "jobs"),
        "sources.tasks": total("sources", "tasks"),
        "sources.rows": total("sources", "rows"),
        "conformed.load_s": wall("conformed"),
        "conformed.load_jobs": total("conformed", "jobs"),
        "conformed.cached_mb": rec["cached_bytes"] / 1e6,
        "queries.wall_s": q_wall,
        "queries.jobs": total("queries", "jobs"),
        "queries.stages": total("queries", "stages"),
        "queries.tasks": total("queries", "tasks"),
        "queries.executor_run_s": q_exec,
        "queries.shuffle_write_mb":
            total("queries", "shuffle_write_bytes") / 1e6,
        "queries.spill_mb": total("queries", "spill_bytes") / 1e6,
        "queries.busy_ratio":
            q_exec / (q_wall * rec["cores"]) if q_wall else 0.0,
        "sinks.write_s": wall("sinks"),
        "sinks.jobs": total("sinks", "jobs"),
        "sinks.tasks": total("sinks", "tasks"),
        "sinks.bytes_written_mb": checks.output_bytes(out_dir) / 1e6,
        "sinks.files_written": checks.output_files(out_dir),
        "sinks.export.curated_s": named("export_curated_corpus"),
        "sinks.export.shards_s": named("export_training_shards"),
        "sinks.export.webdataset_s": named("export_webdataset"),
        "sinks.export.kept_ratio": kept,
        "trace.run_s": rec["run_s"],
        "trace.collect_s": rec["collect_s"],
    }


def module_breakdown(spans: list[dict]) -> dict[str, float]:
    """Wall time and Spark work per span name: the per-module view
    (``load_model``, ``parse:*``, ``query:*``, ``export_*``)."""
    out: dict[str, float] = {}
    for s in spans:
        name = s["name"].split(":")[0]
        out[f"{name}.wall_s"] = out.get(f"{name}.wall_s", 0.0) + (
            s["end"] - s["start"])
        for key in ("jobs", "stages", "tasks"):
            out[f"{name}.{key}"] = out.get(f"{name}.{key}", 0) + s[key]
    return out


def _stop_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group (the JVM it
    launched) and wait until the group is empty."""
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} survived SIGKILL")


def run_worker(workload: str, input_dir: str, work: str, index: int,
               trace: bool, timeout: float) -> tuple[dict, str]:
    """Run one iteration in a fresh worker process.  The worker gets the
    program's own Spark settings except for the driver heap (below) and
    two that keep its files from outliving it: Spark's local dir
    (shuffle and spill) is a directory of this iteration on RAM-backed
    ``/dev/shm``, where the program puts it by default, and the JVM's
    and Python's temp dirs are inside the work dir.  Both go once the
    worker's process group has ended."""
    out_dir = os.path.join(work, f"out{index}")
    result = os.path.join(work, f"result{index}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"]
                                if env.get("PYTHONPATH") else "")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # the program's 8g default lets the JVM grow to ~7 GB resident on
    # these sub-MB inputs; 4g halves that and runs equally fast
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark_local = None
    if os.path.isdir("/dev/shm"):
        spark_local = tempfile.mkdtemp(prefix="perfbench-spark-local-",
                                       dir="/dev/shm")
        env["SPARK_GRAFT_LOCAL_DIR"] = spark_local
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                + env.get("JAVA_TOOL_OPTIONS", "")).strip()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), workload,
           input_dir, out_dir, result] + (["--trace"] if trace else [])
    try:
        with open(os.path.join(work, f"worker{index}.log"), "w") as log:
            env["PERFBENCH_T0"] = repr(time.time())
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(timeout, 1.0))
            except subprocess.TimeoutExpired:
                pass
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                _stop_group(proc.pid)
    finally:
        if spark_local:
            shutil.rmtree(spark_local, ignore_errors=True)
    if not os.path.exists(result):
        return {"error": f"worker exited {proc.returncode} "
                         "without a result"}, out_dir
    with open(result) as fh:
        return json.load(fh), out_dir


def check_iteration(workload: str, rec: dict, out_dir: str,
                    truth: dict) -> list[str]:
    if "error" in rec:
        return [rec["error"].strip().splitlines()[-1]]
    if workload == "diag_report":
        return checks.check_diag(out_dir, truth, rec)
    return checks.check_training(out_dir, truth)


def _git_revision() -> str:
    # the ceiling keeps git from reading repositories above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, env=env,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _untraced_median(results: str, workload: str, tag: str) -> float | None:
    """Median run_s of the untraced runs of this workload already
    recorded in this checkout at the same core counts."""
    runs = []
    for name in os.listdir(results):
        if name.startswith(f"{workload}-") and f"-trace0-{tag}-" in name:
            with open(os.path.join(results, name)) as fh:
                runs.append(json.load(fh)["metrics"]["run_s"])
    return statistics.median(runs) if runs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still kills its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("astra_perseverance_spark", "tools"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found under {ROOT}; run from "
                  "the root of a full checkout", file=sys.stderr)
            return 2

    nproc = os.cpu_count()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(nproc))
    tag = f"nproc{nproc}-cpus{cpus}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    context = {"nproc": nproc, "SPARK_GRAFT_CPUS": cpus,
               "git_revision": _git_revision(),
               "loadavg_before": os.getloadavg()}
    try:
        gen, sizes = WORKLOADS[args.workload]
        input_dir = os.path.join(work, "input")
        truth = gen(input_dir, args.seed, **sizes)

        iterations = []
        t_measure = time.time()
        while True:
            timeout = DEADLINE_S - (time.time() - t_start)
            rec, out_dir = run_worker(args.workload, input_dir, work,
                                      len(iterations), bool(args.trace),
                                      timeout)
            rec["problems"] = check_iteration(args.workload, rec, out_dir,
                                              truth)
            if not rec["problems"]:
                rec["out_bytes"] = checks.output_bytes(out_dir)
                if args.trace:
                    for span in rec["spans"]:
                        span["self_s"] = self_time(rec["spans"], span["id"])
                    rec["layer_metrics"] = layer_metrics(rec, out_dir)
                    rec["modules"] = module_breakdown(rec["spans"])
            iterations.append(rec)
            elapsed = time.time() - t_measure
            if elapsed * (len(iterations) + 1) / len(iterations) \
                    > args.seconds:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)

    good = [r for r in iterations if not r["problems"]]
    failed = len(iterations) - len(good)
    for r in iterations:
        for p in r["problems"]:
            print(f"{args.workload}: FAILED CHECK: {p}")
    if not good:
        print(f"{args.workload}: every iteration failed", file=sys.stderr)
        return 1

    def med(key: str) -> float:
        return statistics.median(r[key] for r in good)

    in_bytes = truth["input_bytes"]
    if args.trace:
        metrics = {name: statistics.median(r["layer_metrics"][name]
                                           for r in good)
                   for name, _ in PER_LAYER}
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": med("setup_s"),
            "run_s": med("run_s"),
            "input_mb_per_s": in_bytes / 1e6 / med("run_s"),
            "out_bytes_per_in_byte": statistics.median(
                r["out_bytes"] / in_bytes for r in good),
        }
        units = dict(END_TO_END)
    context["loadavg_after"] = os.getloadavg()
    context["spark_version"] = good[0]["spark_version"]
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "context": context,
              "input": {k: v for k, v in truth.items()
                        if not isinstance(v, (list, dict))},
              "attempted": len(iterations), "failed": failed,
              "metrics": metrics, "iterations": iterations}
    if args.trace:
        base_run = _untraced_median(results, args.workload, tag)
        if base_run is not None:
            detail["trace_overhead_s"] = metrics["trace.run_s"] - base_run
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-"
                        f"trace{args.trace}-{tag}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"iterations={len(iterations)} failed_ratio="
          f"{failed / len(iterations):.3f} {tag} "
          f"spark={context['spark_version']} "
          f"git={context['git_revision'][:12]} detail={path}")
    if "trace_overhead_s" in detail:
        print(f"{args.workload} trace_overhead_s "
              f"{detail['trace_overhead_s']:.3f} s")
    for name, value in metrics.items():
        print(f"{args.workload} {name} {value} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(iterations),
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]}
                    for name, value in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
