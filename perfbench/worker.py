"""One benchmark iteration in a fresh process: start Spark, run one
workload once, write a result record as JSON.

    python3 perfbench/worker.py WORKLOAD INPUT_DIR OUT_DIR RESULT_JSON
        [--trace]

``run.py`` starts this process and sets ``PERFBENCH_T0`` to the
wall-clock time just before the start, so ``setup_s`` covers the
interpreter start, the imports, the SparkSession and one trivial job.

Untraced, each workload calls what its CLI calls.  ``training_jsonl``
runs the training CLI's own ``main()``.  ``diag_report`` runs the
``summary.json`` half of the report CLI: ``write_summary_json`` on the
diag tree, which builds the conformed model on the way.  The workbook
half is left out because the whole report takes 80-105 s per cold
process on a 4-vCPU host, too long for the benchmark's time budget.

Traced (``--trace``), the worker calls the public functions the CLI
reaches, in the CLI's order, each inside a span (see ``tracer.py``).
The diag trace also forces each conformed frame on its own, so the
text parsing shows as its own layer.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import Tracer  # noqa: E402

# app names the CLIs give their sessions
APP_NAMES = {"diag_report": "run-report",
             "training_jsonl": "make-training-data"}


def _load_tool(name: str):
    """Import ``tools/<name>.py`` from the checkout by path."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# conformed frames in the order the model lists them
FRAMES = ("node_info", "keyspace_rf", "schema_object", "schema_column",
          "cfstats_metric", "gc_event", "tombstone_event", "proxyhistogram",
          "missing_node")


def run_diag_cli(spark, input_dir: str, out_dir: str) -> None:
    from astra_perseverance_spark.sinks.report import write_summary_json

    write_summary_json(spark, os.path.join(input_dir, "tree"),
                       os.path.join(out_dir, "summary.json"))


def run_diag_traced(spark, tracer: Tracer, input_dir: str,
                    out_dir: str) -> None:
    from astra_perseverance_spark.conformed.model import load_model
    from astra_perseverance_spark.functions.planfp import plan_fingerprint
    from astra_perseverance_spark.queries import QUERY_REGISTRY
    from astra_perseverance_spark.sinks.report import write_summary_json

    tree = os.path.join(input_dir, "tree")
    with tracer.span("load_model", "conformed"):
        model = load_model(spark, tree)
    for frame in FRAMES:
        df = getattr(model, frame)
        with tracer.span(f"parse:{frame}", "sources") as span:
            span["rows"] = df.count() if df is not None else 0
    # the summary's one query, forced on its own so its cost shows apart
    # from the sink's; write_summary_json reuses the memoised result
    with tracer.span("query:summary_json", "queries") as span:
        df = QUERY_REGISTRY["summary_json"](spark, tree)
        span["rows"] = len(df.collect())
    span["plan_fp"] = plan_fingerprint(df)
    with tracer.span("write_summary_json", "sinks"):
        write_summary_json(spark, tree, os.path.join(out_dir, "summary.json"))


def diag_facts(spark, tree: str) -> dict:
    """What the output check reads from the memoised conformed model,
    after the timed region: the row counts of the frames the generator
    knows, the node DCs and the GC pause total, in four jobs."""
    from pyspark.sql import functions as F

    from astra_perseverance_spark.conformed.model import load_model

    model = load_model(spark, tree)
    dcs = [r["dc"] for r in model.node_info.select("dc").collect()]
    gc = model.gc_event.agg(F.count(F.lit(1)).alias("n"),
                            F.sum("pause_ms").alias("ms")).collect()[0]
    return {
        "frame_rows": {"node_info": len(dcs), "gc_event": gc["n"],
                       "tombstone_event": model.tombstone_event.count(),
                       "missing_node": model.missing_node.count()},
        "dcs": sorted(set(dcs)),
        "gc_pause_ms_total": gc["ms"],
    }


def run_training_cli(spark, input_dir: str, out_dir: str) -> None:
    tool = _load_tool("make_training_data")
    rc = tool.main([os.path.join(input_dir, "docs.jsonl"), "-o", out_dir,
                    "--from", "jsonl", "--webdataset"])
    if rc != 0:
        raise RuntimeError(f"training CLI exited with {rc}")


def run_training_traced(spark, tracer: Tracer, input_dir: str,
                        out_dir: str) -> None:
    import pyarrow.parquet as pq

    from astra_perseverance_spark.extensions.curation import curation_ledger
    from astra_perseverance_spark.sinks import (
        export_curated_corpus,
        export_training_shards,
    )
    from astra_perseverance_spark.sinks.export import export_webdataset
    from astra_perseverance_spark.sources.corpus_jsonl import (
        ingest_jsonl_corpus,
    )

    os.makedirs(out_dir, exist_ok=True)
    src = os.path.join(input_dir, "docs.jsonl")
    with tracer.span("ingest_jsonl_corpus", "sources") as span:
        sf_dir = ingest_jsonl_corpus(spark, src,
                                     os.path.join(out_dir, "ingested"))
    span["rows"] = pq.ParquetDataset(
        os.path.join(sf_dir, "documents.parquet")).read(
            columns=["doc_id"]).num_rows
    # export_curated_corpus reads the session-memoised curation ledger;
    # forcing it first attributes the curation queries to their layer
    with tracer.span("curation_ledger", "queries") as span:
        span["rows"] = curation_ledger(spark, sf_dir).count()
    run = {}
    with tracer.span("export_curated_corpus", "sinks"):
        run["corpus"] = export_curated_corpus(spark, sf_dir, out_dir)
        docs = spark.read.parquet(run["corpus"]["kept_path"])
    with tracer.span("export_training_shards", "sinks"):
        run["shards"] = export_training_shards(spark, sf_dir, out_dir,
                                               docs=docs)
    with tracer.span("export_webdataset", "sinks"):
        run["webdataset"] = export_webdataset(
            spark, sf_dir, os.path.join(out_dir, "wds"), docs=docs)
    # the same summary the CLI writes, so one check covers both modes
    with open(os.path.join(out_dir, "run.json"), "w") as fh:
        json.dump(run, fh, indent=2, default=int)


CLI = {"diag_report": run_diag_cli, "training_jsonl": run_training_cli}
TRACED = {"diag_report": run_diag_traced,
          "training_jsonl": run_training_traced}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=sorted(APP_NAMES))
    ap.add_argument("input_dir")
    ap.add_argument("out_dir")
    ap.add_argument("result")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
    rec: dict = {"workload": args.workload, "traced": args.trace}

    from astra_perseverance_spark import get_spark

    spark = get_spark(APP_NAMES[args.workload])
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ready = time.time()
    rec["setup_s"] = ready - t0
    rec["spark_version"] = spark.version
    rec["cores"] = spark.sparkContext.defaultParallelism
    try:
        if args.trace:
            tracer = Tracer(spark)
            TRACED[args.workload](spark, tracer, args.input_dir, args.out_dir)
        else:
            CLI[args.workload](spark, args.input_dir, args.out_dir)
        rec["run_s"] = time.time() - ready
        if args.workload == "diag_report":
            rec.update(diag_facts(spark, os.path.join(args.input_dir, "tree")))
        if args.trace:
            rec["spans"] = tracer.spans
            rec["collect_s"] = tracer.collect_s
            rec["cached_bytes"] = tracer.cached_bytes()
            rec["jvm_rss_mb"] = _jvm_peak_rss_mb(spark)
    except Exception:  # noqa: BLE001 — the record carries the failure
        rec["error"] = traceback.format_exc()
    with open(args.result, "w") as fh:
        json.dump(rec, fh)
    return 1 if "error" in rec else 0


if __name__ == "__main__":
    # skip the graceful Spark shutdown: every output is on disk, and
    # run.py kills the JVM left in this process group
    sys.stdout.flush()
    os._exit(main())
