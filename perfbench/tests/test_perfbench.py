"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and metric-name tests are fast.  The check tests run each
workload once on a tiny input (a few minutes in all, Spark included),
then corrupt the output and expect the check to count a failure.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import sys
import tarfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_diag  # noqa: E402
import run  # noqa: E402
from tracer import self_time  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for cur, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(cur, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("gen,sizes", [
    (gen_diag.generate, {"nodes": 4, "log_lines": 50}),
    (gen_corpus.generate, {"n_docs": 60}),
])
def test_generators_are_deterministic(tmp_path, gen, sizes):
    gen(str(tmp_path / "a"), 7, **sizes)
    gen(str(tmp_path / "b"), 7, **sizes)
    gen(str(tmp_path / "c"), 8, **sizes)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_diag_tree_covers_parser_edge_cases(tmp_path):
    truth = gen_diag.generate(str(tmp_path), 3, nodes=4, log_lines=30)
    nodes = sorted(os.listdir(tmp_path / "tree" / "nodes"))
    assert nodes == ["10-1-0-2", "10.1.0.1", "10_2_0_1", "host3"]
    zips = [f for _, _, fs in os.walk(tmp_path) for f in fs
            if f.endswith(".zip")]
    assert zips and truth["dcs"] == ["dc1", "dc2"]


def test_corpus_copies_follow_their_base(tmp_path):
    truth = gen_corpus.generate(str(tmp_path), 5, n_docs=100)
    with open(tmp_path / "docs.jsonl") as fh:
        docs = {d["doc_id"]: d["text"] for d in map(json.loads, fh)}
    assert len(docs) == truth["n_docs"]
    for dup in truth["exact_dup_ids"]:
        assert any(i < dup and t == docs[dup] for i, t in docs.items())


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(run.WORKLOADS)


def test_layer_metrics_emit_every_per_layer_name(tmp_path):
    span = {"parent": None, "start": 0.0, "end": 1.0, "jobs": 1,
            "stages": 2, "skipped_stages": 0, "tasks": 4,
            "executor_run_ms": 100, "shuffle_write_bytes": 10,
            "spill_bytes": 0, "input_bytes": 0}
    spans = [dict(span, id=i, layer=layer, name=name)
             for i, (layer, name) in enumerate((
                 ("sources", "parse:gc_event"), ("conformed", "load_model"),
                 ("queries", "query:summary_json"),
                 ("sinks", "export_webdataset")))]
    rec = {"spans": spans, "setup_s": 1.0, "jvm_rss_mb": 1.0,
           "cached_bytes": 0, "cores": 4, "run_s": 4.0, "collect_s": 0.1}
    got = run.layer_metrics(rec, str(tmp_path))
    assert list(got) == [name for name, _ in run.PER_LAYER]
    assert got["queries.busy_ratio"] == pytest.approx(0.1 / 4)
    assert got["conformed.load_s"] == got["sinks.export.webdataset_s"] == 1.0
    assert got["sinks.export.curated_s"] == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
             {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
             {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
             {"id": 4, "parent": 3, "start": 7.0, "end": 7.5}]
    assert self_time(spans, 0) == pytest.approx(5.0)
    assert self_time(spans, 3) == pytest.approx(0.5)


def _run_once(tmp_path, workload: str, sizes: dict):
    gen, _ = run.WORKLOADS[workload]
    work = str(tmp_path / "work")
    truth = gen(os.path.join(work, "input"), 11, **sizes)
    rec, out_dir = run.run_worker(workload, os.path.join(work, "input"),
                                  work, 0, False, 170)
    assert "error" not in rec, rec.get("error")
    return rec, out_dir, truth


def test_diag_check_passes_then_fails_on_corruption(tmp_path):
    rec, out_dir, truth = _run_once(
        tmp_path, "diag_report",
        {"nodes": 2, "dcs": 2, "keyspaces": 1, "tables": 2,
         "log_lines": 40})
    assert run.check_iteration("diag_report", rec, out_dir, truth) == []
    path = os.path.join(out_dir, "summary.json")
    with open(path) as fh:
        good = fh.read()
    # a summary that lost a table
    doc = json.loads(good)
    ks = next(k for k, v in doc["dataset_size"].items()
              if isinstance(v, dict))
    doc["dataset_size"][ks].popitem()
    with open(path, "w") as fh:
        json.dump(doc, fh)
    assert run.check_iteration("diag_report", rec, out_dir, truth)
    # a summary cut short
    with open(path, "w") as fh:
        fh.write(good[:len(good) // 2])
    assert run.check_iteration("diag_report", rec, out_dir, truth)
    # a node the output lost: the truth's average uptime moves
    with open(path, "w") as fh:
        fh.write(good)
    assert checks.check_diag(out_dir, dict(
        truth, avg_uptime_sec=truth["avg_uptime_sec"] + 1), rec)
    # a GC pause the conformed model lost
    assert checks.check_diag(out_dir, truth, dict(
        rec, gc_pause_ms_total=rec["gc_pause_ms_total"] - 1))
    # a worker failure is a failure
    assert run.check_iteration("diag_report",
                               {"error": "Traceback\nboom"}, out_dir, truth)


def test_training_check_passes_then_fails_on_corruption(tmp_path):
    rec, out_dir, truth = _run_once(tmp_path, "training_jsonl",
                                    {"n_docs": 80})
    assert run.check_iteration("training_jsonl", rec, out_dir, truth) == []
    # an exact duplicate the truth says must go, found in the kept set
    kept = checks._parquet_rows(os.path.join(out_dir, "corpus_kept"),
                                ["doc_id"]).column("doc_id").to_pylist()
    assert checks.check_training(out_dir, dict(truth,
                                               exact_dup_ids=kept[:1]))
    # a WebDataset shard that lost a sample
    with open(os.path.join(out_dir, "run.json")) as fh:
        wds = json.load(fh)["webdataset"]["shards_path"]
    tar_path = next(os.path.join(cur, f) for cur, _, fs in os.walk(wds)
                    for f in fs if f.endswith(".tar"))
    with tarfile.open(tar_path) as tf:
        members = [(m, tf.extractfile(m).read()) for m in tf.getmembers()]
    victim = next(m.name for m, _ in members if m.name.endswith(".txt"))
    with tarfile.open(tar_path, "w") as tf:
        for m, data in members:
            if m.name != victim:
                tf.addfile(m, io.BytesIO(data))
    assert any("webdataset" in p for p in
               run.check_iteration("training_jsonl", rec, out_dir, truth))
    # a kept-corpus part file gone missing
    kept_dir = os.path.join(out_dir, "corpus_kept")
    part = next(f for f in sorted(os.listdir(kept_dir))
                if f.endswith(".parquet"))
    os.remove(os.path.join(kept_dir, part))
    assert any("input docs" in p for p in
               run.check_iteration("training_jsonl", rec, out_dir, truth))
