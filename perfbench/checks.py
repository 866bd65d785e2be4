"""Output checks: compare what a workload wrote with the generator's
ground truth.  Each check returns a list of problems; an empty list
means the output is correct.  Checks read files only, so they run
outside the timed region and start no Spark job.
"""

from __future__ import annotations

import glob
import json
import math
import os
import tarfile


def check_diag(out_dir: str, truth: dict, facts: dict) -> list[str]:
    """``facts`` holds what the worker read from the conformed model:
    ``frame_rows``, the node ``dcs`` and the ``gc_pause_ms_total``."""
    rows = facts.get("frame_rows", {})
    want = {"node_info": truth["n_nodes"],
            "gc_event": truth["gc_pauses"],
            "tombstone_event": truth["tombstone_events"],
            "missing_node": len(truth["missing_nodes"])}
    problems = [f"conformed {name}: {rows.get(name)} rows, expected {n}"
                for name, n in want.items() if rows.get(name) != n]
    if facts.get("dcs") != truth["dcs"]:
        problems.append(f"conformed node DCs {facts.get('dcs')}")
    if facts.get("gc_pause_ms_total") != truth["gc_pause_ms_total"]:
        problems.append("conformed GC pause total differs")
    return problems + _check_summary(os.path.join(out_dir, "summary.json"),
                                     truth)


def _check_summary(path: str, truth: dict) -> list[str]:
    try:
        with open(path) as fh:
            doc = json.load(fh)
        sizes = doc["dataset_size"]
        uptime = doc["avg_uptime_u6"] / 1e6
    except (OSError, ValueError, KeyError, TypeError) as exc:
        return [f"summary.json: unreadable ({exc})"]
    problems = []
    got = {f"{ks}.{tbl}": v["size_u6"] / 1e6 for ks, tbls in sizes.items()
           if isinstance(tbls, dict) for tbl, v in tbls.items()}
    want = truth["table_size_bytes"]
    if sorted(got) != sorted(want):
        problems.append(f"summary.json: tables {sorted(got)}")
    elif not all(math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-6)
                 for k, v in want.items()):
        problems.append("summary.json: table sizes differ")
    if not math.isclose(sizes.get("total_u6", -1) / 1e6,
                        truth["total_size_bytes"], rel_tol=1e-9):
        problems.append("summary.json: total size differs")
    # the average over every node's uptime: a node lost or misread
    # moves it
    if not math.isclose(uptime, truth["avg_uptime_sec"], rel_tol=1e-9):
        problems.append(f"summary.json: average uptime {uptime}")
    missing = (doc.get("warnings", {}).get("Missing Data", {})
               .get("Missing Node Data", []))
    if doc.get("missing_data") != 1 or missing != truth["missing_nodes"]:
        problems.append(f"summary.json: missing nodes {missing}")
    return problems


def _parquet_rows(path: str, columns: list[str] | None = None):
    import pyarrow.parquet as pq

    return pq.ParquetDataset(path).read(columns=columns)


def check_training(out_dir: str, truth: dict) -> list[str]:
    problems: list[str] = []
    try:
        with open(os.path.join(out_dir, "run.json")) as fh:
            run = json.load(fh)
        kept = _parquet_rows(run["corpus"]["kept_path"], ["doc_id"])
        rejects = _parquet_rows(run["corpus"]["rejects_path"], ["doc_id"])
        shards = _parquet_rows(run["shards"]["shards_path"], ["doc_id"])
    except (OSError, KeyError, ValueError) as exc:
        return [f"training output unreadable ({exc})"]
    kept_ids = set(kept.column("doc_id").to_pylist())
    reject_ids = set(rejects.column("doc_id").to_pylist())
    n = truth["n_docs"]
    if len(kept_ids) != kept.num_rows or kept_ids & reject_ids:
        problems.append("kept/rejected overlap or repeat")
    if kept.num_rows + rejects.num_rows != n:
        problems.append(f"kept {kept.num_rows} + rejected "
                        f"{rejects.num_rows} != {n} input docs")
    if run["corpus"]["n_kept"] != kept.num_rows:
        problems.append("run.json n_kept differs from the kept corpus")
    if shards.num_rows != kept.num_rows or \
            set(shards.column("doc_id").to_pylist()) != kept_ids:
        problems.append(f"shards hold {shards.num_rows} docs, "
                        f"kept {kept.num_rows}")
    wds_ids = set()
    n_samples = 0
    try:
        for path in sorted(glob.glob(os.path.join(
                run["webdataset"]["shards_path"], "**", "*.tar"),
                recursive=True)):
            with tarfile.open(path) as tf:
                for name in tf.getnames():
                    if name.endswith(".txt"):
                        n_samples += 1
                        wds_ids.add(int(os.path.basename(name)[:-4]))
    except (OSError, KeyError, ValueError, tarfile.TarError) as exc:
        return problems + [f"webdataset unreadable ({exc})"]
    if n_samples != kept.num_rows or wds_ids != kept_ids:
        problems.append(f"webdataset holds {n_samples} docs, "
                        f"kept {kept.num_rows}")
    leaked = set(truth["exact_dup_ids"]) - reject_ids
    if leaked:
        problems.append(f"{len(leaked)} injected exact duplicates kept")
    return problems


def output_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(cur, f))
               for cur, _, files in os.walk(out_dir) for f in files)


def output_files(out_dir: str) -> int:
    return sum(len(files) for _, _, files in os.walk(out_dir))
