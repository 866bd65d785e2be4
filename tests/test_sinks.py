"""Excel workbook (S11) + summary.json (S12) sink tests: write the
full report from the fixture diag tree, then validate the xlsx zip
structure and sheet XML without any Excel library."""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET
import zipfile

import pytest

from tests.conftest import FIXTURE_DIAG

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}

EXPECTED_TABS = [
    "Astra Metrics", "Workload", "Data Size", "Node Data", "Proxihistogram",
    "Dropped Mutation", "Number of Tables", "Large Partitions",
    "SSTable Count", "Read Latency", "Write Latency", "Tombstones",
    "GC Pauses",
]


@pytest.fixture(scope="module")
def report(spark, tmp_path_factory):
    from astra_perseverance_spark.sinks import write_report

    out = tmp_path_factory.mktemp("report")
    return write_report(spark, FIXTURE_DIAG, str(out), "FixtureCluster")


def _sheet_names(path: str) -> list[str]:
    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
    return [s.attrib["name"] for s in wb.findall(".//m:sheet", NS)]


def _col_idx(ref: str) -> int:
    """'J1' → 9: 0-based column index from an A1-style cell ref."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _sheet_rows(path: str, idx: int) -> list[list[str]]:
    """Cell values positioned by their r= refs (blank cells are omitted
    from the XML, so naive element order would shift columns)."""
    with zipfile.ZipFile(path) as zf:
        ws = ET.fromstring(zf.read(f"xl/worksheets/sheet{idx}.xml"))
    rows = []
    for row in ws.findall(".//m:row", NS):
        vals: list = []
        for c in row.findall("m:c", NS):
            t = c.find("m:is/m:t", NS)
            v = c.find("m:v", NS)
            val = t.text if t is not None else (v.text if v is not None else None)
            pos = _col_idx(c.attrib["r"])
            vals.extend([None] * (pos + 1 - len(vals)))
            vals[pos] = val
        rows.append(vals)
    return rows


class TestWorkbook:
    def test_file_is_valid_zip_with_all_parts(self, report):
        with zipfile.ZipFile(report["xlsx"]) as zf:
            names = set(zf.namelist())
            assert zf.testzip() is None
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/styles.xml"} <= names

    def test_all_reference_tabs_present(self, report):
        assert _sheet_names(report["xlsx"]) == EXPECTED_TABS

    def test_every_sheet_xml_parses(self, report):
        for i in range(1, len(EXPECTED_TABS) + 1):
            assert _sheet_rows(report["xlsx"], i) is not None

    def test_workload_tab_content(self, report):
        """Two-block reads/writes layout (explore.py:1693-1790):
        merged tab + block titles, reads A-F, spacer G, writes H-M."""
        idx = EXPECTED_TABS.index("Workload") + 1
        rows = _sheet_rows(report["xlsx"], idx)
        assert rows[0][0].startswith("Workload for ")
        assert rows[1][0] == "Reads" and rows[1][7] == "Writes"
        assert rows[2][:3] == ["Keyspace", "Table", "Read Requests"]
        assert rows[2][7:10] == ["Keyspace", "Table", "Write Requests"]
        by_tbl = {r[1]: r for r in rows[3:] if len(r) > 1 and r[1]}
        assert float(by_tbl["orders"][2]) == pytest.approx(1250.0)
        with zipfile.ZipFile(report["xlsx"]) as zf:
            ws = ET.fromstring(zf.read(f"xl/worksheets/sheet{idx}.xml"))
        merges = {m.attrib["ref"] for m in ws.findall(".//m:mergeCell", NS)}
        assert {"A1:M1", "A2:F2", "H2:M2"} <= merges

    def test_node_data_tab_rows(self, report):
        rows = _sheet_rows(report["xlsx"], EXPECTED_TABS.index("Node Data") + 1)
        assert len(rows) == 1 + 4 + 1  # header + 4 nodes + Avg Uptime row

    def test_total_rows_are_live_formulas_with_cached_values(self, spark,
                                                              report):
        """The reference writes totals as recomputing formulas
        (explore.py:1556-1559, 1724, 1758-1760); each formula cell must
        also carry the Spark-computed cached value as fallback."""
        from astra_perseverance_spark.queries import QUERY_REGISTRY

        def cells(tab):
            with zipfile.ZipFile(report["xlsx"]) as zf:
                ws = ET.fromstring(zf.read(
                    f"xl/worksheets/sheet{EXPECTED_TABS.index(tab) + 1}.xml"))
            out = {}
            for c in ws.findall(".//m:c", NS):
                f = c.find("m:f", NS)
                v = c.find("m:v", NS)
                if f is not None:
                    out[c.attrib["r"]] = (f.text, v.text if v is not None else None)
            return out

        nd = cells("Node Data")
        assert nd["F6"][0] == "AVERAGE(F2:F5)"
        assert float(nd["F6"][1]) > 0  # cached literal fallback
        assert "86400" in nd["G6"][0] and "days" in nd["G6"][0]
        assert "days" in nd["G6"][1]
        # per-row uptime format column is a formula too (explore.py:1554)
        assert nd["G2"][0].startswith("INT(F2/86400)")

        ds = cells("Data Size")
        (expr, cached), = [ds[k] for k in ds if k.startswith("C")]
        # the query's own grand-total row (ks = tbl = '') is not
        # rendered: the SUM covers the per-table rows only, and its
        # cached value is the query's total, not twice it
        rows = QUERY_REGISTRY["data_size"](spark, FIXTURE_DIAG).collect()
        (total,) = [r["size_bytes"] for r in rows
                    if r["ks"] == "" and r["tbl"] == ""]
        assert expr == f"SUM(C2:C{len(rows)})"
        assert total > 0
        assert float(cached) == pytest.approx(total, rel=1e-12)
        ds_rows = _sheet_rows(report["xlsx"],
                              EXPECTED_TABS.index("Data Size") + 1)
        assert len(ds_rows) == 1 + (len(rows) - 1) + 1  # header, tables, Total
        assert all(r[0] and r[1] for r in ds_rows[1:-1])
        assert ds_rows[-1][0] == "Total"

        wl = cells("Workload")
        exprs = {e for e, _ in wl.values()}
        # per-block totals: reads C (requests) / writes J, both from
        # data row 4 (explore.py:1758-1760)
        assert any(e.startswith("SUM(C4:C") for e in exprs)
        assert any(e.startswith("SUM(J4:J") for e in exprs)

        mx = cells("Astra Metrics")
        metric_exprs = [e for e, _ in mx.values()]
        assert any(e.startswith("Workload!D") for e in metric_exprs)
        assert any(e.startswith("'Data Size'!C") and e.endswith("/1000000000")
                   for e in metric_exprs)
        assert all(v is not None for _, v in mx.values())

    def test_proxyhistogram_two_column_layout(self, report):
        """Reference parity (explore.py:444, 1395-1396): merged
        read/write latency titles over side-by-side column runs with a
        spacer at J, dual header row frozen."""
        idx = EXPECTED_TABS.index("Proxihistogram") + 1
        rows = _sheet_rows(report["xlsx"], idx)
        assert rows[0][0] == "Coordinating Node Read Latency (ms)"
        assert "Coordinating Node Write Latency (ms)" in rows[0]
        half = ["Datacenter", "Node", "Max", "P99", "P98", "P95", "P75",
                "P50", "Min"]
        assert rows[1] == half + [None] + half
        with zipfile.ZipFile(report["xlsx"]) as zf:
            ws = ET.fromstring(zf.read(f"xl/worksheets/sheet{idx}.xml"))
        merges = {m.attrib["ref"] for m in ws.findall(".//m:mergeCell", NS)}
        assert merges == {"A1:I1", "K1:S1"}
        pane = ws.find(".//m:pane", NS)
        assert pane.attrib["ySplit"] == "2"
        # data rows repeat dc/node on both halves
        for r in rows[2:]:
            assert r[0] == r[10] and r[1] == r[11]

    def test_metrics_tab_has_warnings(self, report):
        rows = _sheet_rows(report["xlsx"], 1)
        flat = [c for r in rows for c in r if c]
        assert "Read TPS" in flat
        assert any("Missing Data" in c for c in flat)
        assert "10.9.9.9" in flat


class TestSummaryJsonSink:
    def test_file_written_and_valid(self, report):
        with open(report["summary_json"]) as fh:
            doc = json.load(fh)
        assert doc["missing_data"] == 1
        assert "workload" in doc


class TestViewExport:
    def test_parquet_roundtrip(self, spark, tmp_path):
        from astra_perseverance_spark.sinks import export_views
        from astra_perseverance_spark.queries import QUERY_REGISTRY
        from tests.conftest import SF_SMALL

        names = ["dedup_exact", "source_mix"]
        paths = export_views(spark, SF_SMALL, str(tmp_path), "parquet", names)
        for n in names:
            want = QUERY_REGISTRY[n](spark, SF_SMALL)
            got = spark.read.parquet(paths[n])
            assert got.count() == want.count()
            assert set(got.columns) == set(want.columns)

    def test_csv_export_roundtrip(self, spark, tmp_path):
        from astra_perseverance_spark.queries import QUERY_REGISTRY
        from astra_perseverance_spark.sinks import export_views
        from tests.conftest import SF_SMALL

        paths = export_views(spark, SF_SMALL, str(tmp_path), "csv",
                             ["quality_signals"])
        got = spark.read.option("header", "true").csv(
            paths["quality_signals"])
        want = QUERY_REGISTRY["quality_signals"](spark, SF_SMALL)
        assert got.count() == want.count()
        assert set(got.columns) == set(want.columns)

    def test_csv_serializes_array_columns(self, spark):
        """Non-atomic columns go through the to_json fallback (no
        registered view emits arrays today; the sink must still handle
        one that does)."""
        import json

        from astra_perseverance_spark.sinks.export import _csv_safe

        df = spark.createDataFrame(
            [(1, ["a", "b"], {"k": 2})],
            "id long, arr array<string>, m map<string,int>")
        [r] = _csv_safe(df).collect()
        assert r["id"] == 1
        assert json.loads(r["arr"]) == ["a", "b"]
        assert json.loads(r["m"]) == {"k": 2}

    def test_unknown_query_rejected(self, spark, tmp_path):
        from astra_perseverance_spark.sinks import export_views
        from tests.conftest import SF_SMALL

        with pytest.raises(KeyError):
            export_views(spark, SF_SMALL, str(tmp_path), "parquet", ["nope"])


class TestCuratedCorpusExport:
    @pytest.mark.parametrize("fmt,reader", [
        ("parquet", lambda spark, p: spark.read.parquet(p)),
        ("jsonl", lambda spark, p: spark.read.json(p)),
    ])
    def test_kept_plus_rejects_partition_corpus(self, spark, tmp_path,
                                                fmt, reader):
        from astra_perseverance_spark.queries import QUERY_REGISTRY
        from astra_perseverance_spark.sinks import export_curated_corpus
        from tests.conftest import SF_SMALL

        out = export_curated_corpus(
            spark, SF_SMALL, str(tmp_path / fmt), fmt)
        kept = reader(spark, out["kept_path"])
        rejects = reader(spark, out["rejects_path"])
        n_docs = spark.read.parquet(
            f"{SF_SMALL}/documents.parquet").count()
        assert out["n_docs"] == n_docs
        assert kept.count() == out["n_kept"]
        assert kept.count() + rejects.count() == n_docs
        # kept docs carry the full document schema (the corpus, not a
        # ledger); rejects carry the audit reasons
        assert {"doc_id", "text", "lang", "source"} <= set(kept.columns)
        assert set(rejects.columns) == {"doc_id", "reasons"}
        # the split agrees with the ledger
        ledger_kept = {
            r["doc_id"]
            for r in QUERY_REGISTRY["corpus_curate"](spark, SF_SMALL)
            .filter("keep").collect()
        }
        assert {r["doc_id"] for r in kept.select("doc_id").collect()} \
            == ledger_kept

    def test_bad_format_rejected(self, spark, tmp_path):
        from astra_perseverance_spark.sinks import export_curated_corpus
        from tests.conftest import SF_SMALL

        with pytest.raises(ValueError):
            export_curated_corpus(spark, SF_SMALL, str(tmp_path), "xml")

    def test_trim_spans_rewrites_kept_text(self, spark, tmp_path):
        """trim_spans=True exports the SAME kept set with every kept
        document's text replaced by the span trim computed over the
        KEPT universe (the curation-aware composed path — NOT the
        registered full-corpus query), a per-doc removed_tokens
        column, and the total (derived from the written output) in
        the returned counts."""
        from astra_perseverance_spark.extensions.corpus import docs_frame
        from astra_perseverance_spark.extensions.training import (
            span_trim_frame,
        )
        from astra_perseverance_spark.queries import QUERY_REGISTRY
        from astra_perseverance_spark.sinks import export_curated_corpus
        from tests.conftest import SF_SMALL

        out = export_curated_corpus(
            spark, SF_SMALL, str(tmp_path), trim_spans=True)
        kept = spark.read.parquet(out["kept_path"])
        assert kept.count() == out["n_kept"]
        assert "removed_tokens" in kept.columns
        # n_chars is recomputed with the text rewrite — a stale
        # original length would disagree with every trimmed row
        for r in kept.select("text", "n_chars").collect():
            assert r["n_chars"] == len(r["text"])
        kept_ids = QUERY_REGISTRY["corpus_curate"](
            spark, SF_SMALL).filter("keep").select("doc_id")
        universe = docs_frame(spark, SF_SMALL).join(
            kept_ids, "doc_id", "semi")
        want = {
            r["doc_id"]: (r["trimmed_text"], r["removed_tokens"])
            for r in span_trim_frame(
                spark, SF_SMALL, docs=universe).collect()
        }
        got = {
            r["doc_id"]: (r["text"], r["removed_tokens"])
            for r in kept.select(
                "doc_id", "text", "removed_tokens").collect()
        }
        assert set(got) == set(want)
        for doc_id, pair in got.items():
            assert pair == want[doc_id], doc_id
        total = sum(rm for _, rm in got.values())
        assert out["n_trimmed_tokens"] == total
        assert total > 0, "fixture corpus should trim something"

    def test_trim_universe_is_the_kept_set(self, spark, tmp_path):
        """The composed-path trim is curation-aware: a span whose
        earliest raw-corpus home is ledger-REJECTED survives in its
        earliest KEPT document (it must not vanish from the export),
        and a span duplicated ONLY against rejected documents is not
        trimmed at all (unique post-curation)."""
        from astra_perseverance_spark.sinks import export_curated_corpus

        span_s = "alpha bravo charlie delta echo"
        span_t = "november oscar papa quebec romeo"
        fill = ("w{0} x{0} y{0} z{0} k{0} m{0} n{0} p{0} q{0} r{0} "
                "s{0} t{0} u{0} v{0} a{0} b{0} c{0} d{0} e{0} f{0} "
                "g{0} h{0} i{0} j{0} l{0}")
        rows = [
            # rejected (too_short, < 10 tokens) earliest homes
            (1, f"{span_s} zulu yankee", "en", "web"),
            (2, f"{span_t} xray whiskey", "en", "web"),
            # kept: S duplicated between 3 and 4 (earliest KEPT home
            # is 3); T lives only in 5 post-curation
            (3, f"{fill.format(3)} {span_s}", "en", "web"),
            (4, f"{fill.format(4)} {span_s}", "en", "web"),
            (5, f"{fill.format(5)} {span_t}", "en", "web"),
        ]
        sf_dir = str(tmp_path / "corpus")
        spark.createDataFrame(
            [(i, t, la, so, len(t)) for i, t, la, so in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{sf_dir}/documents.parquet")

        out = export_curated_corpus(
            spark, sf_dir, str(tmp_path / "out"), trim_spans=True)
        kept = {r["doc_id"]: r for r in spark.read.parquet(
            out["kept_path"]).collect()}
        rejects = {r["doc_id"] for r in spark.read.parquet(
            out["rejects_path"]).collect()}
        assert {1, 2} <= rejects
        assert set(kept) == {3, 4, 5}
        # S survives in its earliest KEPT home (3), trimmed from 4
        assert span_s in kept[3]["text"]
        assert span_s not in kept[4]["text"]
        assert kept[4]["removed_tokens"] == 5
        # T's only duplicate was rejected — unique post-curation,
        # NOT trimmed (the full-corpus universe would excise it)
        assert span_t in kept[5]["text"]
        assert kept[5]["removed_tokens"] == 0
        assert out["n_trimmed_tokens"] == 5


class TestTrainingShards:
    def test_export_training_shards(self, spark, tmp_path):
        """Shard export: pack order restored inside each shard,
        manifest totals equal the seq_pack layout, and every document
        of the layout lands exactly once."""
        import os

        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.extensions.training import (
            SEQ_BUDGET,
            q_seq_pack,
        )
        from astra_perseverance_spark.sinks import export_training_shards

        out = export_training_shards(spark, SF_SMALL, str(tmp_path))
        layout = {r["doc_id"]: r for r in
                  q_seq_pack(spark, SF_SMALL).collect()}
        assert out["n_docs"] == len(layout)

        shards = spark.read.parquet(out["shards_path"])
        got = shards.collect()
        assert len(got) == len(layout)
        per_shard: dict[int, list] = {}
        for r in got:
            assert layout[r["doc_id"]]["pack_pos"] == r["pack_pos"]
            assert layout[r["doc_id"]]["tok_offset"] == r["tok_offset"]
            assert r["text"]
            per_shard.setdefault(r["shard_id"], []).append(r)

        manifest = {r["shard_id"]: r for r in
                    spark.read.parquet(out["manifest_path"]).collect()}
        assert set(manifest) == set(per_shard)
        assert out["n_shards"] == len(manifest)
        for sid, rows in per_shard.items():
            n_tokens = sum(r["n_tok"] for r in rows)
            m = manifest[sid]
            assert m["n_docs"] == len(rows)
            assert m["n_tokens"] == n_tokens
            assert m["n_seqs"] == (n_tokens - 1) // SEQ_BUDGET + 1

        # physical layout: one directory per shard
        dirs = [d for d in os.listdir(out["shards_path"])
                if d.startswith("shard_id=")]
        assert len(dirs) == len(manifest)


class TestTrainingDataCli:
    def test_cli_end_to_end(self, tmp_path):
        """The pipeline CLI writes curated corpus, shards, manifest,
        and a consistent run.json in one invocation."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        from tests.conftest import SF_SMALL

        rc = make_training_data.main([SF_SMALL, "-o", str(tmp_path)])
        assert rc == 0
        run = json.load(open(tmp_path / "run.json"))
        assert os.path.isdir(run["corpus"]["kept_path"])
        assert os.path.isdir(run["corpus"]["rejects_path"])
        assert os.path.isdir(run["shards"]["shards_path"])
        assert os.path.isdir(run["shards"]["manifest_path"])
        assert run["corpus"]["n_kept"] <= run["corpus"]["n_docs"]
        # the shard layout packs the CURATED corpus, and every kept
        # doc has ≥ QF_MIN_TOKENS tokens (the too_short rule), so the
        # layout's n_tok>0 filter drops nothing: exact equality
        assert run["shards"]["n_docs"] == run["corpus"]["n_kept"]
        assert run["shards"]["n_seqs"] > 0

    def test_cli_shards_pack_the_curated_trimmed_corpus(self, spark,
                                                        tmp_path):
        """The trainer-facing shard layout is the curation funnel's
        OUTPUT: a ledger-rejected doc_id lands in corpus_rejects and
        in NO shard file, manifest totals equal the kept count, and
        under --trim-spans a trimmed document's shard text is its
        trimmed_text (the excised span is not in the shards)."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        span_s = "alpha bravo charlie delta echo"
        fill = ("w{0} x{0} y{0} z{0} k{0} m{0} n{0} p{0} q{0} r{0} "
                "s{0} t{0} u{0} v{0} a{0} b{0} c{0} d{0} e{0} f{0}")
        rows = [
            (1, f"{span_s} zulu yankee", "en", "web"),  # too_short
            (3, f"{fill.format(3)} {span_s}", "en", "web"),
            (4, f"{fill.format(4)} {span_s}", "en", "web"),
        ]
        sf_dir = str(tmp_path / "corpus")
        spark.createDataFrame(
            [(i, t, la, so, len(t)) for i, t, la, so in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{sf_dir}/documents.parquet")

        out = str(tmp_path / "out")
        rc = make_training_data.main(
            [sf_dir, "-o", out, "--trim-spans", "--webdataset"])
        assert rc == 0
        run = json.load(open(os.path.join(out, "run.json")))
        rejected = {r["doc_id"] for r in spark.read.parquet(
            run["corpus"]["rejects_path"]).collect()}
        assert 1 in rejected
        shard_rows = {r["doc_id"]: r for r in spark.read.parquet(
            run["shards"]["shards_path"]).collect()}
        # the rejected doc is in NO shard file; totals match the kept set
        assert set(shard_rows) == {3, 4}
        assert run["shards"]["n_docs"] == run["corpus"]["n_kept"] == 2
        # the trimmed doc's shard text IS the trimmed text: S survives
        # only in its earliest kept home
        kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(
            run["corpus"]["kept_path"]).collect()}
        assert shard_rows[3]["text"] == kept[3]
        assert shard_rows[4]["text"] == kept[4]
        assert span_s in shard_rows[3]["text"]
        assert span_s not in shard_rows[4]["text"]
        # the WebDataset sink gets the same curated docs
        assert run["webdataset"]["n_docs"] == 2

    def test_cli_jsonl_trimmed_corpus_feeds_shards(self, spark,
                                                   tmp_path):
        """--fmt jsonl --trim-spans: the jsonl kept corpus (which
        carries the extra removed_tokens field) round-trips through
        the conformed reader into the shard export — the curated
        composition holds for both corpus formats."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        span_s = "alpha bravo charlie delta echo"
        fill = ("w{0} x{0} y{0} z{0} k{0} m{0} n{0} p{0} q{0} r{0} "
                "s{0} t{0} u{0} v{0} a{0} b{0} c{0} d{0} e{0} f{0}")
        rows = [
            (1, f"{span_s} zulu yankee", "en", "web"),  # too_short
            (3, f"{fill.format(3)} {span_s}", "en", "web"),
            (4, f"{fill.format(4)} {span_s}", "en", "web"),
        ]
        sf_dir = str(tmp_path / "corpus")
        spark.createDataFrame(
            [(i, t, la, so, len(t)) for i, t, la, so in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{sf_dir}/documents.parquet")

        out = str(tmp_path / "out")
        rc = make_training_data.main(
            [sf_dir, "-o", out, "--fmt", "jsonl", "--trim-spans"])
        assert rc == 0
        run = json.load(open(os.path.join(out, "run.json")))
        assert run["corpus"]["n_kept"] == 2
        assert run["corpus"]["n_trimmed_tokens"] == 5
        kept = {r["doc_id"]: r["text"] for r in spark.read.json(
            run["corpus"]["kept_path"]).collect()}
        shard_rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(
            run["shards"]["shards_path"]).collect()}
        assert shard_rows == kept
        assert span_s not in shard_rows[4]

    def test_cli_all_rejected_corpus_yields_empty_artifacts(self, spark,
                                                            tmp_path):
        """A corpus the ledger rejects entirely must flow through the
        composed pipeline without crashing: zero kept docs, zero
        trimmed tokens (the empty-jsonl guard — nothing to infer a
        schema from), zero shards, every doc in the rejects ledger."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        rows = [(1, "too short", "en", "web"),
                (2, "also too short", "en", "web")]
        sf_dir = str(tmp_path / "corpus")
        spark.createDataFrame(
            [(i, t, la, so, len(t)) for i, t, la, so in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{sf_dir}/documents.parquet")

        out = str(tmp_path / "out")
        rc = make_training_data.main(
            [sf_dir, "-o", out, "--fmt", "jsonl", "--trim-spans"])
        assert rc == 0
        run = json.load(open(os.path.join(out, "run.json")))
        assert run["corpus"]["n_kept"] == 0
        assert run["corpus"]["n_trimmed_tokens"] == 0
        assert run["shards"]["n_docs"] == 0
        assert run["shards"]["n_shards"] == 0
        rejected = {r["doc_id"] for r in spark.read.json(
            run["corpus"]["rejects_path"]).collect()}
        assert rejected == {1, 2}

    def test_cli_index_store(self, spark, tmp_path):
        """--index-store persists the incremental-serving artifacts
        under OUT/index_store and run.json records the binding; the
        tables are readable back via the recorded database."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        from tests.conftest import SF_SMALL

        rc = make_training_data.main(
            [SF_SMALL, "-o", str(tmp_path), "--skip-corpus",
             "--skip-shards", "--index-store"])
        assert rc == 0
        run = json.load(open(tmp_path / "run.json"))
        info = run["index_store"]
        assert os.path.isdir(info["location"])
        assert set(info["tables"]) == {
            "ann_centroids", "ann_ivf_lists", "ann_sq_bounds",
            "ann_sq_store", "kmeans_centroids", "kmeans_lists",
            "digest_dim", "shingle_raw", "shingle_inv",
            "even_components",
        }
        try:
            # the CLI's session wrote managed tables into this shared
            # JVM's catalog — every artifact must be non-empty
            for t in info["tables"].values():
                assert spark.table(t).count() > 0, t
            # every --index-store run reports the retrain-trigger
            # health signals into run.json
            health = info["health"]
            assert health["n_vectors"] > 0
            assert health["max_over_target"] > 0
            assert 0.0 <= health["sq_at_rail_rate"] <= 1.0
        finally:
            for t in info["tables"].values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP DATABASE IF EXISTS {info['database']}")

    def test_cli_index_store_health_gate_refuses(self, spark, tmp_path):
        """The measured retrain trigger GATES the pipeline: a store
        past --max-list-over-target / --max-rail-rate makes the run
        exit 2 with the retrain message (thresholds set below any
        real store's level, so the freshly built store itself
        refuses), and run.json records which signals drifted."""
        import json
        import os
        import sys

        import pytest

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        from tests.conftest import SF_SMALL

        # the gate flags bind to the store — refused up front without it
        with pytest.raises(SystemExit):
            make_training_data.main(
                [SF_SMALL, "-o", str(tmp_path), "--skip-corpus",
                 "--skip-shards", "--max-list-over-target", "1.5"])

        rc = make_training_data.main(
            [SF_SMALL, "-o", str(tmp_path), "--skip-corpus",
             "--skip-shards", "--index-store",
             "--max-list-over-target", "0.000001",
             "--max-rail-rate", "0.0"])
        run = json.load(open(tmp_path / "run.json"))
        info = run["index_store"]
        try:
            assert rc == 2
            refused = info["refused"]
            assert any("max_over_target" in r for r in refused)
            assert any("sq_at_rail_rate" in r for r in refused)
            # the health report is still recorded for the operator
            assert info["health"]["max_over_target"] > 0.000001
        finally:
            for t in info["tables"].values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP DATABASE IF EXISTS {info['database']}")


class TestWebdatasetExport:
    def test_tar_shards_roundtrip(self, spark, tmp_path):
        """Every corpus document lands exactly once across the tar
        shards, text + metadata members round-trip byte-exact, shard
        assignment matches the deterministic h15 rule, and the
        manifest counts agree with the files on disk."""
        import json
        import tarfile

        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.sinks.export import export_webdataset

        out = export_webdataset(spark, SF_SMALL, str(tmp_path / "wds"),
                                shard_docs=40)
        docs = {
            r["doc_id"]: (r["text"], r["lang"], r["source"])
            for r in spark.read.parquet(
                f"{SF_SMALL}/documents.parquet").collect()
        }
        assert out["n_docs"] == len(docs)
        assert out["n_shards"] >= 2  # shard_docs=40 over 100+ docs

        seen = {}
        import glob
        import os

        for path in sorted(glob.glob(
                os.path.join(out["shards_path"], "shard-*.tar"))):
            sid = int(os.path.basename(path)[6:11])
            with tarfile.open(path) as tf:
                members = tf.getmembers()
                by_doc = {}
                for m in members:
                    doc_id = int(m.name[:12])
                    by_doc.setdefault(doc_id, {})[m.name[12:]] = (
                        tf.extractfile(m).read())
                for doc_id, parts in by_doc.items():
                    assert set(parts) == {".txt", ".json"}
                    meta = json.loads(parts[".json"])
                    text, lang, source = docs[doc_id]
                    assert parts[".txt"].decode("utf-8") == text
                    assert meta == {"doc_id": doc_id, "lang": lang,
                                    "source": source}
                    assert doc_id not in seen
                    seen[doc_id] = sid
        assert set(seen) == set(docs)

        # deterministic shard rule: h15(doc_id) % n_shards
        import hashlib

        def h15(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        n_shards_rule = -(-len(docs) // 40)
        for doc_id, sid in seen.items():
            assert sid == h15(str(doc_id)) % n_shards_rule

        # manifest agrees with disk
        man = {r["shard_id"]: (r["n_docs"], r["path"])
               for r in spark.read.parquet(out["manifest_path"]).collect()}
        from collections import Counter

        per_shard = Counter(seen.values())
        assert {s: n for s, (n, _p) in man.items()} == dict(per_shard)


class TestJsonlCorpusSource:
    def test_ingest_roundtrip_and_query(self, spark, tmp_path):
        """JSONL dump → ingest → the engine's own queries run on the
        result: exports the fixture corpus as JSONL, ingests it into a
        fresh corpus dir, and text_stats over the ingested dir equals
        text_stats over the original."""
        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.extensions.text_stats import (
            q_text_stats,
        )
        from astra_perseverance_spark.sources.corpus_jsonl import (
            ingest_jsonl_corpus,
            read_documents_jsonl,
        )

        dump = str(tmp_path / "dump")
        (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .write.mode("overwrite").json(dump)
        )
        corpus_dir = ingest_jsonl_corpus(
            spark, dump, str(tmp_path / "corpus"))
        got = read_documents_jsonl(spark, dump)
        orig = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        assert got.count() == orig.count()

        a = {tuple(r) for r in q_text_stats(spark, corpus_dir).collect()}
        b = {tuple(r) for r in q_text_stats(spark, SF_SMALL).collect()}
        assert a == b and a

    def test_missing_optional_fields_are_defaulted(self, spark, tmp_path):
        """A dump carrying only (doc_id, text) still conforms: lang,
        source and n_chars are filled with the documented defaults."""
        import json

        from astra_perseverance_spark.sources.corpus_jsonl import (
            read_documents_jsonl,
        )

        p = tmp_path / "mini.jsonl"
        p.write_text("\n".join(
            json.dumps({"doc_id": i, "text": f"doc {i} text"})
            for i in range(5)))
        df = read_documents_jsonl(spark, str(p))
        rows = {r["doc_id"]: r for r in df.collect()}
        assert len(rows) == 5
        assert rows[0]["lang"] == "und" and rows[0]["source"] == "jsonl"
        assert rows[0]["n_chars"] == len("doc 0 text")

    def test_strict_vs_permissive_on_corrupt_lines(self, spark, tmp_path):
        import json

        import pytest as _pytest

        from astra_perseverance_spark.sources.corpus_jsonl import (
            read_documents_jsonl,
        )

        p = tmp_path / "bad.jsonl"
        p.write_text("\n".join([
            json.dumps({"doc_id": 1, "text": "ok"}),
            "{not json at all",
            json.dumps({"doc_id": 2, "text": "also ok"}),
        ]))
        with _pytest.raises(Exception):
            read_documents_jsonl(spark, str(p), strict=True).collect()
        got = read_documents_jsonl(spark, str(p), strict=False).collect()
        assert {r["doc_id"] for r in got} == {1, 2}


class TestWebdatasetSource:
    def test_export_read_roundtrip(self, spark, tmp_path):
        """Corpus → tar shards → read back: the reconstructed frame
        equals the original documents table exactly, and an ingested
        corpus dir answers the engine's own queries identically."""
        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.extensions.text_stats import (
            q_text_stats,
        )
        from astra_perseverance_spark.sinks.export import export_webdataset
        from astra_perseverance_spark.sources.webdataset import (
            ingest_webdataset_corpus,
            read_webdataset,
        )

        out = export_webdataset(spark, SF_SMALL, str(tmp_path / "wds"),
                                shard_docs=40)
        got = {
            tuple(r) for r in read_webdataset(
                spark, out["shards_path"]).collect()
        }
        orig = {
            tuple(r) for r in spark.read.parquet(
                f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "text", "lang", "source", "n_chars")
            .collect()
        }
        assert got == orig and got

        corpus_dir = ingest_webdataset_corpus(
            spark, out["shards_path"], str(tmp_path / "corpus"))
        a = {tuple(r) for r in q_text_stats(spark, corpus_dir).collect()}
        b = {tuple(r) for r in q_text_stats(spark, SF_SMALL).collect()}
        assert a == b and a

    def test_key_fallback_and_foreign_members(self, spark, tmp_path):
        """Third-party shards still read: metadata without doc_id
        falls back to the numeric member key, extra member types are
        ignored, and a text-less sample is skipped."""
        import io
        import json
        import tarfile

        from astra_perseverance_spark.sources.webdataset import (
            read_webdataset,
        )

        shard = tmp_path / "shard-00000.tar"
        with tarfile.open(shard, "w") as tf:
            def add(name, payload):
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))

            add("000000000007.txt", b"seven")
            add("000000000007.json", json.dumps({"lang": "en"}).encode())
            add("000000000007.bin", b"\x00opaque")  # extra modality
            add("000000000008.txt", b"eight")       # no metadata at all
            add("000000000009.json", b"{}")         # no text: skipped
        rows = {r["doc_id"]: r for r in
                read_webdataset(spark, str(tmp_path)).collect()}
        assert set(rows) == {7, 8}
        assert rows[7]["text"] == "seven" and rows[7]["lang"] == "en"
        assert rows[8]["source"] == "webdataset"
        assert rows[8]["n_chars"] == 5


class TestCorpusLifecycleCli:
    def test_jsonl_in_webdataset_out(self, spark, tmp_path):
        """Full lifecycle in one CLI call: a JSONL dump in, curated
        WebDataset tar shards out — the shard set is exactly the
        ledger's keep set."""
        import json
        import os
        import sys
        import tarfile

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        from tests.conftest import SF_SMALL

        dump = str(tmp_path / "dump")
        (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .write.mode("overwrite").json(dump)
        )
        out = tmp_path / "run"
        rc = make_training_data.main([
            dump, "-o", str(out), "--from", "jsonl",
            "--webdataset", "--skip-shards"])
        assert rc == 0
        run = json.load(open(out / "run.json"))
        assert os.path.isdir(os.path.join(run["ingested"],
                                          "documents.parquet"))
        assert run["webdataset"]["n_docs"] == run["corpus"]["n_kept"]

        kept = {r["doc_id"] for r in
                spark.read.parquet(run["corpus"]["kept_path"]).collect()}
        sharded = set()
        import glob
        for path in glob.glob(os.path.join(
                run["webdataset"]["shards_path"], "shard-*.tar")):
            with tarfile.open(path) as tf:
                sharded |= {int(m.name[:12]) for m in tf.getmembers()}
        assert sharded == kept and kept


class TestIncrementalCli:
    def test_incremental_ingest_drains_only_new_files(self, spark,
                                                      tmp_path):
        """--from jsonl --incremental: the first run ingests the dump,
        a re-run after one more file lands appends ONLY its docs, and
        a re-run with nothing new is a no-op — the scheduled-re-run
        contract over an append-only dump."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        dump = tmp_path / "dump"
        dump.mkdir()

        def land(name, ids):
            with open(dump / name, "w") as fh:
                for i in ids:
                    fh.write(json.dumps(
                        {"doc_id": i, "text": f"doc {i} body",
                         "lang": "en", "source": "web"}) + "\n")

        out = tmp_path / "run"
        args = [str(dump), "-o", str(out), "--from", "jsonl",
                "--incremental", "--skip-corpus", "--skip-shards"]
        land("a.jsonl", range(10))
        assert make_training_data.main(args) == 0
        ingested = json.load(open(out / "run.json"))["ingested"]
        docs = os.path.join(ingested, "documents.parquet")
        assert spark.read.parquet(docs).count() == 10

        land("b.jsonl", range(10, 15))
        assert make_training_data.main(args) == 0
        got = spark.read.parquet(docs)
        assert got.count() == 15
        assert got.select("doc_id").distinct().count() == 15

        assert make_training_data.main(args) == 0  # nothing new
        assert spark.read.parquet(docs).count() == 15

    def test_incremental_extends_existing_index_store(self, spark,
                                                      tmp_path):
        """--index-store --incremental over an OUT dir with an
        existing store EXTENDS the text artifacts with the newly
        ingested docs (batch-sized fold, run.json records the counts)
        instead of rebuilding; the digest dim then covers the grown
        corpus."""
        import json
        import os
        import shutil
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        from tests.conftest import SF_SMALL

        dump = tmp_path / "dump"
        dump.mkdir()

        def land(name, ids):
            with open(dump / name, "w") as fh:
                for i in ids:
                    fh.write(json.dumps(
                        {"doc_id": i, "text": f"some document body "
                         f"number {i} with enough words to shingle",
                         "lang": "en", "source": "web"}) + "\n")

        out = tmp_path / "run"
        args = [str(dump), "-o", str(out), "--from", "jsonl",
                "--incremental", "--skip-corpus", "--skip-shards",
                "--index-store"]
        land("a.jsonl", range(10))
        # first run: no store yet -> full build (needs the embeddings
        # table next to the ingested docs for the ANN artifacts)
        os.makedirs(out / "ingested", exist_ok=True)
        shutil.copy(f"{SF_SMALL}/embeddings.parquet",
                    out / "ingested" / "embeddings.parquet")
        assert make_training_data.main(args) == 0
        run1 = json.load(open(out / "run.json"))
        assert "tables" in run1["index_store"]
        db = run1["index_store"]["database"]

        land("b.jsonl", range(10, 14))
        assert make_training_data.main(args) == 0
        run2 = json.load(open(out / "run.json"))
        try:
            ext = run2["index_store"]["extended"]
            assert ext["digest_rows"] == 4
            assert ext["shingle_rows"] > 0
            assert ext["shingle_inv_rows"] == ext["shingle_rows"]
            dig = spark.table(f"{db}.digest_dim")
            assert dig.count() == 14
            assert dig.filter("doc_id >= 10").count() == 4

            # third landing, with thresholds below the store's level:
            # the gate runs BEFORE the extend, so the run exits 2 and
            # the batch is NOT folded into the degraded index — the
            # flag's documented contract ("refuse ... instead of
            # extending"), not extend-then-refuse
            land("c.jsonl", range(14, 16))
            rc = make_training_data.main(
                args + ["--max-list-over-target", "0.000001"])
            assert rc == 2
            run3 = json.load(open(out / "run.json"))
            assert "extended" not in run3["index_store"]
            assert run3["index_store"]["refused"]
            # stage 0 still ingested the landing (the corpus grew) …
            assert spark.read.parquet(os.path.join(
                run3["ingested"], "documents.parquet")).count() == 16
            # … but the store did not: no new digests, no postings
            assert spark.table(f"{db}.digest_dim").count() == 14

            # pre-upgrade store simulation: delete the inverted
            # orientation (a store written before shingle_inv
            # existed) — the incremental CLI, which only probes for
            # shingle_raw, must BACKFILL at registration and then
            # extend normally instead of dying on the missing table
            shutil.rmtree(os.path.join(
                run3["index_store"]["location"], "shingle_inv"))
            land("d.jsonl", range(16, 18))
            assert make_training_data.main(args) == 0
            run4 = json.load(open(out / "run.json"))
            ext4 = run4["index_store"]["extended"]
            # folds the gate-refused batch (14,15) plus the new one
            assert ext4["digest_rows"] == 4
            assert ext4["shingle_inv_rows"] == ext4["shingle_rows"] > 0
            # the two orientations hold the same row set again
            raw_n = spark.table(f"{db}.shingle_raw").count()
            assert spark.table(f"{db}.shingle_inv").count() == raw_n
        finally:
            for t in run1["index_store"]["tables"].values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP DATABASE IF EXISTS {db}")

    def test_mode_mix_over_one_out_dir_refused(self, spark, tmp_path):
        """A batch re-run over an incrementally-ingested OUT dir (or
        vice versa) is refused up front — mixing modes would leave a
        checkpoint/_spark_metadata mismatch that silently shrinks the
        corpus every later read sees."""
        import json
        import os
        import sys

        import pytest as _pytest

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        dump = tmp_path / "dump"
        dump.mkdir()
        with open(dump / "a.jsonl", "w") as fh:
            fh.write(json.dumps({"doc_id": 1, "text": "t", "lang": "en",
                                 "source": "web"}) + "\n")
        base = ["-o", None, "--from", "jsonl", "--skip-corpus",
                "--skip-shards"]

        # incremental first, then batch -> refused
        out1 = str(tmp_path / "run1")
        args1 = [str(dump)] + base[:1] + [out1] + base[2:]
        assert make_training_data.main(args1 + ["--incremental"]) == 0
        with _pytest.raises(SystemExit):
            make_training_data.main(args1)

        # batch first, then incremental -> refused
        out2 = str(tmp_path / "run2")
        args2 = [str(dump)] + base[:1] + [out2] + base[2:]
        assert make_training_data.main(args2) == 0
        with _pytest.raises(SystemExit):
            make_training_data.main(args2 + ["--incremental"])

    def test_incremental_requires_from(self, tmp_path):
        import os
        import sys

        import pytest as _pytest

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import make_training_data

        with _pytest.raises(SystemExit):
            make_training_data.main(
                ["x", "-o", str(tmp_path), "--incremental"])


class TestCompaction:
    def test_compact_preserves_rows_and_reduces_files(self, spark, tmp_path):
        import glob

        from astra_perseverance_spark.sinks.compact import compact_parquet

        path = str(tmp_path / "frag.parquet")
        df = spark.range(0, 5000).selectExpr(
            "id", "concat('row ', id) AS payload")
        df.repartition(50).write.parquet(path)
        assert len(glob.glob(f"{path}/part-*")) == 50
        before = {tuple(r) for r in spark.read.parquet(path).collect()}

        stats = compact_parquet(spark, path, target_bytes=64 * 1024)
        assert stats["files_before"] == 50
        assert stats["files_after"] < 50
        assert stats["rows"] == 5000
        assert len(glob.glob(f"{path}/part-*")) == stats["files_after"]
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == before
        assert not glob.glob(str(tmp_path / "*__compact*"))  # swap cleaned up

        # converges to a fixpoint: re-runs only ever shrink, and once
        # the file count matches the target the run is a no-op
        again = compact_parquet(spark, path, target_bytes=64 * 1024)
        assert again["files_after"] <= again["files_before"]
        fixed = compact_parquet(spark, path, target_bytes=64 * 1024)
        assert fixed["files_after"] == fixed["files_before"]
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == before

    def test_compact_corpus_after_streaming_ingest(self, spark, tmp_path):
        """The intended pairing: an incremental ingest leaves a file
        per trigger; SEALING compaction (finalize_streaming_sink)
        tidies the promoted corpus dir and the engine's queries answer
        identically afterwards.  Without the flag the streaming-sink
        dataset REFUSES to compact — an in-place rewrite cannot
        rewrite the _spark_metadata commit log, and a resumed stream
        would recreate it hiding every compacted row."""
        import glob
        import json
        import os

        import pytest as _pytest

        from astra_perseverance_spark.extensions.text_stats import (
            q_text_stats,
        )
        from astra_perseverance_spark.sinks.compact import compact_corpus
        from astra_perseverance_spark.sources.corpus_jsonl import (
            stream_ingest_jsonl_corpus,
        )

        dump = tmp_path / "dump"
        dump.mkdir()
        corpus = str(tmp_path / "corpus")
        for part in range(4):  # four landings → four ingest runs
            (dump / f"part-{part}.jsonl").write_text("\n".join(
                json.dumps({"doc_id": part * 25 + i,
                            "text": f"document body {part}/{i}"})
                for i in range(25)))
            stream_ingest_jsonl_corpus(spark, str(dump), corpus)
        docs_path = f"{corpus}/documents.parquet"
        n_frag = len(glob.glob(f"{docs_path}/part-*"))
        assert n_frag >= 4
        assert os.path.isdir(f"{docs_path}/_spark_metadata")
        want = {tuple(r) for r in q_text_stats(spark, corpus).collect()}

        with _pytest.raises(ValueError, match="streaming-sink"):
            compact_corpus(spark, corpus, target_bytes=1 << 30)

        stats = compact_corpus(spark, corpus, target_bytes=1 << 30,
                               finalize_streaming_sink=True)
        assert stats["documents.parquet"]["files_after"] == 1
        assert stats["documents.parquet"]["rows"] == 100
        # sealed: the commit log is gone, reads are listing-based
        assert not os.path.exists(f"{docs_path}/_spark_metadata")
        got = {tuple(r) for r in q_text_stats(spark, corpus).collect()}
        assert got == want and got

    def test_compact_noop_skips_scan_and_counts_only_data_files(
            self, spark, tmp_path):
        """The no-op path returns the rows=-1 sentinel without reading
        the dataset, and bookkeeping-directory CONTENTS (files inside
        _spark_metadata are named like data files) never count toward
        the file budget — else an already-compact streaming dataset
        would be pointlessly rewritten on every scheduled run."""
        import os

        from astra_perseverance_spark.sinks.compact import compact_parquet

        path = str(tmp_path / "ds.parquet")
        spark.range(0, 100).coalesce(1).write.parquet(path)
        meta = tmp_path / "ds.parquet" / "_spark_metadata"
        meta.mkdir()
        for name in ("0", "1", "9.compact"):
            (meta / name).write_text("v1")
        stats = compact_parquet(spark, path, target_bytes=1 << 30,
                                finalize_streaming_sink=True)
        assert stats["files_before"] == stats["files_after"] == 1
        assert stats["rows"] == -1  # no-op: nothing rewritten, no scan
        # no-op also leaves the directory untouched (not sealed)
        assert os.path.isdir(str(meta))

    def test_compact_rescues_files_landed_during_rewrite(
            self, spark, tmp_path):
        """A file committed by a concurrent writer between the read
        snapshot and the directory swap must survive compaction — at
        scale the scheduled compactor races live batch appends."""
        import glob

        from astra_perseverance_spark.sinks.compact import compact_parquet

        path = str(tmp_path / "live.parquet")
        spark.range(0, 1000).repartition(8).write.parquet(path)

        def concurrent_commit():
            spark.range(1000, 1100).coalesce(1).write.mode(
                "append").parquet(path)

        stats = compact_parquet(
            spark, path, target_bytes=1 << 30,
            _between_snapshot_and_swap=concurrent_commit)
        assert stats["rows"] == 1000  # audit saw the snapshot
        got = {r["id"] for r in spark.read.parquet(path).collect()}
        assert got == set(range(1100))  # late file rescued, none lost
        # files_after (listed post-rescue) = 1 compacted + 1 rescued
        assert len(glob.glob(f"{path}/part-*")) == stats["files_after"] == 2

    def test_compact_rescue_preserves_nested_relative_path(
            self, spark, tmp_path):
        """r8 ADVICE: a concurrent writer that committed into a nested
        subdirectory (e.g. a hive partition it was adding) must be
        rescued AT its relative path — flattening to the basename
        would detach the row group from its partition key."""
        import glob
        import os
        import shutil

        from astra_perseverance_spark.sinks.compact import compact_parquet

        path = str(tmp_path / "nested.parquet")
        spark.range(0, 1000).repartition(8).write.parquet(path)
        staging = str(tmp_path / "staging")

        def concurrent_commit():
            spark.range(1000, 1100).coalesce(1).write.parquet(staging)
            os.makedirs(os.path.join(path, "day=7"), exist_ok=True)
            for f in glob.glob(f"{staging}/part-*"):
                shutil.move(f, os.path.join(path, "day=7",
                                            os.path.basename(f)))

        compact_parquet(
            spark, path, target_bytes=1 << 30,
            _between_snapshot_and_swap=concurrent_commit)
        rescued = glob.glob(f"{path}/day=7/part-*")
        assert len(rescued) == 1, rescued  # relative path preserved
        assert not glob.glob(str(tmp_path / "*__compact*"))
        got = {r["id"] for r in spark.read.parquet(
            f"{path}/day=7").collect()}
        assert got == set(range(1000, 1100))

    def test_compact_relative_path_does_not_duplicate(
            self, spark, tmp_path, monkeypatch):
        """Round-10 review finding: the rescue snapshot keys are
        root-relative, and with a caller-RELATIVE dataset path an
        unqualified root misaligns against the fully-qualified
        ``inputFiles()`` URIs whenever Python's cwd differs from the
        JVM's (os.path.relpath absolutizes a relative start against
        PYTHON's cwd; Spark resolves the path against the JVM's) —
        every consumed old file then misses the snapshot and is
        'rescued' back, silently duplicating the dataset.  The roots
        are now FS-qualified first.  The relative path resolves
        against the JVM working directory, so the dataset lives under
        the gitignored .scratch/; Python's cwd is moved elsewhere to
        force the divergence the fix closes."""
        import os
        import shutil

        from astra_perseverance_spark.sinks.compact import compact_parquet

        jvm_cwd = os.getcwd()
        rel = ".scratch/compact_rel_test.parquet"
        abs_path = os.path.join(jvm_cwd, rel)
        shutil.rmtree(abs_path, ignore_errors=True)
        os.makedirs(os.path.join(jvm_cwd, ".scratch"), exist_ok=True)

        def concurrent_commit():
            # a genuine late file makes the key comparison decisive:
            # misaligned roots turn its rescue into data loss
            spark.range(500, 600).coalesce(1).write.mode(
                "append").parquet(rel)

        try:
            spark.range(0, 500).repartition(8).write.parquet(rel)
            monkeypatch.chdir(tmp_path)  # Python cwd != JVM cwd
            compact_parquet(spark, rel, target_bytes=1 << 30,
                            _between_snapshot_and_swap=concurrent_commit)
            got = {r["id"] for r in spark.read.parquet(rel).collect()}
            # late file rescued, nothing duplicated, nothing lost
            assert got == set(range(600))
        finally:
            monkeypatch.undo()
            shutil.rmtree(abs_path, ignore_errors=True)
            shutil.rmtree(abs_path + ".__compact_old__",
                          ignore_errors=True)
            shutil.rmtree(abs_path + ".__compact_tmp__",
                          ignore_errors=True)

    def test_compact_cli(self, tmp_path, spark):
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import compact as compact_cli

        path = str(tmp_path / "ds.parquet")
        spark.range(0, 1000).repartition(20).write.parquet(path)
        rc = compact_cli.main([path, "--target-mb", "1"])
        assert rc == 0
        assert spark.read.parquet(path).count() == 1000


class TestMultimodalWebdataset:
    def test_media_shards_roundtrip(self, spark, tmp_path):
        """media=True shards carry the payload as a .bin member and
        the media metadata in the .json; reading back with
        extra_members reattaches payload bytes exactly as the media
        table synthesized them."""
        import json
        import tarfile

        from tests.conftest import SF_SMALL

        from astra_perseverance_spark.extensions.multimodal import (
            build_media_table,
        )
        from astra_perseverance_spark.sinks.export import export_webdataset
        from astra_perseverance_spark.sources.webdataset import (
            read_webdataset,
        )

        out = export_webdataset(spark, SF_SMALL, str(tmp_path / "wds"),
                                shard_docs=40, media=True)
        media = {r["doc_id"]: (bytes(r["payload"]), r["meta"])
                 for r in build_media_table(spark, SF_SMALL).collect()}
        assert out["n_docs"] == len(media)

        # tar members: one spot-checked shard carries .txt/.bin/.json
        # per sample with media metadata folded into the .json
        import glob
        import os

        shard = sorted(glob.glob(
            os.path.join(out["shards_path"], "shard-*.tar")))[0]
        with tarfile.open(shard) as tf:
            names = [m.name for m in tf.getmembers()]
            by_doc = {}
            for m in tf.getmembers():
                by_doc.setdefault(int(m.name[:12]), {})[m.name[12:]] = (
                    tf.extractfile(m).read())
        assert all(len(parts) == 3 for parts in by_doc.values()), names
        for doc_id, parts in by_doc.items():
            payload, meta = media[doc_id]
            assert parts[".bin"] == payload
            j = json.loads(parts[".json"])
            assert j["media_type"] == meta["media_type"]
            assert (j["width"], j["height"], j["n_frames"]) == (
                meta["width"], meta["height"], meta["n_frames"])

        # Spark readback with the payload column attached
        got = {r["doc_id"]: bytes(r["bin"]) for r in read_webdataset(
            spark, out["shards_path"], extra_members=(".bin",)).collect()}
        assert got == {d: p for d, (p, _m) in media.items()}


class TestPartitionedCompaction:
    def test_hive_layout_preserved(self, spark, tmp_path):
        """Compacting a partitioned dataset (the training-shard
        layout) must keep the key=value directories — and therefore
        partition pruning — while merging the files inside each."""
        import glob

        from astra_perseverance_spark.sinks.compact import compact_parquet

        path = str(tmp_path / "parts.parquet")
        df = spark.range(0, 3000).selectExpr(
            "id", "id % 3 AS shard_id", "concat('row ', id) AS payload")
        (
            df.repartition(10)
            .write.partitionBy("shard_id").parquet(path)
        )
        files_per_part = len(glob.glob(f"{path}/shard_id=0/part-*"))
        assert files_per_part == 10
        before = {tuple(r) for r in spark.read.parquet(path).collect()}

        stats = compact_parquet(spark, path, target_bytes=1 << 30)
        assert stats["files_before"] == 30 and stats["files_after"] == 3
        assert stats["rows"] == 3000
        for s in range(3):
            assert len(glob.glob(f"{path}/shard_id={s}/part-*")) == 1
        after_df = spark.read.parquet(path)
        assert {tuple(r) for r in after_df.collect()} == before
        # partition pruning still works: the filter lands in the
        # scan's PartitionFilters, not a post-scan Filter
        pruned = after_df.filter("shard_id = 1")
        assert pruned.count() == 1000
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        part_filters = [ln for ln in plan.splitlines()
                        if "PartitionFilters" in ln]
        assert part_filters and any("shard_id" in ln
                                    for ln in part_filters), plan


class TestWebdatasetExportNulls:
    """Round-11 review finding: the exporter wrote NULL lang/source as
    the literal string 'None' (the exact garbage the READER documents
    as tripping corpus_validate) and crashed opaquely on NULL
    doc_id/text.  NULL lang/source now OMIT the meta key (the reader
    defaults them); NULL doc_id/text fail loudly at export."""

    SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")

    def test_null_lang_source_roundtrip_to_reader_defaults(self, spark,
                                                           tmp_path):
        import json
        import tarfile

        from astra_perseverance_spark.sinks.export import export_webdataset
        from astra_perseverance_spark.sources.webdataset import (
            read_webdataset,
        )

        spark.createDataFrame(
            [(1, "hello", None, None, 5), (2, "bye", "en", "web", 3)],
            self.SCHEMA,
        ).write.parquet(str(tmp_path / "corpus" / "documents.parquet"))
        out = export_webdataset(spark, str(tmp_path / "corpus"),
                                str(tmp_path / "wds"))
        # no literal 'None' anywhere in the written metadata
        import glob as _glob

        for tar_path in _glob.glob(out["shards_path"] + "/*.tar"):
            with tarfile.open(tar_path) as tf:
                for m in tf:
                    if m.name.endswith(".json"):
                        meta = json.loads(tf.extractfile(m).read())
                        assert "None" not in meta.values(), meta
        got = {r["doc_id"]: (r["lang"], r["source"])
               for r in read_webdataset(
                   spark, out["shards_path"]).collect()}
        assert got[1] == ("und", "webdataset")  # reader defaults
        assert got[2] == ("en", "web")

    def test_null_text_fails_loudly(self, spark, tmp_path):
        import pytest as _pytest

        from astra_perseverance_spark.sinks.export import export_webdataset

        spark.createDataFrame(
            [(1, None, "en", "web", 0)], self.SCHEMA,
        ).write.parquet(str(tmp_path / "corpus" / "documents.parquet"))
        with _pytest.raises(Exception, match="NULL text"):
            export_webdataset(spark, str(tmp_path / "corpus"),
                              str(tmp_path / "wds"))
