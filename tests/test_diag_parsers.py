"""Parser unit tests over the committed fixture diag tree
(SURVEY.md §5.2): every edge case the reference handles has an
assertion here, with the explore.py citation on the fixture side
(tests/fixtures/gen_diag.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURE_DIAG


@pytest.fixture(scope="module")
def model(spark):
    from astra_perseverance_spark.sources.diag import load_model_from_diag

    return load_model_from_diag(spark, FIXTURE_DIAG)


def _rows(df, *order):
    return [r.asDict() for r in df.orderBy(*order).collect()]


class TestNodeDiscovery:
    def test_all_naming_styles_resolve(self, model):
        """IP dir, ``_``/``-`` separated dirs (explore.py:606-609) and
        hostname-only dir via gossip (explore.py:251-263)."""
        nodes = {r["node"] for r in model.node_info.collect()}
        assert nodes == {"10.1.0.1", "10_1_0_2", "10-2-0-1", "nodeh4"}

    def test_status_fields(self, model):
        r = {x["node"]: x for x in model.node_info.collect()}
        assert r["10.1.0.1"]["dc"] == "dc1"
        assert r["10.1.0.1"]["rack"] == "rack1"
        assert r["10.1.0.1"]["load_str"] == "101.25 KiB"
        assert r["10.1.0.1"]["tokens"] == 16
        assert r["nodeh4"]["dc"] == "dc2"

    def test_uptime_from_info(self, model):
        r = {x["node"]: x["uptime_sec"] for x in model.node_info.collect()}
        assert r == {"10.1.0.1": 86400, "10_1_0_2": 172800,
                     "10-2-0-1": 43200, "nodeh4": 86400}

    def test_gossip_workload_payload(self, model):
        """DSE JSON payload (explore.py:692-706): workload + graph
        suffix + dse_version; non-DSE nodes fall back to OSS +
        version file (explore.py:707-711)."""
        r = {x["node"]: x for x in model.node_info.collect()}
        assert r["nodeh4"]["workload"] == "Search + Graph"
        assert r["nodeh4"]["version"] == "6.8.25"
        assert r["10.1.0.1"]["workload"] == "OSS Cassandra"
        assert r["10.1.0.1"]["version"] == "4.0.7"


class TestCfstats:
    def test_tablestats_fallback(self, model):
        """Node 10_1_0_2 ships ``tablestats`` only (explore.py:900-903)."""
        n = model.cfstats_metric.filter(F.col("node") == "10_1_0_2").count()
        assert n > 30

    def test_legacy_column_family_label(self, model):
        """Node 10-2-0-1 uses ``Column Family:`` (explore.py:929-931)."""
        rows = model.cfstats_metric.filter(
            (F.col("node") == "10-2-0-1") & (F.col("tbl") == "orders")
            & (F.col("metric") == "local_read_count")
        ).collect()
        assert len(rows) == 1 and rows[0]["value"] == 1100.0  # 100*(11+0)

    def test_table_index_label(self, model):
        """``Table (index):`` sub-blocks keep the qualified name
        (explore.py:926-928)."""
        rows = model.cfstats_metric.filter(
            F.col("tbl") == "orders.orders_by_user"
        ).collect()
        assert {r["node"] for r in rows} == {"10.1.0.1", "10_1_0_2", "10-2-0-1", "nodeh4"}

    def test_latency_ms_stripped(self, model):
        rows = model.cfstats_metric.filter(
            (F.col("node") == "10.1.0.1") & (F.col("tbl") == "users")
            & (F.col("metric") == "local_read_latency_ms")
        ).collect()
        assert rows[0]["value"] == 11.5

    def test_preamble_metric_without_keyspace(self, model):
        rows = model.cfstats_metric.filter(
            F.col("metric") == "total_number_of_tables"
        ).collect()
        assert all(r["ks"] == "" and r["tbl"] == "" for r in rows)
        assert all(r["value"] == 47.0 for r in rows)


class TestSchema:
    def test_keyspace_rf(self, model):
        """NTS per-DC RF + SimpleStrategy fan-out (explore.py:744-785);
        LocalStrategy keyspaces carry no RF rows (fallback → 1)."""
        rf = {(r["dc"], r["ks"]): r["rf"] for r in model.keyspace_rf.collect()}
        assert rf == {("dc1", "shop"): 3, ("dc2", "shop"): 2,
                      ("dc1", "media"): 2, ("dc2", "media"): 2}

    def test_schema_objects(self, model):
        objs = {(r["ks"], r["name"]): r for r in model.schema_object.collect()}
        assert objs[("shop", "orders")]["obj_type"] == "Table"
        assert objs[("shop", "orders_by_user")]["obj_type"] == "Index"
        assert objs[("shop", "orders_by_user")]["src_tbl"] == "orders"
        assert objs[("shop", "orders_status_sai")]["obj_type"] == "Storage-Attached Index"
        assert objs[("shop", "orders_by_status")]["obj_type"] == "Materialized Views"
        assert objs[("shop", "orders_by_status")]["src_tbl"] == "orders"
        assert objs[("shop", "address")]["obj_type"] == "Type"
        assert objs[("shop", "avg_state")]["obj_type"] == "UDF"
        assert objs[("shop", "average")]["obj_type"] == "UDA"

    def test_schema_columns_kinds(self, model):
        cols = {(r["ks"], r["tbl"], r["col"]): r for r in model.schema_column.collect()}
        assert cols[("shop", "orders", "order_id")]["kind"] == "partition_key"
        assert cols[("shop", "orders", "ts")]["kind"] == "clustering"
        assert cols[("shop", "orders", "status")]["kind"] == "regular"
        assert cols[("shop", "users", "user_id")]["kind"] == "partition_key"  # inline PK
        assert cols[("shop", "orders", "amount")]["cql_type"] == "decimal"
        # TYPE bodies contribute columns too (explore.py:856-874)
        assert ("shop", "address", "street") in cols


class TestLogs:
    def test_zip_log_parsed(self, model):
        """nodeh4's system.log is zip-compressed (explore.py:311-316)."""
        assert model.gc_event.filter(F.col("node") == "nodeh4").count() == 6

    def test_rotated_logs_union(self, model):
        """system.log + system.log.1 both scanned (explore.py:1043-1046)."""
        assert model.gc_event.filter(F.col("node") == "10.1.0.1").count() == 12

    def test_additional_logs_tree(self, model):
        """AdditionalLogs/<node>/var/log/cassandra is unioned in
        (explore.py:1048-1066): 6 from nodes/ + 6 from the side tree."""
        assert model.gc_event.filter(F.col("node") == "10-2-0-1").count() == 12

    def test_gc_minute_truncation(self, model):
        ts = model.gc_event.filter(F.col("node") == "10_1_0_2").select("ts").collect()
        assert all(t["ts"].second == 0 for t in ts)

    def test_tombstone_variants(self, model):
        """Both 'live rows and' and 'live and' phrasings parse
        (explore.py:344-348)."""
        rows = model.tombstone_event.filter(F.col("node") == "10_1_0_2").collect()
        got = {(r["ks"], r["tbl"], r["live_rows"], r["tombstones"]) for r in rows}
        assert ("shop", "orders", 42, 1400) in got
        assert ("shop", "users", 12, 800) in got


class TestProxyhistograms:
    def test_missing_file_omits_node(self, model):
        """10-2-0-1 has no proxyhistograms (explore.py:1494-1496)."""
        nodes = {r["node"] for r in model.proxyhistogram.select("node").distinct().collect()}
        assert "10-2-0-1" not in nodes and len(nodes) == 3

    def test_missing_percentile_row(self, model):
        """10_1_0_2 lacks its 98% row; Q6 coalesces it to 0.0
        (explore.py:1507-1509)."""
        pcts = {r["pct"] for r in
                model.proxyhistogram.filter(F.col("node") == "10_1_0_2").collect()}
        assert "98%" not in pcts and "99%" in pcts


FRAME_BUILDERS = {
    "missing_node": "build_missing_node",
    "node_info": "build_node_info",
    "keyspace_rf": "build_keyspace_rf",
    "schema_object": "build_schema_objects",
    "schema_column": "build_schema_columns",
    "cfstats_metric": "build_cfstats_metric",
    "gc_event": "build_gc_event",
    "tombstone_event": "build_tombstone_event",
    "proxyhistogram": "build_proxyhistogram",
}


def _frame_rows(df):
    """Order-free row multiset (reprs: rows may hold None)."""
    return sorted(repr(r) for r in df.collect())


class TestParseContext:
    """One parse per tree: one scan per input family, every conformed
    frame checkpointed, and the standalone builders on the same path."""

    def test_model_frames_read_no_files(self, model):
        """Each frame's plan is one checkpointed ``LogicalRDD`` leaf,
        not a cached copy of the parse lineage, and reads no files."""
        for name in FRAME_BUILDERS:
            df = getattr(model, name)
            assert df._jdf.queryExecution().analyzed().nodeName() \
                == "LogicalRDD", name
            assert df.inputFiles() == [], name

    @pytest.mark.parametrize("frame", sorted(FRAME_BUILDERS))
    def test_builder_matches_model_frame(self, spark, model, frame):
        from astra_perseverance_spark.sources import diag

        built = getattr(diag, FRAME_BUILDERS[frame])(spark, FIXTURE_DIAG)
        assert _frame_rows(built) == _frame_rows(getattr(model, frame))

    def test_one_scan_per_input_family(self, spark, monkeypatch):
        """One reader call per family while the model is built, each
        over exactly that family's files."""
        import glob
        import os

        from pyspark.sql.readwriter import DataFrameReader

        from astra_perseverance_spark.sources.diag import load_model_from_diag

        reads = []
        real_text, real_load = DataFrameReader.text, DataFrameReader.load

        def files(paths):
            return {os.path.realpath(p) for p in paths}

        def text(self, paths, *args, **kwargs):
            kind = "text" if kwargs.get("wholetext") else "log_text"
            reads.append((kind, files(paths)))
            return real_text(self, paths, *args, **kwargs)

        def load(self, path=None, *args, **kwargs):
            reads.append(("log_zip", files(path)))
            return real_load(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameReader, "text", text)
        monkeypatch.setattr(DataFrameReader, "load", load)
        load_model_from_diag(spark, FIXTURE_DIAG)

        tree = os.path.realpath(FIXTURE_DIAG)
        nodetool = {p for p in glob.glob(f"{tree}/nodes/*/nodetool/*")
                    if not p.endswith("describecluster")}
        schema = set(glob.glob(f"{tree}/nodes/*/driver/schema"))
        logs = set(glob.glob(f"{tree}/nodes/*/logs/cassandra/system*")) \
            | set(glob.glob(f"{tree}/AdditionalLogs/*/var/log/cassandra/system*"))
        expected = {
            "text": nodetool | schema,
            "log_text": {p for p in logs if not p.endswith(".zip")},
            "log_zip": {p for p in logs if p.endswith(".zip")},
        }
        assert all(expected.values())
        assert sorted(kind for kind, _ in reads) == sorted(expected)
        assert dict(reads) == expected

    def test_width_follows_spark_split_sizing(self, spark):
        """A family's width floors tasks at openCostInBytes and caps
        them at maxPartitionBytes, one per core in between: tiny trees
        parse in one partition, big ones over every core."""
        from astra_perseverance_spark.sources.diag import _width

        conf = spark._jsparkSession.sessionState().conf()
        open_cost = conf.filesOpenCostInBytes()
        max_part = conf.filesMaxPartitionBytes()
        par = spark.sparkContext.defaultParallelism
        assert _width(spark, 0) == 1
        assert _width(spark, open_cost) == 1
        assert _width(spark, 2 * open_cost) == min(par, 2)
        assert _width(spark, par * open_cost) == par
        assert _width(spark, 10 * par * max_part) == 10 * par

    def test_interpreted_eval_matches_codegen(self, spark, model):
        """With whole-stage codegen off (Spark's own fallback for
        oversized generated code), subexpression elimination may
        evaluate an array index before the guard that protects it;
        every index is a try_element_at, so the parse still succeeds
        and yields the same frames."""
        from astra_perseverance_spark.sources.diag import load_model_from_diag

        key = "spark.sql.codegen.wholeStage"
        before = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            interpreted = load_model_from_diag(spark, FIXTURE_DIAG)
            got = {name: _frame_rows(getattr(interpreted, name))
                   for name in FRAME_BUILDERS}
        finally:
            spark.conf.set(key, before)
        for name in FRAME_BUILDERS:
            assert got[name] == _frame_rows(getattr(model, name)), name


class TestQueriesOverDiag:
    def test_workload_reads_rf_normalization(self, spark):
        """Hand-computed: shop.orders reads = (100+200)/3 + (1100+1200)/2
        = 1250 (J2 per-DC RF, explore.py:962-966)."""
        from astra_perseverance_spark.queries import QUERY_REGISTRY

        rows = {r["tbl"]: r for r in
                QUERY_REGISTRY["workload_reads"](spark, FIXTURE_DIAG).collect()}
        assert rows["orders"]["read_requests"] == pytest.approx(1250.0)
        # media per-DC rf = 2 → (100+200)/2 + (1100+1200)/2 = 1300
        assert rows["assets"]["read_requests"] == pytest.approx(1300.0)

    def test_every_registered_query_runs(self, spark):
        from astra_perseverance_spark.queries import QUERY_REGISTRY

        skip = {  # corpus queries read documents/embeddings parquet,
            # which a diag tree does not carry
            n for n, fn in QUERY_REGISTRY.items()
            if fn.__module__.startswith(("astra_perseverance_spark.extensions",
                                         "astra_perseverance_spark.streaming"
                                         ".doc_stream"))
        }
        for name, fn in QUERY_REGISTRY.items():
            if name in skip:
                continue
            df = fn(spark, FIXTURE_DIAG)
            assert df.count() >= 0, name


class TestCassandraConnectorSource:
    """The connector jar is not in this container, so these verify
    plan construction — the reader format/options and the conformed
    column contracts — without a live cluster."""

    def test_reader_uses_connector_format(self, spark):
        from astra_perseverance_spark.sources.cassandra import (
            CASSANDRA_FORMAT,
            cassandra_table,
        )

        try:
            cassandra_table(spark, "system_schema", "keyspaces")
        except Exception as e:  # noqa: BLE001 — expected: jar absent
            assert "org.apache.spark.sql.cassandra" in str(e) or \
                   "Failed to find" in str(e) or "DATA_SOURCE" in str(e)
        assert CASSANDRA_FORMAT == "org.apache.spark.sql.cassandra"

    def test_live_builders_declare_conformed_columns(self):
        """Column contracts must match conformed/model.py's dims so
        Q15-Q17 run unchanged on the live path."""
        import inspect

        from astra_perseverance_spark.sources import cassandra as cs

        src = inspect.getsource(cs)
        # keyspace_rf(dc, ks, rf)
        assert '"dc", "ks", "rf"' in src
        # schema_column(ks, tbl, col, cql_type, kind)
        for col in ("ks", "tbl", "col", "cql_type", "kind"):
            assert f'"{col}"' in src
        # schema_object obj_type vocabulary
        for t in ("Secondary Indexes", "Storage-Attached Indexes",
                  "Materialized Views", "Functions", "Aggregates"):
            assert t in src


class TestDiagRobustness:
    """Round-11 review findings: real-world diag trees that used to
    poison or silently empty the parse, each built by doctoring a
    copy of the checked-in fixture."""

    @staticmethod
    def _copy_fixture(tmp_path):
        import shutil

        dst = str(tmp_path / "diag")
        shutil.copytree(FIXTURE_DIAG, dst)
        return dst

    def test_nan_latency_does_not_poison_sums(self, spark, tmp_path):
        """nodetool prints 'Local read latency: NaN ms' for idle
        tables; try_cast gives double NaN (not null), and one NaN row
        used to turn the per-table SUM into NaN — every threshold
        comparison downstream silently false."""
        from astra_perseverance_spark.sources.diag import (
            build_cfstats_metric,
        )

        root = self._copy_fixture(tmp_path)
        cf = f"{root}/nodes/10.1.0.1/nodetool/cfstats"
        with open(cf, "a") as fh:
            fh.write("\nKeyspace : shop\n\t\tTable: orders\n"
                     "\t\tLocal read latency: NaN ms\n")
        vals = {
            (r["ks"], r["tbl"], r["metric"]): r["value"]
            for r in build_cfstats_metric(spark, root).collect()
        }
        import math

        assert vals, "fixture parsed to nothing"
        assert not any(math.isnan(v) for v in vals.values()), vals

    def test_empty_additional_logs_tree_keeps_node_logs(self, spark,
                                                        tmp_path):
        """An AdditionalLogs directory that exists but matches no log
        files used to raise PATH_NOT_FOUND for the WHOLE multi-glob
        read — every nodes/*/logs line silently dropped, zero GC
        events, no error."""
        import os
        import shutil

        from astra_perseverance_spark.sources.diag import build_gc_event

        root = self._copy_fixture(tmp_path)
        n_before = build_gc_event(spark, root).count()
        assert n_before > 0
        # replace the populated AdditionalLogs with an empty shell
        shutil.rmtree(os.path.join(root, "AdditionalLogs"))
        os.makedirs(os.path.join(root, "AdditionalLogs", "nodeh4",
                                 "var", "log", "cassandra"))
        n_after = build_gc_event(spark, root).count()
        assert n_after > 0, "node logs vanished with the empty tree"

    def test_if_not_exists_ddl_parses_real_names(self, spark, tmp_path):
        """CREATE ... IF NOT EXISTS used to yield the literal token
        'IF' as the object/keyspace name for every statement kind
        except AGGREGATE."""
        from astra_perseverance_spark.sources.diag import (
            build_keyspace_rf,
            build_schema_columns,
            build_schema_objects,
        )

        root = self._copy_fixture(tmp_path)
        # _schema_lines reads the FIRST node's dump (min path) only
        schema = f"{root}/nodes/10-2-0-1/driver/schema"
        with open(schema, "a") as fh:
            fh.write(
                "\nCREATE KEYSPACE IF NOT EXISTS lazyks WITH replication"
                " = {'class': 'SimpleStrategy', 'replication_factor':"
                " '2'}  AND durable_writes = true;\n\n"
                "CREATE TABLE IF NOT EXISTS lazyks.lazytbl (\n"
                "    id int PRIMARY KEY,\n"
                "    val text\n"
                ");\n")
        objs = build_schema_objects(spark, root)
        names = {(r["ks"], r["name"]) for r in objs.collect()}
        assert ("lazyks", "lazytbl") in names, sorted(names)
        assert not any(ks == "IF" or n == "IF" for ks, n in names)
        rf = {(r["ks"], r["dc"]): r["rf"]
              for r in build_keyspace_rf(spark, root).collect()}
        assert all(k[0] != "IF" for k in rf)
        assert any(k[0] == "lazyks" and v == 2 for k, v in rf.items())
        cols = {(r["ks"], r["tbl"], r["col"])
                for r in build_schema_columns(spark, root).collect()}
        assert ("lazyks", "lazytbl", "val") in cols
