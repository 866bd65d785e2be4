"""Cassandra diagnostic-tree ingestion (SURVEY.md §2.1 S1–S10).

Parses the reference's input layout —

    <root>/nodes/<node_dir>/
        nodetool/{cfstats|tablestats, info, status, describecluster,
                  gossipinfo, version, proxyhistograms}
        driver/schema
        logs/cassandra/system*.log[.zip]

— into the same conformed tables ``conformed.model`` synthesizes, so
every registered query runs unchanged over a real diag snapshot
(``load_model`` routes here when the path contains ``nodes/``).

Spark-first design:

- One scan per input family.  A ``ParseContext`` lists the tree once
  on the driver and reads each family exactly once: every nodetool
  file the parsers use plus ``driver/schema`` in one ``wholetext``
  scan, and the ``system*`` logs in one splittable ``read.text`` (plain)
  plus one ``binaryFile`` scan (zipped).  Each family is coalesced
  once, to the width Spark's own split sizing gives its listed bytes
  (zips counted uncompressed) without the per-file open-cost padding:
  tasks of at least ``spark.sql.files.openCostInBytes`` and at most
  ``spark.sql.files.maxPartitionBytes``, one per core in between
  (``_width``).  A small tree therefore parses in a single partition,
  where the per-file windows and per-node aggregates below need no
  shuffle at all, while a tree of hundreds of nodes or large logs
  still spreads over every core.
- Order-sensitive small files (status, cfstats, gossipinfo, schema)
  are ``posexplode``-split: one row per file → line numbers are exact
  by construction, and the carry-forward context (W1: current
  Keyspace/Table/DC/node block) is a ``last(marker, ignorenulls=True)``
  window partitioned by file — never a cross-file shuffle.  Log lines
  are line-local; only the GC and tombstone lines are kept.
- Zip-compressed logs (S10/F6) are decompressed by a batched Arrow
  ``mapInPandas`` — the one place Python touches bytes, and it is
  per-file batched, not per-line.
- The topology dims (status rows, gossip blocks, the node map) are
  built and cached once per context, so the unresolved-node probe
  runs once and every frame joins the same dims.
- Each conformed frame is materialized once with ``localCheckpoint()``
  and the context's caches are then released.  Queries plan over a
  shallow ``LogicalRDD`` instead of re-analysing the parse lineage,
  and the reference's second cfstats scan (explore.py:1424-1473)
  collapses into the checkpointed fact.

``localCheckpoint`` trade-off: the frames live only in the executors'
block managers and have no lineage to recompute from, so losing an
executor loses the model and its next action fails.  That is
acceptable for the report CLI's local / single-container mode, and it
is the same contract as the BPE learn state in
``extensions/training.py``.

The public ``build_*(spark, root)`` functions build a one-off context
and materialize their one frame through the same path.

Reference parity citations are per-function.  Known reference bugs
are *not* reproduced; divergences are documented in SURVEY.md §8.
"""

from __future__ import annotations

import functools
import io
import os
import zipfile
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astra_perseverance_spark.conformed.model import ConformedModel

IP_RE = r"[0-9]+(?:\.[0-9]+){3}"

# Raw cfstats metric label → conformed metric name (explore.py:939-998
# aggregation pass + 443-450 threshold-tab filters).
CFSTATS_METRICS: dict[str, str] = {
    "Space used (live)": "space_used_live",
    "Local read count": "local_read_count",
    "Local write count": "local_write_count",
    "Local read latency": "local_read_latency_ms",
    "Local write latency": "local_write_latency_ms",
    "SSTable count": "sstable_count",
    "Compacted partition maximum bytes": "compacted_partition_max_bytes",
    "Dropped Mutations": "dropped_mutations",
    "Total number of tables": "total_number_of_tables",
}

# the nodetool outputs the parsers read; a line's ``kind`` is its
# file's basename, so ``driver/schema`` lines have kind 'schema'
NODETOOL_FILES = ("status", "gossipinfo", "info", "version", "cfstats",
                  "tablestats", "proxyhistograms")


def _node_dir(path: Column) -> Column:
    return F.regexp_extract(path, r"nodes/([^/]+)/", 1)


def _expand_globs(globs: list[str]) -> list[str]:
    """Driver-side glob expansion (diag trees are local directories —
    ``load_model`` routes here off ``os.path.isdir``).  Expanding on
    the driver instead of handing Spark the raw patterns fixes a
    silent data-loss mode: ``spark.read.text([g1, g2])`` raises
    PATH_NOT_FOUND when ANY one glob matches nothing (e.g. an
    AdditionalLogs tree that exists but holds no cassandra logs), and
    the except-empty fallback then dropped the lines of EVERY other
    glob too."""
    import glob as _glob

    return [p for g in globs for p in sorted(_glob.glob(g))
            if os.path.isfile(p)]


def _width(spark: SparkSession, nbytes: int) -> int:
    """Partition count for ``nbytes`` of parse input: Spark's split
    sizing (FilePartition.maxSplitBytes) without the per-file
    open-cost padding, which would spread a tree of a few dozen small
    files over every core.  ``cluster_width`` with tasks of at least
    ``spark.sql.files.openCostInBytes`` and at most
    ``spark.sql.files.maxPartitionBytes``."""
    from astra_perseverance_spark.extensions.corpus import cluster_width

    conf = spark._jsparkSession.sessionState().conf()
    return cluster_width(spark, nbytes, conf.filesOpenCostInBytes(),
                         conf.filesMaxPartitionBytes())


def _unzipped_size(path: str) -> int:
    """Uncompressed size of the zip member ``_unzip_lines`` reads, from
    the central directory (no decompression)."""
    with zipfile.ZipFile(path) as zf:
        return zf.infolist()[0].file_size


def _scan_text(spark: SparkSession, paths: list[str],
               wholetext: bool) -> DataFrame:
    """(path, value) over ``paths``."""
    return (
        spark.read.text(paths, wholetext=wholetext)
        .select(F.input_file_name().alias("path"), "value")
    )


def _split_lines(raw: DataFrame) -> DataFrame:
    """wholetext (path, value) → (node_dir, path, line_no, line) with
    exact in-file ordering: line_no comes from ``posexplode`` of the
    split, not from partition-unstable ids (SURVEY.md §4.2.2)."""
    return (
        raw.select(
            "path",
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"),
        )
        .select(_node_dir(F.col("path")).alias("node_dir"), "path",
                "line_no", "line")
    )


def _carry(marker: Column, order: str = "line_no") -> Column:
    """W1 carry-forward: latest non-null marker within the file."""
    w = (
        Window.partitionBy("path")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.last(marker, ignorenulls=True).over(w)


def _strip(col: Column) -> Column:
    """Strip ALL leading/trailing whitespace — Spark's ``trim`` removes
    only ASCII spaces, and diag files are tab-indented."""
    return F.regexp_replace(F.regexp_replace(col, r"^\s+", ""), r"\s+$", "")


def _at(arr: Column, i: int) -> Column:
    """0-based ``arr[i]``, NULL when out of range.  Never a bare
    index: subexpression elimination (the interpreted path Spark falls
    back to when generated code is too large) may evaluate an index
    before the ``when``/filter guard that protects it, and under ANSI
    an out-of-range index raises."""
    return F.try_element_at(arr, F.lit(i + 1))


def _after_colon(line: Column, n: int = 1) -> Column:
    return _strip(_at(F.split(line, ":"), n))


# ---------------------------------------------------------------------------
# the parse context: one scan per input family, topology dims once
# ---------------------------------------------------------------------------

class ParseContext:
    """One diag tree's scans and topology dims, each built once.

    ``text`` holds every line of the one nodetool + driver/schema scan
    with its ``kind``; ``logs`` holds the GC and tombstone lines of the
    plain and zipped log scans; ``status``, ``gossip`` and ``nodes``
    are the topology dims.  ``width`` is each family's partition
    count.  All five frames are cached until ``release()``;
    ``materialize`` checkpoints a frame built from them so it outlives
    the release.

    The context is a local value: build it, materialize the frames,
    release it."""

    def __init__(self, spark: SparkSession, root: str):
        text_paths = _expand_globs(
            [f"{root}/nodes/*/nodetool/{k}" for k in NODETOOL_FILES]
            + [f"{root}/nodes/*/driver/schema"])
        # the optional AdditionalLogs/<node>/var/log/cassandra side
        # tree (explore.py:1048-1066) is read with the node logs
        log_globs = [f"{root}/nodes/*/logs/cassandra/*"]
        if os.path.isdir(os.path.join(root, "AdditionalLogs")):
            log_globs.append(f"{root}/AdditionalLogs/*/var/log/cassandra/*")
        # only system*.log[.N][.zip] files, split on the driver: zips
        # must never be scanned as text, and a matchless glob must not
        # empty the others (_expand_globs)
        log_paths = [p for p in _expand_globs(log_globs)
                     if os.path.basename(p).startswith("system")]
        zip_paths = [p for p in log_paths if p.endswith(".zip")]
        txt_paths = [p for p in log_paths if not p.endswith(".zip")]
        self.width = {
            "text": _width(spark, sum(map(os.path.getsize, text_paths))),
            "logs": _width(spark, sum(map(os.path.getsize, txt_paths))
                           + sum(map(_unzipped_size, zip_paths))),
        }

        if text_paths:
            text = _split_lines(_scan_text(spark, text_paths, wholetext=True)
                                .coalesce(self.width["text"]))
        else:
            text = spark.createDataFrame(
                [], "node_dir string, path string, line_no int, line string")
        self.text = text.withColumn(
            "kind", F.regexp_extract("path", r"/([^/]+)$", 1)).cache()

        parts = []
        if txt_paths:
            parts.append(_scan_text(spark, txt_paths, wholetext=False)
                         .select("path", F.col("value").alias("line")))
        if zip_paths:
            parts.append(spark.read.format("binaryFile").load(zip_paths)
                         .select("path", "content")
                         .mapInPandas(_unzip_lines,
                                      schema="path string, line string"))
        logs = (functools.reduce(DataFrame.unionByName, parts) if parts
                else spark.createDataFrame([], "path string, line string"))
        node_dir = F.when(
            F.col("path").contains("/AdditionalLogs/"),
            F.regexp_extract("path", r"AdditionalLogs/([^/]+)/", 1),
        ).otherwise(_node_dir(F.col("path")))
        self.logs = (
            logs.coalesce(self.width["logs"])
            .filter(F.col("line").contains("GCInspector.java:")
                    | F.col("line").contains("tombstone cells"))
            .withColumn("node_dir", node_dir)
            .cache()
        )

        self.status = _status_rows(self).cache()
        self.gossip = _gossip_blocks(self).cache()
        self.nodes = _node_map(self).cache()

    def lines(self, *kinds: str) -> DataFrame:
        """(node_dir, path, line_no, line) of the text files named
        ``kinds``."""
        return self.text.filter(F.col("kind").isin(*kinds)).drop("kind")

    def materialize(self, df: DataFrame, family: str) -> DataFrame:
        """``df`` coalesced to its input family's width and
        checkpointed (eager, lineage-free)."""
        return df.coalesce(self.width[family]).localCheckpoint()

    def release(self) -> None:
        for df in (self.text, self.logs, self.status, self.gossip,
                   self.nodes):
            df.unpersist()


# ---------------------------------------------------------------------------
# S1: node discovery + S3 status + S4 info + S6 gossip + S7 version
# ---------------------------------------------------------------------------

def _status_rows(ctx: ParseContext) -> DataFrame:
    """Per-node status rows (ip, dc, load_str, tokens, rack) with the
    DC carried forward from ``Datacenter:`` headers
    (explore.py:274-306).  Deduped across the per-node copies."""
    lines = ctx.lines("status")
    dc_marker = F.when(
        F.col("line").contains("Datacenter:"), _after_colon(F.col("line"))
    )
    rows = (
        lines.withColumn("dc", _carry(dc_marker))
        .filter(F.col("line").rlike(rf"\s{IP_RE}\s"))
        .select(
            "dc",
            F.split(_strip(F.col("line")), r"\s+").alias("v"),
        )
        .select(
            "dc",
            _at(F.col("v"), 1).alias("ip"),
            F.concat_ws(" ", _at(F.col("v"), 2), _at(F.col("v"), 3))
            .alias("load_str"),
            _at(F.col("v"), 4).cast("int").alias("tokens"),
            _at(F.col("v"), 7).alias("rack"),
        )
    )
    return rows.groupBy("ip").agg(
        F.min_by(F.struct("dc", "load_str", "tokens", "rack"), F.lit(1)).alias("s")
    ).select("ip", "s.dc", "s.load_str", "s.tokens", "s.rack")


def _gossip_blocks(ctx: ParseContext) -> DataFrame:
    """Per-endpoint gossip state: (ip, dc, workload, version_dse).

    Block start = a line containing '/' (explore.py:666-671, endpoint
    lines are ``[hostname]/ip``); DC from ``DC:idx:value`` taking the
    last token (explore.py:687-691); the embedded JSON payload
    (X_11_PADDING / DSE_GOSSIP_STATE) is ``from_json``-parsed
    (explore.py:692-706).  Intended semantics (ref's stateful-loop
    carry bug not reproduced): each endpoint uses its own payload;
    'Cassandra' renames to 'DSE Core'; graph appends ' + Graph';
    missing dse_version → 'DSE pre 5.0'."""
    lines = ctx.lines("gossipinfo")
    ip_marker = F.when(
        F.col("line").contains("/"),
        F.regexp_extract("line", rf"({IP_RE})", 1),
    )
    blocks = lines.withColumn("ip", _carry(ip_marker)).filter(F.col("ip") != "")
    dc = blocks.filter(F.col("line").contains("DC:")).select(
        "path", "ip", F.element_at(F.split(_strip(F.col("line")), ":"), -1).alias("dc")
    )
    payload = blocks.filter(
        F.col("line").contains("X_11_PADDING")
        | F.col("line").contains("DSE_GOSSIP_STATE")
    ).select(
        "path", "ip",
        F.from_json(
            F.regexp_extract("line", r"^[^:]*:[^:]*:(.*)$", 1),
            "workload string, graph boolean, dse_version string",
        ).alias("j"),
    ).select(
        "path", "ip",
        F.concat(
            F.when(F.col("j.workload") == "Cassandra", "DSE Core")
            .otherwise(F.col("j.workload")),
            F.when(F.col("j.graph"), F.lit(" + Graph")).otherwise(F.lit("")),
        ).alias("workload"),
        F.coalesce(F.col("j.dse_version"), F.lit("DSE pre 5.0")).alias("version_dse"),
    )
    per_file = dc.join(payload, ["path", "ip"], "left")
    # one gossip view is enough (every node carries the full map);
    # dedup by ip, earliest file path wins (deterministic).
    return per_file.groupBy("ip").agg(
        F.min_by(F.struct("dc", "workload", "version_dse"), F.col("path")).alias("s")
    ).select("ip", "s.dc", "s.workload", "s.version_dse")


def _param_per_node(lines: DataFrame, contains: str, alias: str) -> DataFrame:
    """First ``key: value`` match per node file (get_param,
    explore.py:425-438 — B4's silent-None path replaced by a left
    join downstream)."""
    return (
        lines.filter(F.col("line").contains(contains))
        .groupBy("node_dir")
        .agg(F.min_by(_after_colon(F.col("line")), F.col("line_no")).alias(alias))
    )


def _node_map(ctx: ParseContext) -> DataFrame:
    """S1 node discovery: (node_dir, node, ip).

    node = IP embedded in the dirname, else the dirname itself
    (extract_ip, explore.py:242-247, 596-598); ip resolved against
    status with ``_``/``-`` → ``.`` substitutions (explore.py:602-609)
    and falling back to a gossip endpoint line containing the node
    name (find_ip_addr, explore.py:251-263).  Probes for unresolved
    nodes with one job, so the context builds it eagerly, once."""
    dirs = (
        ctx.lines("status")
        .select("node_dir").distinct()
        .withColumn(
            "node",
            F.when(
                F.regexp_extract("node_dir", IP_RE, 0) != "",
                F.regexp_extract("node_dir", IP_RE, 0),
            ).otherwise(F.col("node_dir")),
        )
    )
    st_ips = ctx.status.select("ip")
    by_status = (
        dirs.join(
            F.broadcast(st_ips),
            (F.col("ip") == F.col("node"))
            | (F.col("ip") == F.regexp_replace("node", "_", "."))
            | (F.col("ip") == F.regexp_replace("node", "-", ".")),
            "left",
        )
    )
    resolved = by_status.filter(F.col("ip").isNotNull())
    unresolved = by_status.filter(F.col("ip").isNull()).drop("ip")
    if unresolved.isEmpty():
        return resolved
    hits = (
        unresolved.join(
            ctx.lines("gossipinfo").select("line").distinct(),
            F.col("line").contains(F.col("node")) & F.col("line").contains("/"),
        )
        .select(
            "node_dir", "node",
            F.regexp_extract("line", rf"/({IP_RE})", 1).alias("ip"),
        )
        .filter(F.col("ip") != "")
        .groupBy("node_dir", "node")
        .agg(F.min("ip").alias("ip"))
    )
    return resolved.unionByName(hits)


def _node_info(ctx: ParseContext) -> DataFrame:
    """node_info dim: status + info + gossip + version joined on ip
    (explore.py:296-301, 674-712, 904).  Non-DSE nodes report
    'OSS Cassandra' + the version-file release (explore.py:266-271,
    707-711)."""
    uptime = _param_per_node(ctx.lines("info"), "Uptime", "uptime_str")
    oss_ver = _param_per_node(ctx.lines("version"), "ReleaseVersion",
                              "oss_version")
    return (
        ctx.nodes.join(F.broadcast(ctx.status), "ip")
        .join(F.broadcast(uptime), "node_dir", "left")
        .join(F.broadcast(oss_ver), "node_dir", "left")
        .join(F.broadcast(ctx.gossip.select("ip", "workload", "version_dse")),
              "ip", "left")
        .select(
            F.col("node"),
            F.col("dc"),
            F.col("rack"),
            F.col("load_str"),
            F.col("tokens"),
            F.col("uptime_str").cast("long").alias("uptime_sec"),
            F.coalesce(F.col("workload"), F.lit("OSS Cassandra")).alias("workload"),
            F.coalesce(F.col("version_dse"), F.col("oss_version")).alias("version"),
        )
    )


def cluster_name(spark: SparkSession, root: str) -> str:
    """S5 describecluster → cluster name (explore.py:645-646).  Read
    on its own: the report CLI names its output before the model
    exists."""
    paths = _expand_globs([f"{root}/nodes/*/nodetool/describecluster"])
    if not paths:
        return ""
    row = (
        _split_lines(_scan_text(spark, paths, wholetext=True))
        .filter(F.col("line").contains("Name:"))
        .select(_after_colon(F.col("line")).alias("name"))
        .limit(1)
        .collect()
    )
    return row[0]["name"] if row else ""


# ---------------------------------------------------------------------------
# S2: cfstats / tablestats
# ---------------------------------------------------------------------------

def _cfstats_metric(ctx: ParseContext) -> DataFrame:
    """Long-format cfstats fact via the W1 carry-forward window
    (explore.py:899-998 agg pass; 1424-1473 tab pass — one scan here
    feeds both).  Handles the ``tablestats`` fallback
    (explore.py:900-903), legacy ``Column Family:`` (929-931) and
    ``Table (index):`` (926-928) labels, and keyspace-less preamble
    metrics (``Total number of tables`` → ks = tbl = '')."""
    lines = ctx.lines("cfstats", "tablestats") \
        .withColumn("line", _strip(F.col("line")))
    ks_marker = F.when(
        F.col("line").rlike(r"^Keyspace\s*:"), _after_colon(F.col("line"))
    )
    tbl_marker = (
        F.when(F.col("line") == "", F.lit(""))
        .when(F.col("line").rlike(r"^Table \(index\):"), _after_colon(F.col("line")))
        .when(F.col("line").rlike(r"^(Table|Column Family):"), _after_colon(F.col("line")))
    )
    ctx_lines = (
        lines.withColumn("ks", F.coalesce(_carry(ks_marker), F.lit("")))
        .withColumn("tbl", F.coalesce(_carry(tbl_marker), F.lit("")))
    )
    metric_map = F.create_map(
        *[F.lit(x) for kv in CFSTATS_METRICS.items() for x in kv]
    )
    rows = (
        ctx_lines.filter(F.col("line").contains(":"))
        .select(
            "node_dir", "ks", "tbl",
            F.try_element_at(metric_map, _strip(_at(F.split("line", ":"), 0)))
            .alias("metric"),
            _strip(F.regexp_replace(_after_colon(F.col("line")), r"\s*ms$", ""))
            .alias("raw_value"),
        )
        .filter(F.col("metric").isNotNull())
        .withColumn("value", F.col("raw_value").try_cast("double"))
        # isNotNull alone is not enough: idle tables print
        # 'Local read latency: NaN ms', try_cast yields double NaN
        # (not null), and one NaN row poisons the per-table SUM —
        # every threshold comparison downstream goes silently false
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    return (
        _with_node_dc(rows, ctx)
        .groupBy("node", "dc", "ks", "tbl", "metric")
        .agg(F.sum("value").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# S9: CQL schema DDL
# ---------------------------------------------------------------------------

def _schema_lines(ctx: ParseContext) -> DataFrame:
    """First node's schema dump (the reference reads exactly one,
    explore.py:722-740); statements are blank-line delimited."""
    lines = ctx.lines("schema")
    first = lines.select(F.min("path").alias("path"))
    return lines.join(F.broadcast(first), "path").withColumn("line", _strip(F.col("line")))


def _keyspace_rf(ctx: ParseContext) -> DataFrame:
    """(dc, ks, rf) from CREATE KEYSPACE replication maps
    (explore.py:744-785): NTS per-DC entries keyed by known DC names;
    SimpleStrategy ``replication_factor`` applies to every DC."""
    ksl = _schema_lines(ctx).filter(F.col("line").contains("CREATE KEYSPACE"))
    # IF NOT EXISTS normalization (see _schema_objects): the ks
    # name is token 2 of the normalized statement
    ddl = F.regexp_replace(F.col("line"), r"IF NOT EXISTS\s+", "")
    pairs = ksl.select(
        _obj_name(ddl, 2).alias("ks"),
        F.explode(
            F.expr(r"regexp_extract_all(line, '\'[A-Za-z0-9_]+\'\\s*:\\s*\'[0-9.]+\'', 0)")
        ).alias("pair"),
    ).select(
        "ks",
        F.regexp_extract("pair", r"'([^']+)'", 1).alias("key"),
        F.regexp_extract("pair", r":\s*'([0-9.]+)'", 1).cast("double").alias("rf_d"),
    )
    dcs = ctx.status.select("dc").distinct()
    named = pairs.join(F.broadcast(dcs), pairs.key == dcs.dc).select(
        "dc", "ks", F.col("rf_d").cast("int").alias("rf")
    )
    simple = (
        pairs.filter(F.col("key") == "replication_factor")
        .crossJoin(F.broadcast(dcs))
        .select("dc", "ks", F.col("rf_d").cast("int").alias("rf"))
    )
    return named.unionByName(simple)


def _obj_name(line: Column, idx: int) -> Column:
    return F.regexp_replace(_at(F.split(line, r"\s+"), idx), '"', "")


def _schema_objects(ctx: ParseContext) -> DataFrame:
    """schema_object catalog (ks, name, obj_type, src_ks, src_tbl)
    from the DDL statements (explore.py:786-874):

    - TABLE / TYPE / MATERIALIZED VIEW names are ks-qualified;
    - INDEX / CUSTOM INDEX take src from the ``ON ks.tbl`` clause
      (explore.py:791-801);
    - MV src from the ``FROM ks.tbl`` line inside its statement
      (explore.py:852-855) — carried forward within the statement;
    - UDF: ``CREATE [OR REPLACE] FUNCTION``; UDA: ``CREATE AGGREGATE
      [IF NOT EXISTS]`` (explore.py:809-838; all collected — the
    reference's last-one-wins warning bug B2 is not reproduced)."""
    sl = _schema_lines(ctx)
    line = F.col("line")
    # token indices are over the IF-NOT-EXISTS-normalized line: any
    # CREATE statement may carry the clause (driver-generated dumps
    # do), and a fixed index over the raw line would return the
    # literal token 'IF' as the object name
    ddl = F.regexp_replace(line, r"IF NOT EXISTS\s+", "")
    ks_ctx_marker = F.when(
        line.contains("CREATE KEYSPACE"), _obj_name(ddl, 2)
    )
    sl = sl.withColumn("cur_ks", _carry(ks_ctx_marker))

    tbl_name = F.when(line.contains("CREATE TABLE"), _obj_name(ddl, 2))
    type_name = F.when(line.contains("CREATE TYPE"), _obj_name(ddl, 2))
    mv_name = F.when(line.contains("CREATE MATERIALIZED VIEW"), _obj_name(ddl, 3))
    idx_name = F.when(
        line.contains("CREATE INDEX") & ~line.contains("CUSTOM"),
        _obj_name(ddl, 2),
    )
    sai_name = F.when(line.contains("CREATE CUSTOM INDEX"), _obj_name(ddl, 3))
    udf_name = F.when(
        line.contains("CREATE OR REPLACE FUNCTION"), _obj_name(ddl, 4)
    ).when(
        line.contains("CREATE FUNCTION") & ~line.contains("OR REPLACE"),
        _obj_name(ddl, 2),
    )
    uda_name = F.when(
        line.contains("CREATE AGGREGATE"), _obj_name(ddl, 2)
    )

    def qualified(n: Column, obj_type: str) -> DataFrame:
        return (
            sl.select(n.alias("q"), "cur_ks").filter(F.col("q").isNotNull())
            .select(
                F.when(F.col("q").contains("."), _at(F.split("q", r"\."), 0))
                .otherwise(F.col("cur_ks")).alias("ks"),
                F.when(F.col("q").contains("."), _at(F.split("q", r"\."), 1))
                .otherwise(F.col("q")).alias("name"),
                F.lit(obj_type).alias("obj_type"),
                F.lit(None).cast("string").alias("src_ks"),
                F.lit(None).cast("string").alias("src_tbl"),
            )
        )

    tables = qualified(tbl_name, "Table")
    types = qualified(type_name, "Type")

    def on_clause(n: Column, obj_type: str) -> DataFrame:
        return (
            sl.select(n.alias("name_raw"), "cur_ks", "line")
            .filter(F.col("name_raw").isNotNull())
            .select(
                F.regexp_extract("line", r"ON\s+\"?(\w+)\"?\.", 1).alias("src_ks"),
                F.regexp_extract("line", r"ON\s+\"?\w+\"?\.\"?(\w+)\"?", 1).alias("src_tbl"),
                F.col("name_raw").alias("name"),
            )
            .select(
                F.col("src_ks").alias("ks"), "name",
                F.lit(obj_type).alias("obj_type"), "src_ks", "src_tbl",
            )
        )

    idxs = on_clause(idx_name, "Index")
    sais = on_clause(sai_name, "Storage-Attached Index")

    mv_ctx = F.when(line == "", F.lit("")).when(mv_name.isNotNull(), mv_name)
    mvs = (
        sl.withColumn("cur_mv", _carry(mv_ctx))
        .filter(
            (F.col("cur_mv") != "")
            & F.col("line").rlike(r"FROM\s+\S+\.\S+")
        )
        .select(
            _at(F.split("cur_mv", r"\."), 0).alias("ks"),
            _at(F.split("cur_mv", r"\."), 1).alias("name"),
            F.lit("Materialized Views").alias("obj_type"),
            F.regexp_extract("line", r"FROM\s+\"?(\w+)\"?\.", 1).alias("src_ks"),
            F.regexp_extract("line", r"FROM\s+\"?\w+\"?\.\"?(\w+)\"?", 1).alias("src_tbl"),
        )
        .groupBy("ks", "name", "obj_type")
        .agg(F.min("src_ks").alias("src_ks"), F.min("src_tbl").alias("src_tbl"))
    )

    funcs = qualified(udf_name, "UDF").unionByName(qualified(uda_name, "UDA"))
    return tables.unionByName(types).unionByName(idxs).unionByName(sais) \
        .unionByName(mvs).unionByName(funcs)


def _schema_columns(ctx: ParseContext) -> DataFrame:
    """schema_column (ks, tbl, col, cql_type, kind) from CREATE
    TABLE / TYPE bodies (explore.py:856-874).

    Field lines are first-token identifiers inside an open block
    (blank line / ``)``; / WITH terminates); kind derives from the
    PRIMARY KEY clause (explore.py:864-871): inline ``PRIMARY KEY``
    marks the partition key; ``PRIMARY KEY (a, b, …)`` → a partition,
    rest clustering; ``PRIMARY KEY ((a, b), c)`` → composite."""
    sl = _schema_lines(ctx)
    line = F.col("line")
    # same IF-NOT-EXISTS normalization as _schema_objects — the
    # block key must be the real ks.tbl, never the token 'IF'
    ddl = F.regexp_replace(line, r"IF NOT EXISTS\s+", "")
    blk_marker = (
        F.when(line.contains("CREATE TABLE"), _obj_name(ddl, 2))
        .when(line.contains("CREATE TYPE"), _obj_name(ddl, 2))
        .when(
            line.contains("CREATE") | (line == "") | line.startswith(")")
            | line.startswith("WITH"),
            F.lit(""),
        )
    )
    blk = sl.withColumn("cur_blk", F.coalesce(_carry(blk_marker), F.lit("")))
    body = blk.filter(
        (F.col("cur_blk") != "")
        & ~line.contains("CREATE")
        & line.rlike(r"^[a-z_][a-z0-9_]*\s+\S+")
        & ~line.rlike(r"^(PRIMARY|WITH|AND|SELECT|FROM|WHERE|SFUNC|STYPE|INITCOND|CALLED|RETURNS|LANGUAGE|AS)\b")
    )
    cols = body.select(
        _at(F.split("cur_blk", r"\."), 0).alias("ks"),
        _at(F.split("cur_blk", r"\."), 1).alias("tbl"),
        _at(F.split(line, r"\s+"), 0).alias("col"),
        F.regexp_replace(F.regexp_extract(line, r"^\S+\s+(.*?),?$", 1),
                         r"\s+PRIMARY KEY$", "").alias("cql_type"),
        line.contains("PRIMARY KEY").alias("inline_pk"),
    )
    pk_lines = blk.filter(
        (F.col("cur_blk") != "") & line.startswith("PRIMARY KEY")
    ).select(
        _at(F.split("cur_blk", r"\."), 0).alias("ks"),
        _at(F.split("cur_blk", r"\."), 1).alias("tbl"),
        F.when(
            F.size(F.split(line, r"\(")) - 1 == 2,
            F.split(F.regexp_extract(line, r"\(\((.*?)\)", 1), r",\s*"),
        ).otherwise(
            F.slice(F.split(F.regexp_extract(line, r"\((.*?)\)", 1), r",\s*"), 1, 1)
        ).alias("pk"),
        F.when(
            F.size(F.split(line, r"\(")) - 1 == 2,
            F.split(
                F.regexp_replace(
                    F.regexp_extract(line, r"\)\s*,\s*(.*)\)", 1), r"\)", ""
                ),
                r",\s*",
            ),
        ).otherwise(
            F.expr(r"slice(split(regexp_extract(line, '\\((.*?)\\)', 1), ',\\s*'), 2, 100)")
        ).alias("cc"),
    )
    out = (
        cols.join(F.broadcast(pk_lines), ["ks", "tbl"], "left")
        .select(
            "ks", "tbl", "col", "cql_type",
            F.when(
                F.col("inline_pk") | F.array_contains(F.coalesce("pk", F.array()), F.col("col")),
                "partition_key",
            )
            .when(F.array_contains(F.coalesce("cc", F.array()), F.col("col")), "clustering")
            .otherwise("regular")
            .alias("kind"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# S10: system.log (zip-aware) → gc_event / tombstone_event
# ---------------------------------------------------------------------------

def _unzip_lines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """binaryFile rows → one row per text line of the first zip member
    (explore.py:311-316).  Batched per file, not per line."""
    for pdf in batches:
        out_path, out_line = [], []
        for path, content in zip(pdf["path"], pdf["content"]):
            with zipfile.ZipFile(io.BytesIO(content)) as zf:
                with zf.open(zf.namelist()[0]) as fh:
                    for ln in io.TextIOWrapper(fh, encoding="utf-8"):
                        out_path.append(path)
                        out_line.append(ln.rstrip("\n"))
        yield pd.DataFrame({"path": out_path, "line": out_line})


def _with_node_dc(df: DataFrame, ctx: ParseContext) -> DataFrame:
    return (df.join(F.broadcast(ctx.nodes), "node_dir")
            .join(F.broadcast(ctx.status.select("ip", "dc")), "ip"))


def _gc_event(ctx: ParseContext) -> DataFrame:
    """gc_event (node, dc, ts, pause_ms) from GCInspector lines
    (parseGC_TS, explore.py:317-341).  ts is minute-truncated — the
    reference drops seconds before julian conversion
    (explore.py:326-329); tz fixed UTC (explore.py:1042)."""
    gc = ctx.logs.filter(F.col("line").contains("GCInspector.java:"))
    rows = gc.select(
        "node_dir",
        F.to_timestamp(
            F.regexp_extract("line", r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2})", 1),
            "yyyy-MM-dd HH:mm",
        ).alias("ts"),
        F.regexp_extract("line", r"GC in\s*(\d+)ms", 1).cast("int").alias("pause_ms"),
    ).filter(F.col("pause_ms").isNotNull() & F.col("ts").isNotNull())
    return _with_node_dc(rows, ctx).select("node", "dc", "ts", "pause_ms")


def _tombstone_event(ctx: ParseContext) -> DataFrame:
    """tombstone_event from tombstone-warning lines
    (explore.py:342-357).  Handles both 'live rows and' and 'live
    and' phrasings; ks.tbl from the query clause.  All events are
    emitted — the tp_ts ≥ 1000 gate is applied by Q14, not the
    parser (the reference filters at parse time as a shortcut)."""
    tl = ctx.logs.filter(F.col("line").contains("tombstone cells"))
    rows = tl.select(
        "node_dir",
        F.coalesce(
            F.regexp_extract("line", r"Read\s+(\d+)\s+live", 1).try_cast("long"),
            F.lit(0),
        ).alias("live_rows"),
        F.coalesce(
            F.regexp_extract("line", r"live(?:\s+rows)?\s+and\s+(\d+)\s+tombstone", 1).try_cast("long"),
            F.lit(0),
        ).alias("tombstones"),
        F.regexp_extract("line", r"for query\s+.*?(\w+)\.(\w+)", 1).alias("ks"),
        F.regexp_extract("line", r"for query\s+.*?(\w+)\.(\w+)", 2).alias("tbl"),
    ).filter(F.col("ks") != "")
    return _with_node_dc(rows, ctx).select(
        "node", "dc", "ks", "tbl", "live_rows", "tombstones"
    )


# ---------------------------------------------------------------------------
# S8: proxyhistograms
# ---------------------------------------------------------------------------

def _proxyhistogram(ctx: ParseContext) -> DataFrame:
    """proxyhistogram (node, dc, pct, read_us, write_us) from the
    whitespace table (explore.py:1494-1509).  Unparsable values → 0.0;
    nodes without the file are simply absent (Q6 omits them)."""
    rows = (
        ctx.lines("proxyhistograms")
        .withColumn("line", _strip(F.col("line")))
        .filter(F.col("line").rlike(r"^(Min|Max|\d+%)\s"))
        .select(
            "node_dir",
            F.split(F.col("line"), r"\s+").alias("v"),
        )
        .select(
            "node_dir",
            _at(F.col("v"), 0).alias("pct"),
            F.coalesce(_at(F.col("v"), 1).try_cast("double"), F.lit(0.0)).alias("read_us"),
            F.coalesce(_at(F.col("v"), 2).try_cast("double"), F.lit(0.0)).alias("write_us"),
        )
    )
    return _with_node_dc(rows, ctx).select(
        "node", "dc", "pct", "read_us", "write_us"
    )


# ---------------------------------------------------------------------------
# model assembly
# ---------------------------------------------------------------------------

def _missing_node(ctx: ParseContext) -> DataFrame:
    """'Missing Node Data' anti-join (explore.py:302-304, 683-686):
    IPs present in status or gossip endpoint lines with no resolved
    node directory — a broadcast left-anti join against the node map."""
    return (
        ctx.status.select("ip").unionByName(ctx.gossip.select("ip")).distinct()
        .join(F.broadcast(ctx.nodes.select("ip")), "ip", "left_anti")
    )


# conformed frame → (its builder over a context, the input family
# whose scan width the materialized frame keeps)
FRAMES: dict[str, tuple[Callable[[ParseContext], DataFrame], str]] = {
    "missing_node": (_missing_node, "text"),
    "node_info": (_node_info, "text"),
    "keyspace_rf": (_keyspace_rf, "text"),
    "schema_object": (_schema_objects, "text"),
    "schema_column": (_schema_columns, "text"),
    "cfstats_metric": (_cfstats_metric, "text"),
    "gc_event": (_gc_event, "logs"),
    "tombstone_event": (_tombstone_event, "logs"),
    "proxyhistogram": (_proxyhistogram, "text"),
}


def _build_frames(spark: SparkSession, root: str,
                  names) -> dict[str, DataFrame]:
    """Parse ``root`` once and materialize the named frames."""
    ctx = ParseContext(spark, root)
    try:
        return {name: ctx.materialize(FRAMES[name][0](ctx), FRAMES[name][1])
                for name in names}
    finally:
        ctx.release()


def build_missing_node(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["missing_node"])["missing_node"]


def build_node_info(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["node_info"])["node_info"]


def build_keyspace_rf(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["keyspace_rf"])["keyspace_rf"]


def build_schema_objects(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["schema_object"])["schema_object"]


def build_schema_columns(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["schema_column"])["schema_column"]


def build_cfstats_metric(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["cfstats_metric"])["cfstats_metric"]


def build_gc_event(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["gc_event"])["gc_event"]


def build_tombstone_event(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["tombstone_event"])["tombstone_event"]


def build_proxyhistogram(spark: SparkSession, root: str) -> DataFrame:
    return _build_frames(spark, root, ["proxyhistogram"])["proxyhistogram"]


def load_model_from_diag(spark: SparkSession, root: str) -> ConformedModel:
    """Parse a diagnostic tree into the conformed star schema: one
    ``ParseContext``, every frame checkpointed from it.

    The returned model is interchangeable with the synthetic one —
    every registered query runs on it unchanged (``load_model`` routes
    here when ``root`` contains a ``nodes/`` directory)."""
    return ConformedModel(**_build_frames(spark, root, FRAMES))
