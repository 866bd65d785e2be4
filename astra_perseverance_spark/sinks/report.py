"""Report sinks: the Excel workbook (S11) and summary.json (S12).

Tab registry mirrors the reference workbook (explore.py:1127-1139):
Astra Metrics, Workload, Data Size, Node Data, Proxihistogram, Dropped
Mutation, Number of Tables, Large Partitions, SSTable Count, Read
Latency, Write Latency, Tombstones, GC Pauses — each fed by the
registered query of the same grain, collected to the driver (all are
per-table/per-node grains — bounded by schema size, explore.py renders
the same rows) and rendered through ``sinks.xlsx``.

The reference's Excel *formula* cells (totals via ``=SUM(...)``,
explore.py:1724, 1758-1760, 1811-1826) are written as live formulas
with the Spark-computed value as the cached fallback: a user who edits
the sheet sees totals recompute, a reader that never recalculates sees
the engine's numbers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from astra_perseverance_spark.sinks.xlsx import (
    HEADER_STYLE,
    Formula,
    Workbook,
    _col_letter,
)

# tab name → (query name, ordered [(header, column)] mapping)
TAB_REGISTRY: list[tuple[str, str, list[tuple[str, str]]]] = [
    # Workload renders through _workload_sheet (two-block reads/writes
    # layout, explore.py:1693-1790); the entry keeps tab position.
    ("Workload", "__workload__", None),
    ("Data Size", "data_size", [
        ("Keyspace", "ks"), ("Table", "tbl"), ("Size (bytes)", "size_bytes"),
    ]),
    ("Node Data", "node_data", [
        ("Datacenter", "dc"), ("Node", "node"), ("Load", "load_str"),
        ("Tokens", "tokens"), ("Rack", "rack"), ("Uptime (sec)", "uptime_sec"),
        ("Uptime", "uptime_sec", "uptime"),
        ("Workload", "workload"), ("Version", "version"),
    ]),
    # Proxihistogram renders through _proxyhist_sheet (two-column
    # side-by-side layout, explore.py:444); the registry entry keeps
    # the tab's workbook position and query binding.
    ("Proxihistogram", "proxyhistograms_ms", None),
    ("Dropped Mutation", "dropped_mutations", [
        ("Node", "node"), ("DC", "dc"), ("Keyspace", "ks"), ("Table", "tbl"),
        ("Dropped Mutations", "value"),
    ]),
    ("Number of Tables", "num_tables", [
        ("Sample Node", "sample_node"), ("DC", "dc"),
        ("Total Number of Tables", "value"),
    ]),
    ("Large Partitions", "large_partitions", [
        ("Node", "node"), ("DC", "dc"), ("Keyspace", "ks"), ("Table", "tbl"),
        ("Partition Size(MB)", "size_mb"),
    ]),
    ("SSTable Count", "sstable_count", [
        ("Example Node", "example_node"), ("DC", "dc"), ("Keyspace", "ks"),
        ("Table", "tbl"), ("SSTable Count", "value"),
    ]),
    ("Read Latency", "read_latency", [
        ("Node", "node"), ("DC", "dc"), ("Keyspace", "ks"), ("Table", "tbl"),
        ("Read Latency (ms)", "ms"),
    ]),
    ("Write Latency", "write_latency", [
        ("Node", "node"), ("DC", "dc"), ("Keyspace", "ks"), ("Table", "tbl"),
        ("Write Latency (ms)", "ms"),
    ]),
    ("Tombstones", "tombstones", [
        ("DC", "dc"), ("Node", "node"), ("Keyspace", "ks"), ("Table", "tbl"),
        ("Live Rows", "live_rows"), ("Tombstones", "tombstones"),
    ]),
    ("GC Pauses", "gc_percentiles", [
        ("Level", "lvl"), ("DC", "dc"), ("Node", "node"), ("Pauses", "pauses"),
        ("Min", "min_ms"), ("P50", "p50"), ("P75", "p75"), ("P90", "p90"),
        ("P95", "p95"), ("P98", "p98"), ("P99", "p99"), ("Max", "max_ms"),
    ]),
]


def _metrics_sheet(sh, spark: SparkSession, sf_dir: str,
                   cfg, anchors: dict[str, int]) -> None:
    """The 'Astra Metrics' tab: workload scalars + the warnings list
    (explore.py:1806-1846).

    The six summary scalars are live formulas against the other tabs'
    total rows (explore.py:1811-1826: ``=Workload!D..``,
    ``='Data Size'!C../1000000000``), with the Spark-computed value as
    the cached fallback; ``anchors`` maps query name → the Excel row of
    that tab's total row."""
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    sh.add_row(["Workload Summary", None], style=HEADER_STYLE)
    s = QUERY_REGISTRY["workload_summary"](spark, sf_dir, cfg).collect()[0]
    rt, wt = anchors.get("workload_reads"), anchors.get("workload_writes")
    ds, nd = anchors.get("data_size"), anchors.get("node_data")
    tpmo = "*60*60*24*365.25/12"  # TPS → transactions per mean month
    for label, key, expr in (
        ("Read TPS", "total_read_tps", f"Workload!D{rt}" if rt else None),
        ("Read TPMo", "read_tpmo", f"Workload!D{rt}{tpmo}" if rt else None),
        ("Write TPS", "total_write_tps", f"Workload!K{wt}" if wt else None),
        ("Write TPMo", "write_tpmo", f"Workload!K{wt}{tpmo}" if wt else None),
        ("Data Size (GB)", "data_size_gb",
         f"'Data Size'!C{ds}/1000000000" if ds else None),
        ("Average Uptime", "avg_uptime_sec",
         f"'Node Data'!F{nd}" if nd else None),
    ):
        sh.add_row([label, Formula(expr, s[key]) if expr else s[key]])
    warn = QUERY_REGISTRY["warnings"](spark, sf_dir, cfg).collect()
    if warn:
        cur = None
        for r in warn:
            head = (r["category"], r["check"])
            if head != cur:
                sh.add_row([f"{r['category']} — {r['check']}", None],
                           style=HEADER_STYLE)
                cur = head
            sh.add_row([None, r["message"]])
    else:
        sh.add_row(["No potential guardrail issues identified", None])

    # the reference renders this as a textbox (explore.py:173-205,
    # 1846); the dependency-free OOXML writer renders the same content
    # as cells — content parity, not drawing parity
    t = cfg.thresholds
    sh.add_row([None, None])
    sh.add_row(["Astra Guardrail Limits", None], style=HEADER_STYLE)
    for line in (
        f"{t.gr_mv} materialized views per table",
        f"{t.gr_si} secondary index per table",
        f"{t.gr_sai} storage-attached indexes per table",
        f"{t.gr_tblcnt} tables in a cluster",
        f"{t.gr_colcnt} columns in a table",
        f"{t.gr_lpar_mb} MB partition size",
        "This sheet is intended to be used as a guide; see the current "
        "Astra guardrails documentation for authoritative limits.",
    ):
        sh.add_row([None, line])


def _fmt_uptime(sec) -> str | None:
    """Seconds → 'D days hh:mm:ss': the cached fallback value for the
    uptime formula cells."""
    if sec is None:
        return None
    d, rem = divmod(int(sec), 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"{d} days {h:02d}:{m:02d}:{s:02d}"


def _uptime_formula(cell: str) -> str:
    """The reference's uptime-format expression (explore.py:1554),
    parameterized on the seconds cell it reads."""
    return (f'INT({cell}/86400) & " days " & '
            f'TEXT(({cell}/86400)-INT({cell}/86400),"hh:mm:ss")')


def _uptime_cell(sec, excel_row: int, col_idx: int) -> Formula | None:
    """Format-uptime formula cell reading the numeric seconds column
    immediately to its left (the tab spec places uptime_sec right
    before the rendered column, the reference's F→G layout)."""
    if sec is None:
        return None
    cell = f"{_col_letter(col_idx - 1)}{excel_row}"
    return Formula(_uptime_formula(cell), _fmt_uptime(sec))


# renderer key → fn(value, excel_row, col_idx) -> cell value
_RENDERERS = {"uptime": _uptime_cell}

# qname → (label, label column idx, [(column idx, agg kind)]): the
# trailing total rows the reference writes as live formulas
# (explore.py:1556-1559 Avg Uptime, 1724 Data Size total, 1758-1760
# Workload totals).  "UPTIME_FMT" renders the same row's numeric
# average through the uptime formula.
TAB_TOTALS: dict[str, tuple[str, int, list[tuple[int, str]]]] = {
    "data_size": ("Total", 0, [(2, "SUM")]),
    "node_data": ("Avg Uptime", 4, [(5, "AVERAGE"), (6, "UPTIME_FMT")]),
}

# Per-tab comment textbox texts (explore.py:443-450 sheet comments,
# 1663 gc_comment), rendered as a trailing row by the OOXML writer.
TAB_COMMENTS = {
    "dropped_mutations": lambda t:
        f"Tables with more than {t.tp_drm:,} dropped mutations. (cfstats)",
    "large_partitions": lambda t:
        f"Tables with partiton sizes greater than {t.tp_lpar_mb}MB. (cfstats)",
    "sstable_count": lambda t:
        f"Tables with number of sstables greater than {t.tp_sstbl}.",
    "read_latency": lambda t:
        f"Tables with read latency greater than {t.tp_rl_ms}ms. (cfstats)",
    "write_latency": lambda t:
        f"Tables with write latency greater than {t.tp_wl_ms}ms. (cfstats)",
    "gc_percentiles": lambda t:
        "NOTE: The GC pauses on this sheet are based on GC pauses over "
        "200ms (default setting).  Pauses under 200ms are not recorded "
        "in the system logs.",
}


def _workload_sheet(wb: Workbook, reads: DataFrame, writes: DataFrame,
                    cluster: str) -> dict[str, int]:
    """The reference's two-block Workload tab (explore.py:1693-1695,
    1730-1790): merged tab title over A1:M1, merged 'Reads'/'Writes'
    block titles, reads in columns A-F and writes in H-M with a spacer
    at G.  The blocks have independent lengths and each ends with its
    own Total row of live SUM formulas (requests, TPS, % RW —
    explore.py:1758-1760), cached with the Spark-computed values.
    Returns the Excel row numbers of the two total rows (the Astra
    Metrics scalars anchor to them)."""
    half_r = ["Keyspace", "Table", "Read Requests", "Read TPS",
              "% Reads", "% RW"]
    half_w = ["Keyspace", "Table", "Write Requests", "Write TPS",
              "% Writes", "% RW"]
    sh = wb.add_sheet("Workload", freeze_rows=3,
                      col_widths=[14, 25, 14, 10, 10, 10, 3,
                                  14, 25, 14, 10, 10, 10])
    sh.add_row([f"Workload for {cluster}"], style=HEADER_STYLE)
    sh.add_merge("A1:M1")
    sh.add_row(["Reads"] + [None] * 6 + ["Writes"], style=HEADER_STYLE)
    sh.add_merge("A2:F2")
    sh.add_merge("H2:M2")
    sh.add_row(half_r + [None] + half_w, style=HEADER_STYLE)

    r_cols = ["ks", "tbl", "read_requests", "avg_read_tps",
              "pct_reads", "r_pct_rw"]
    w_cols = ["ks", "tbl", "write_requests", "avg_write_tps",
              "pct_writes", "w_pct_rw"]
    r_rows, w_rows = reads.collect(), writes.collect()

    def _total_cells(rows, cols, letters, n):
        """('Total', SUMs...) for one block; cached values recomputed
        from the collected rows."""
        cells = [("Total", HEADER_STYLE), (None, 0)]
        for li, col in zip(letters, cols[2:]):
            data = [row[col] for row in rows if row[col] is not None]
            cached = sum(data) if data else 0
            if col in (cols[4],):  # % of own side: always sums to ~1,
                cells.append((None, 0))  # the reference totals only
                continue                  # requests, TPS, % RW
            if n == 0:
                # a zero-row block would emit a reversed range
                # (SUM(C4:C3)) that some readers treat as an error —
                # write the literal 0 instead
                cells.append((0, HEADER_STYLE))
                continue
            cells.append(
                (Formula(f"SUM({li}4:{li}{n + 3})", cached), HEADER_STYLE))
        return cells

    n_grid = max(len(r_rows), len(w_rows)) + 1  # +1 for each Total row
    grid: list[list[tuple]] = []
    for i in range(n_grid):
        left: list[tuple] = [(None, 0)] * 6
        right: list[tuple] = [(None, 0)] * 6
        if i < len(r_rows):
            left = [(r_rows[i][c], 0) for c in r_cols]
        elif i == len(r_rows):
            left = _total_cells(r_rows, r_cols, "CDEF", len(r_rows))
        if i < len(w_rows):
            right = [(w_rows[i][c], 0) for c in w_cols]
        elif i == len(w_rows):
            right = _total_cells(w_rows, w_cols, "JKLM", len(w_rows))
        sh.add_row_styled(left + [(None, 0)] + right)
    return {
        "workload_reads": len(r_rows) + 4,   # Excel row of the Total
        "workload_writes": len(w_rows) + 4,
    }


def _proxyhist_sheet(wb: Workbook, name: str, df: DataFrame) -> None:
    """The reference's two-column Proxihistogram layout (explore.py:444
    headers, 1395-1396 merged titles): reads in columns A-I, a spacer
    column J, writes in K-S, one merged latency title over each block,
    panes frozen under the dual header row."""
    half = ["Datacenter", "Node", "Max", "P99", "P98", "P95", "P75",
            "P50", "Min"]
    sh = wb.add_sheet(name, freeze_rows=2,
                      col_widths=[20, 20] + [10] * 7 + [3] + [20, 20] + [10] * 7)
    sh.add_row(["Coordinating Node Read Latency (ms)"] + [None] * 9
               + ["Coordinating Node Write Latency (ms)"],
               style=HEADER_STYLE)
    sh.add_merge("A1:I1")
    sh.add_merge("K1:S1")
    sh.add_row(half + [None] + half, style=HEADER_STYLE)
    r_cols = ["read_max_ms", "read_p99_ms", "read_p98_ms", "read_p95_ms",
              "read_p75_ms", "read_p50_ms", "read_min_ms"]
    w_cols = [c.replace("read", "write") for c in r_cols]
    for row in df.collect():
        sh.add_row(
            [row["dc"], row["node"]] + [row[c] for c in r_cols]
            + [None, row["dc"], row["node"]] + [row[c] for c in w_cols])


def _df_sheet(wb: Workbook, name: str, df: DataFrame,
              cols: list[tuple], comment: str | None = None,
              totals: tuple[str, int, list[tuple[int, str]]] | None = None,
              ) -> int | None:
    """Render one collected query as a tab; returns the Excel row
    number of the trailing total row (or None if no totals spec)."""
    sh = wb.add_sheet(name, freeze_rows=1,
                      col_widths=[18] * len(cols))
    sh.add_row([spec[0] for spec in cols], style=HEADER_STYLE)
    rows = df.collect()
    for i, row in enumerate(rows):
        sh.add_row([
            _RENDERERS[spec[2]](row[spec[1]], i + 2, c) if len(spec) > 2
            else row[spec[1]]
            for c, spec in enumerate(cols)
        ])
    total_row = None
    if totals and rows:
        label, label_idx, aggs = totals
        n = len(rows)
        total_row = n + 2  # header is Excel row 1, data rows 2..n+1
        vals: list[object] = [None] * len(cols)
        vals[label_idx] = label
        for col_idx, kind in aggs:
            letter = _col_letter(col_idx)
            rng = f"{letter}2:{letter}{n + 1}"
            data = [row[cols[col_idx][1]] for row in rows]
            nn = [v for v in data if v is not None]
            if kind == "SUM":
                vals[col_idx] = Formula(f"SUM({rng})", sum(nn) if nn else 0)
            elif kind == "AVERAGE":
                vals[col_idx] = Formula(
                    f"AVERAGE({rng})", sum(nn) / len(nn) if nn else 0)
            elif kind == "UPTIME_FMT":
                cell = f"{_col_letter(col_idx - 1)}{total_row}"
                vals[col_idx] = Formula(
                    _uptime_formula(cell),
                    _fmt_uptime(sum(nn) / len(nn)) if nn else None)
        sh.add_row(vals, style=HEADER_STYLE)
    if comment:
        sh.add_row([comment])
    return total_row


def write_workbook(spark: SparkSession, sf_dir: str, out_path: str,
                   cfg=None) -> str:
    """Render the full report workbook; returns the path written.

    ``cfg`` carries the reference's CLI-tunable parameters (threshold
    overrides after guardrail clamping, the -incl_sys toggle); every
    tab query accepts it positionally."""
    from astra_perseverance_spark.config import DEFAULT_CONFIG
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    cfg = cfg or DEFAULT_CONFIG
    wb = Workbook()
    # metrics tab holds workbook position 1 but is filled last — its
    # summary formulas reference the other tabs' total-row anchors
    metrics = wb.add_sheet("Astra Metrics", freeze_rows=1,
                           col_widths=[30, 60])
    anchors: dict[str, int] = {}
    for tab, qname, cols in TAB_REGISTRY:
        if qname == "__workload__":
            anchors.update(_workload_sheet(
                wb,
                QUERY_REGISTRY["workload_reads"](spark, sf_dir, cfg),
                QUERY_REGISTRY["workload_writes"](spark, sf_dir, cfg),
                os.path.splitext(os.path.basename(out_path))[0]
                .removesuffix("_astra_chart")))
            continue
        df = QUERY_REGISTRY[qname](spark, sf_dir, cfg)
        if qname == "proxyhistograms_ms":
            _proxyhist_sheet(wb, tab, df)
            continue
        if qname == "data_size":
            # the query's own grand-total row (ks = tbl = ''): the tab's
            # live SUM row replaces it, and rendered it would sit inside
            # the SUM range and double the total
            df = df.filter("ks != '' OR tbl != ''")
        comment = TAB_COMMENTS.get(qname)
        total_row = _df_sheet(
            wb, tab, df, cols,
            comment(cfg.thresholds) if comment else None,
            TAB_TOTALS.get(qname))
        if total_row:
            anchors[qname] = total_row
    _metrics_sheet(metrics, spark, sf_dir, cfg, anchors)
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    wb.save(out_path)
    return out_path


def write_summary_json(spark: SparkSession, sf_dir: str, out_path: str,
                       cfg=None) -> str:
    """S12: the canonical nested summary.json (explore.py:1851-1854)."""
    from astra_perseverance_spark.config import DEFAULT_CONFIG
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    cfg = cfg or DEFAULT_CONFIG
    doc = QUERY_REGISTRY["summary_json"](spark, sf_dir, cfg).collect()[0][0]
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write(doc)
    json.loads(doc)  # sanity: the sink only ever writes valid JSON
    return out_path


def write_report(spark: SparkSession, sf_dir: str, out_dir: str,
                 cluster_name: str = "cluster", cfg=None) -> dict[str, str]:
    """The reference's two artifacts (explore.py:1124, 1853):
    <name>_astra_chart.xlsx + summary.json."""
    os.makedirs(out_dir, exist_ok=True)
    return {
        "xlsx": write_workbook(
            spark, sf_dir,
            os.path.join(out_dir, f"{cluster_name}_astra_chart.xlsx"), cfg),
        "summary_json": write_summary_json(
            spark, sf_dir, os.path.join(out_dir, "summary.json"), cfg),
    }
