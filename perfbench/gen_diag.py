"""Seeded Cassandra diagnostic tree for the ``diag_report`` workload.

Writes the reference input layout under ``<out>/tree``::

    nodes/<node_dir>/nodetool/{cfstats,info,status,describecluster,
                               gossipinfo,version,proxyhistograms}
    nodes/<node_dir>/driver/schema
    nodes/<node_dir>/logs/cassandra/system.log[.zip]

and ``<out>/truth.json`` with the ground truth the output checks
compare against.  Node directories cycle through the four naming
styles the parser resolves (IP, ``_`` and ``-`` separated IPs, and a
bare hostname resolved through gossipinfo); every third node's log is
zip-compressed.  One extra status row names a node with no directory,
so the report carries a 'Missing Node Data' warning.

Every keyspace uses NetworkTopologyStrategy, so a table's
RF-normalised size is its summed live bytes over the summed per-DC
replication factors.  The same arguments give byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import zipfile

CLUSTER = "BenchCluster"
# zip members carry this fixed timestamp so archives are reproducible
ZIP_TIME = (2023, 4, 1, 0, 0, 0)


def _node_dir(i: int, ip: str) -> str:
    style = i % 4
    if style == 0:
        return ip
    if style == 1:
        return ip.replace(".", "_")
    if style == 2:
        return ip.replace(".", "-")
    return f"host{i}"


def _status(nodes: list[dict], dcs: list[str], missing_ip: str) -> str:
    out = []
    for dc in dcs:
        out += [
            f"Datacenter: {dc}",
            "=" * 15,
            "Status=Up/Down",
            "|/ State=Normal/Leaving/Joining/Moving",
            "--  Address    Load       Tokens       Owns (effective)  "
            "Host ID                               Rack",
        ]
        for n in nodes:
            if n["dc"] == dc:
                out.append(
                    f"UN  {n['ip']}  {n['load_kib']:.2f} KiB  16           "
                    f"50.0%             {n['host_id']}  {n['rack']}")
        if dc == dcs[-1]:
            out.append(
                f"DN  {missing_ip}  0.00 KiB  16           0.0%              "
                "00000000-0000-0000-0000-000000009999  rack9")
        out.append("")
    return "\n".join(out) + "\n"


def _gossip(nodes: list[dict]) -> str:
    out = []
    for n in nodes:
        prefix = n["dir"] if n["dir"].startswith("host") else ""
        out += [
            f"{prefix}/{n['ip']}",
            "  generation:1673973240",
            "  heartbeat:273756",
            "  STATUS:16:NORMAL,-9223372036854775808",
            f"  DC:8:{n['dc']}",
            f"  RACK:10:{n['rack']}",
            "  RELEASE_VERSION:4:4.0.7",
        ]
    return "\n".join(out) + "\n"


def _info(n: dict) -> str:
    return "\n".join([
        f"ID                     : {n['host_id']}",
        "Gossip active          : true",
        f"Uptime (seconds)       : {n['uptime']}",
        f"Data Center            : {n['dc']}",
        f"Rack                   : {n['rack']}",
        "Exceptions             : 0",
    ]) + "\n"


def _cfstats(n: dict, keyspaces: dict[str, list[str]], stats: dict) -> str:
    total = 1 + sum(len(t) for t in keyspaces.values())
    out = [f"Total number of tables: {total}", "----------------"]
    for ks, tables in [("system", ["local"])] + list(keyspaces.items()):
        out += [f"Keyspace : {ks}", "\tRead Count: 1000",
                "\tWrite Count: 2000"]
        for tbl in tables:
            s = stats[(n["ip"], ks, tbl)]
            out += [
                f"\t\tTable: {tbl}",
                f"\t\tSSTable count: {s['sstables']}",
                f"\t\tSpace used (live): {s['live']}",
                f"\t\tSpace used (total): {s['live'] + 1000}",
                f"\t\tCompacted partition maximum bytes: {s['max_part']}",
                f"\t\tLocal read count: {s['reads']}",
                f"\t\tLocal read latency: {s['read_ms']:.3f} ms",
                f"\t\tLocal write count: {s['writes']}",
                f"\t\tLocal write latency: {s['write_ms']:.3f} ms",
                f"\t\tDropped Mutations: {s['dropped']}",
                "",
            ]
    return "\n".join(out) + "\n"


def _proxyhist(rng: random.Random) -> str:
    out = [
        "proxy histograms",
        "Percentile       Read Latency      Write Latency      Range Latency",
        "                     (micros)           (micros)           (micros)",
    ]
    base = rng.uniform(300, 900)
    for pct, mult in (("50%", 1.0), ("75%", 1.5), ("95%", 3.0),
                      ("98%", 4.5), ("99%", 6.0), ("Min", 0.1),
                      ("Max", 20.0)):
        r, w = base * mult, base * mult * 1.2
        out.append(f"{pct:<12} {r:>15.2f} {w:>18.2f} {r:>18.2f}")
    return "\n".join(out) + "\n"


def _schema(keyspaces: dict[str, list[str]], rf: dict[str, int]) -> str:
    out = ["CREATE KEYSPACE system WITH replication = "
           "{'class': 'LocalStrategy'}  AND durable_writes = true;", ""]
    reps = ", ".join(f"'{dc}': '{r}'" for dc, r in rf.items())
    for ks, tables in keyspaces.items():
        out += [f"CREATE KEYSPACE {ks} WITH replication = {{'class': "
                f"'NetworkTopologyStrategy', {reps}}}  AND durable_writes "
                "= true;", ""]
        for tbl in tables:
            out += [f"CREATE TABLE {ks}.{tbl} (",
                    "    id uuid,", "    ts timestamp,", "    val text,",
                    "    PRIMARY KEY (id, ts)",
                    ") WITH CLUSTERING ORDER BY (ts DESC)",
                    "    AND bloom_filter_fp_chance = 0.01;", ""]
    return "\n".join(out)


def _syslog(rng: random.Random, keyspaces: dict[str, list[str]],
            lines: int, gc: list[int], tomb: list[tuple]) -> str:
    """``lines`` log lines: mostly filler, with GC-pause and tombstone
    warnings mixed in.  Each GC line gets its own minute, so the
    engine's minute-truncated timestamps never merge two pauses."""
    out = []
    tables = [(ks, t) for ks, ts in keyspaces.items() for t in ts]
    for i in range(lines):
        day, minute = 1 + i // 1440 % 28, i % 1440
        stamp = f"2023-04-{day:02d} {minute // 60:02d}:{minute % 60:02d}:07,123"
        kind = rng.random()
        if kind < 0.15:
            pause = rng.randint(201, 1500)
            gc.append(pause)
            out.append(f"INFO  [Service Thread] {stamp} GCInspector.java:284 "
                       f"- ParNew GC in {pause}ms.  CMS Old Gen: 378183216 "
                       "-> 378196712;")
        elif kind < 0.20:
            ks, tbl = rng.choice(tables)
            live, dead = rng.randint(1, 500), rng.randint(100, 5000)
            tomb.append((ks, tbl, live, dead))
            out.append(f"WARN  [ReadStage-2] {stamp} ReadCommand.java:569 - "
                       f"Read {live} live rows and {dead} tombstone cells "
                       f"for query SELECT * FROM {ks}.{tbl} WHERE id = 42 "
                       "LIMIT 5000 (see tombstone_warn_threshold)")
        else:
            out.append(f"INFO  [CompactionExecutor:{i % 4}] {stamp} "
                       f"CompactionTask.java:241 - Compacted "
                       f"{rng.randint(2, 8)} sstables to {rng.randint(1, 9)}")
    return "\n".join(out) + "\n"


def generate(out_dir: str, seed: int, nodes: int = 4, dcs: int = 2,
             keyspaces: int = 2, tables: int = 3,
             log_lines: int = 400) -> dict:
    """Write the tree and its truth file; return the truth dict."""
    if nodes < dcs:
        raise ValueError("need at least one node per DC")
    rng = random.Random(seed)
    dc_names = [f"dc{d + 1}" for d in range(dcs)]
    node_list = []
    for i in range(nodes):
        d = i % dcs
        ip = f"10.{d + 1}.0.{i // dcs + 1}"
        node_list.append({
            "ip": ip, "dc": dc_names[d], "rack": f"rack{i % 3 + 1}",
            "dir": _node_dir(i, ip), "uptime": rng.randint(3600, 9_000_000),
            "host_id": f"00000000-0000-0000-0000-{i + 1:012d}",
            "load_kib": rng.uniform(100, 900),
        })
    ks_map = {f"ks{k}": [f"t{k}_{t}" for t in range(tables)]
              for k in range(keyspaces)}
    rf = {dc: rng.randint(1, 3) for dc in dc_names}
    stats = {}
    for n in node_list:
        for ks, tbls in [("system", ["local"])] + list(ks_map.items()):
            for tbl in tbls:
                stats[(n["ip"], ks, tbl)] = {
                    "sstables": rng.randint(1, 40),
                    "live": rng.randint(10_000, 50_000_000),
                    "max_part": rng.randint(1_000, 300_000_000),
                    "reads": rng.randint(0, 100_000),
                    "writes": rng.randint(0, 100_000),
                    "read_ms": rng.uniform(0.01, 150),
                    "write_ms": rng.uniform(0.01, 150),
                    "dropped": rng.randint(0, 200_000),
                }
    missing_ip = f"10.{dcs}.9.9"
    root = os.path.join(out_dir, "tree")
    gc_by_dc: dict[str, list[int]] = {dc: [] for dc in dc_names}
    tomb: list[tuple] = []
    for i, n in enumerate(node_list):
        base = os.path.join(root, "nodes", n["dir"])
        files = {
            "nodetool/status": _status(node_list, dc_names, missing_ip),
            "nodetool/gossipinfo": _gossip(node_list),
            "nodetool/info": _info(n),
            "nodetool/describecluster":
                f"Cluster Information:\n\tName: {CLUSTER}\n"
                "\tSnitch: GossipingPropertyFileSnitch\n",
            "nodetool/version": "ReleaseVersion: 4.0.7\n",
            "nodetool/cfstats": _cfstats(n, ks_map, stats),
            "nodetool/proxyhistograms": _proxyhist(rng),
            "driver/schema": _schema(ks_map, rf),
        }
        log = _syslog(rng, ks_map, log_lines, gc_by_dc[n["dc"]], tomb)
        for rel, text in files.items():
            os.makedirs(os.path.dirname(os.path.join(base, rel)),
                        exist_ok=True)
            with open(os.path.join(base, rel), "w") as fh:
                fh.write(text)
        logs = os.path.join(base, "logs", "cassandra")
        os.makedirs(logs, exist_ok=True)
        if i % 3 == 2:
            with zipfile.ZipFile(os.path.join(logs, "system.log.zip"),
                                 "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr(zipfile.ZipInfo("system.log", ZIP_TIME), log)
        else:
            with open(os.path.join(logs, "system.log"), "w") as fh:
                fh.write(log)
    total_rf = sum(rf.values())
    sizes = {f"{ks}.{tbl}": sum(stats[(n["ip"], ks, tbl)]["live"]
                                for n in node_list) / total_rf
             for ks, tbls in ks_map.items() for tbl in tbls}
    all_gc = [p for ps in gc_by_dc.values() for p in ps]
    input_bytes = sum(os.path.getsize(os.path.join(cur, f))
                      for cur, _, fs in os.walk(root) for f in fs)
    truth = {
        "cluster": CLUSTER,
        "n_nodes": nodes,
        "dcs": dc_names,
        "avg_uptime_sec": sum(n["uptime"] for n in node_list) / nodes,
        "tables": sorted(sizes),
        "table_size_bytes": sizes,
        "total_size_bytes": sum(sizes.values()),
        "missing_nodes": [missing_ip],
        "gc_pauses": len(all_gc),
        "gc_min_ms": min(all_gc) if all_gc else None,
        "gc_max_ms": max(all_gc) if all_gc else None,
        "gc_pause_ms_total": sum(all_gc),
        "gc_pauses_by_dc": {dc: len(ps) for dc, ps in gc_by_dc.items()},
        "tombstone_events": len(tomb),
        "input_bytes": input_bytes,
        "input_files": sum(len(fs) for _, _, fs in os.walk(root)),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
