"""Seeded SSTable-tree generator for the benchmark.

``generate(root, seed)`` writes a Cassandra data directory
``root/<keyspace>/<table>/nb-<id>-big-*`` through the engine's own writer
(``sources.pyds_writer.write_sstable``), so every reader sees real
components, and returns the ground truth the output checks compare
against: per-table partition, cell, tombstone and TTL counts, and the cell
count of every (table, key) pair.

Shape (``SHAPE``): 2 tables x 4 sstables; odd sstables LZ4-compressed,
even ones uncompressed; 30% of each table's partition keys appear in 2 or 3
sstables (a later copy rewrites about half of the earlier clustering rows
with a later write time, so purge and compaction have merge work); about
5% tombstone cells and 10% TTL cells; exponentially distributed rows per
partition, rescaled to the same total for every seed; clustering values
drawn from a 2**40 range, so nearly every row has its own value.

Run directly to write a tree and its ground truth (``--truth FILE``, JSON):
    python3 perfbench/gen.py OUT_DIR --seed 1 --truth truth.json
"""

from __future__ import annotations

import hashlib
import json
import os
import random

KEYSPACE = "perfks"
# table -> regular columns written per clustering row: a wide table and a
# narrow one (one cell per row, so rows and distinct clusterings ~ cells)
TABLES = {"events": ("c0", "c1"), "readings": ("v",)}
SHAPE = {
    "sstables_per_table": 4,
    "partitions_per_table": 600,
    "shared_key_share": 0.30,
    "mean_rows_per_partition": 8.0,
    "tombstone_share": 0.05,
    "ttl_share": 0.10,
    "clustering_range": 1 << 40,
}
# write times sit just before the engine's pinned NOW_SECONDS, so short
# TTLs are already expired and some tombstones are past gc_grace
_BASE_US = 1_699_000_000 * 1_000_000
_SPAN_US = 900_000 * 1_000_000


def table_rows(
    rng: random.Random, table: str, columns: tuple[str, ...],
    n_keys: int = SHAPE["partitions_per_table"],
) -> tuple[list[list[dict]], dict]:
    """Records for each of one table's sstables, and its ground truth."""
    n_sst = SHAPE["sstables_per_table"]
    key_ids = rng.sample(range(10_000_000), n_keys)
    n_shared = int(n_keys * SHAPE["shared_key_share"])
    # the first n_shared keys (a random set) live in 2 and 3 sstables
    # alternately, so every seed writes the same number of instances
    placements = [
        sorted(rng.sample(range(n_sst), 2 + i % 2)) if i < n_shared
        else [rng.randrange(n_sst)]
        for i in range(n_keys)
    ]
    n_inst = sum(len(p) for p in placements)
    # exponential rows per instance, rescaled so that every seed writes
    # the same row total: input size is not a source of run-to-run spread
    target = round(SHAPE["mean_rows_per_partition"] * n_inst)
    draws = [rng.expovariate(1.0) for _ in range(n_inst)]
    scale = (target - n_inst) / sum(draws)
    n_rows_each = [1 + int(d * scale) for d in draws]
    for i in rng.sample(range(n_inst), target - sum(n_rows_each)):
        n_rows_each[i] += 1
    n_rows_iter = iter(n_rows_each)
    per_sst: list[list[dict]] = [[] for _ in range(n_sst)]
    key_cells: dict[str, int] = {}
    truth = {"partitions": n_keys, "partition_instances": n_inst, "rows": 0,
             "cells": 0, "tombstones": 0, "ttl": 0, "shared_keys": n_shared}
    for kid, ssts in zip(key_ids, placements):
        key = f"{table[0]}{kid:07d}"
        clusterings: list[int] = []
        cells = 0
        for pos, s in enumerate(ssts):
            n_rows = next(n_rows_iter)
            keep: list[int] = []
            if pos:
                # a later sstable rewrites about half of the earlier rows
                keep = rng.sample(clusterings,
                                  min(len(clusterings) // 2, n_rows))
            rows_cl = sorted(set(keep + [
                rng.randrange(SHAPE["clustering_range"])
                for _ in range(n_rows - len(keep))]))
            clusterings = rows_cl
            truth["rows"] += len(rows_cl)
            wt_lo = _BASE_US + pos * _SPAN_US // 3
            out = per_sst[s]
            for cl in rows_cl:
                for col in columns:
                    wt = wt_lo + rng.randrange(_SPAN_US // 3)
                    u = rng.random()
                    rec = {
                        "partition_key": key, "kind": "CELL",
                        "clustering": str(cl), "column_name": col,
                        "cell_path": None, "writetime": wt, "ttl": None,
                        "local_deletion_time": None, "is_tombstone": False,
                        "is_expiring": False, "is_counter": False,
                        "cell_value": rng.randrange(1 << 40),
                        "range_start": None, "range_end": None,
                    }
                    if u < SHAPE["tombstone_share"]:
                        rec["is_tombstone"] = True
                        rec["cell_value"] = None
                        rec["local_deletion_time"] = wt // 1_000_000
                        truth["tombstones"] += 1
                    elif u < SHAPE["tombstone_share"] + SHAPE["ttl_share"]:
                        ttl = rng.choice((3600, 86400, 604800, 2592000))
                        rec["ttl"] = ttl
                        rec["is_expiring"] = True
                        rec["local_deletion_time"] = wt // 1_000_000 + ttl
                        truth["ttl"] += 1
                    out.append(rec)
                    cells += 1
        key_cells[key] = cells
        truth["cells"] += cells
    return per_sst, {**truth, "key_cells": key_cells}


def tree_sha256(root: str) -> str:
    """Digest over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        _dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(root: str, seed: int) -> dict:
    """Write the tree for ``seed`` under ``root``; return its ground truth."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    rng = random.Random(seed)
    truth: dict = {"seed": seed, "tables": {}}
    for table, columns in TABLES.items():
        per_sst, t = table_rows(rng, table, columns)
        out_dir = os.path.join(root, KEYSPACE, table)
        t["data_bytes"] = 0
        for i, rows in enumerate(per_sst, start=1):
            written, _ = write_sstable(
                rows, out_dir, sstable_id=str(i),
                compression="lz4" if i % 2 else "none",
            )
            t["data_bytes"] += sum(os.path.getsize(p) for p in written
                                   if p.endswith("-Data.db"))
        truth["tables"][table] = t
    truth["data_bytes"] = sum(
        t["data_bytes"] for t in truth["tables"].values())
    truth["sha256"] = tree_sha256(root)
    truth["disk_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs
    )
    return truth


def summary(truth: dict) -> dict:
    """The truth without the per-key map: what a run records."""
    return {
        "sha256": truth["sha256"],
        "data_bytes": truth["data_bytes"],
        "disk_bytes": truth["disk_bytes"],
        "tables": {
            t: {k: v for k, v in d.items() if k != "key_cells"}
            for t, d in truth["tables"].items()
        },
    }


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--truth", default=None)
    a = p.parse_args()
    tr = generate(a.out, a.seed)
    # build the C cell-walk kernel into its cache now, so that no timed
    # operation pays the compile
    from cassandra_sstable_tools_spark.sources import cellwalk

    cellwalk.available()
    if a.truth:
        with open(a.truth, "w") as f:
            json.dump(tr, f)
    print(json.dumps(summary(tr)))
