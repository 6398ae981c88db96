"""The measured process: one Spark session, one workload, one client.

``run.py`` starts this file as a fresh process per run and reads its event
stream (one JSON object per line) from the file descriptor named by
``--events-fd``. Every operation drives the user-facing CLI entry
``cassandra_sstable_tools_spark.__main__.main(argv, spark)`` against
``--cassandra-dir``, as a node operator would, captures the report text and
checks it against the generator's ground truth.

Operations (closed loop, one client):

- ``point_reads``: one ``lookup -k ...`` request for a fixed-size key
  batch: Zipf-skewed present keys plus a fixed share of absent keys (bloom
  negatives), no ``--merge``.
- ``compact``: one ``compact --out DIR`` run of the whole tree; the output
  is checked, then removed outside the timed region.
- ``reports``: one pass of the five reference commands (summary, sstables,
  pstats, cfstats, purge). Only the traced run uses it.

``--trace 1`` runs the workload untraced and traced, then every other CLI
command and every layer probe (``layers.py``), and writes the span
record.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402

REPORTS = ("summary", "sstables", "pstats", "cfstats", "purge")
KEYS_PER_REQUEST = 16
ABSENT_PER_REQUEST = 4
ZIPF_S = 1.1
# keys of compact's read-equivalence check between a tree and its output
EQUIV_KEYS = 24
# warm operations measured at least, whatever --seconds says
MIN_WARM_OPS = 3
# order of the traced run's untraced (False) and traced (True) warm
# operations: ABBA pairs, so a drift of the box's speed or a late warm-up
# weighs on both sides alike
TRACE_ORDER = (False, True, True, False)
# the traced run starts its last traced/untraced pair only before this
# many seconds of the process's life (compact reaches it at about 60 s,
# point_reads at about 40 s); a slower run skips that pair, so the report
# commands (about 35 s), the other workload's command (5-18 s) and the
# probes (about 17 s) still end inside run.py's deadline
TRACE_LAST_PAIR_BY_S = 60.0
# stop starting operations after this many seconds of the process's life,
# so a run always ends well inside its time limit
HARD_STOP_S = 120.0


# ----------------------------------------------------------------------
# CLI calls and report parsing


def cli(spark, argv: list[str]) -> tuple[int, str]:
    """Run the CLI embedded in ``spark``; return (rc, report text)."""
    from cassandra_sstable_tools_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv, spark)
    return rc, buf.getvalue()


def parse_tables(text: str) -> dict[str, list[dict[str, str]]]:
    """Report text -> {section title: [row dict]} for the ASCII tables."""
    out: dict[str, list[dict[str, str]]] = {}
    title, header = None, None
    for line in text.splitlines():
        if line.startswith("+"):
            continue
        if line.startswith("|"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            if header is None:
                header = cells
            else:
                out[title].append(dict(zip(header, cells)))
        elif line.strip():
            title, header = line.strip(), None
            out[title] = []
    return out


_UNITS = {"B": 1, "kB": 1e3, "MB": 1e6, "GB": 1e9, "TB": 1e12}


def parse_bytes(s: str) -> float:
    num, unit = s.split()
    return float(num) * _UNITS[unit]


def _by_table(rows: list[dict[str, str]]) -> dict[str, list[dict[str, str]]]:
    out: dict[str, list[dict[str, str]]] = {}
    for r in rows:
        out.setdefault(r["table_name"], []).append(r)
    return out


def check_report(cmd: str, text: str, truth: dict) -> list[str]:
    """Mismatches between one report and the generator's ground truth."""
    tabs = parse_tables(text)
    bad: list[str] = []

    def want(what, got, exp):
        if got != exp:
            bad.append(f"{cmd}: {what} = {got}, expected {exp}")

    for table, t in truth["tables"].items():
        if cmd == "summary":
            rows = _by_table(tabs.get("Summary", [])).get(table, [])
            want(f"{table} sstable_count",
                 [int(r["sstable_count"]) for r in rows], [4])
        elif cmd == "sstables":
            rows = _by_table(
                tabs.get("SSTables (directory-derived)", [])).get(table, [])
            want(f"{table} partitions summed over sstables",
                 sum(int(r["partitions"]) for r in rows),
                 t["partition_instances"])
        elif cmd == "pstats":
            rows = _by_table(
                tabs.get("Partition size summary", [])).get(table, [])
            want(f"{table} partitions",
                 [int(r["partitions"]) for r in rows], [t["partitions"]])
        elif cmd == "cfstats":
            tot = _by_table(tabs.get("Totals", [])).get(table, [])
            want(f"{table} totals",
                 [(int(r["partitions"]), int(r["cell_count"]),
                   int(r["tombstone_count"])) for r in tot],
                 [(t["partitions"], t["cells"], t["tombstones"])])
            per = _by_table(tabs.get("Per-SSTable", [])).get(table, [])
            want(f"{table} expiring cells summed over sstables",
                 sum(int(r["expiring_cell_count"]) for r in per), t["ttl"])
        elif cmd == "purge":
            rows = _by_table(tabs.get("Purge totals", [])).get(table, [])
            want(f"{table} partitions",
                 [int(r["partitions"]) for r in rows], [t["partitions"]])
            for r in rows:
                if parse_bytes(r["total_merged"]) > parse_bytes(
                        r["total_size"]):
                    bad.append(f"purge: {table} merged > size ({r})")
    return bad


# ----------------------------------------------------------------------
# Workloads


class Workload:
    """The operations of one workload over one tree."""

    def __init__(self, name: str, tree: str, truth: dict, seed: int,
                 workdir: str):
        self.name = name
        self.tree = tree
        self.truth = truth
        self.rng = random.Random(seed * 7919 + 17)
        present = sorted(
            k for t in truth["tables"].values() for k in t["key_cells"]
        )
        self.rng.shuffle(present)  # Zipf rank order, fixed by the seed
        self.present = present
        acc, self.cum = 0.0, []
        for r in range(1, len(present) + 1):
            acc += 1.0 / r ** ZIPF_S
            self.cum.append(acc)
        self.key_cells = {
            k: n for t in truth["tables"].values()
            for k, n in t["key_cells"].items()
        }
        self.workdir = workdir
        self.out = os.path.join(workdir, "out", f"compact-{os.getpid()}")
        self.compacted: dict[str, float] = {}

    def base(self, cmd: str) -> list[str]:
        return [cmd, "--cassandra-dir", self.tree, "-b"]

    def request_keys(self) -> list[str]:
        keys: list[str] = []
        while len(keys) < KEYS_PER_REQUEST - ABSENT_PER_REQUEST:
            k = self.rng.choices(self.present, cum_weights=self.cum)[0]
            if k not in keys:
                keys.append(k)
        # 'a' is no table's key prefix: every absent key is a bloom negative
        # unless the filter reports a false positive
        keys += [f"a{self.rng.randrange(10_000_000):07d}"
                 for _ in range(ABSENT_PER_REQUEST)]
        return keys

    def calls(self) -> list[tuple[str, list[str], object]]:
        """One operation as (command, argv, checker) CLI calls."""
        if self.name == "reports":
            return [
                (c, self.base(c),
                 lambda text, c=c: check_report(c, text, self.truth))
                for c in REPORTS
            ]
        if self.name == "compact":
            shutil.rmtree(self.out, ignore_errors=True)
            return [("compact", self.base("compact") + ["--out", self.out],
                     self._check_compact)]
        keys = self.request_keys()
        argv = self.base("lookup")
        for k in keys:
            argv += ["-k", k]
        expected = sum(self.key_cells.get(k, 0) for k in keys)

        def check(text: str) -> list[str]:
            got = len(parse_tables(text).get("Per-SSTable records", []))
            return ([] if got == expected else
                    [f"lookup: {got} records, expected {expected}"])

        return [("lookup", argv, check)]

    def _check_compact(self, text: str) -> list[str]:
        from cassandra_sstable_tools_spark.functions.humanize import (
            human_bytes,
        )

        rows = _by_table(parse_tables(text).get("Compaction", []))
        bad = []
        for table, t in self.truth["tables"].items():
            got = [r["bytes_in"] for r in rows.get(table, [])]
            if got != [human_bytes(t["data_bytes"])]:
                bad.append(f"compact: {table} bytes_in {got}, expected "
                           f"{human_bytes(t['data_bytes'])}")
        out_data = glob.glob(f"{self.out}/*/*/*-Data.db")
        self.compacted = {
            "mb_out": sum(os.path.getsize(p) for p in out_data) / 1e6,
            "sstables_out": len(out_data),
        }
        if not out_data:
            bad.append("compact: no output sstables")
        return bad

    def after(self, spark, verify: bool) -> list[str]:
        """Untimed follow-up of one operation. For compact: with
        ``verify``, a layout-independent read-equivalence check (merged
        point reads of a fixed key sample on input and output); then the
        output is removed."""
        if self.name != "compact":
            return []
        from cassandra_sstable_tools_spark.sources.lookup import (
            partition_lookup_merged,
        )
        from pyspark.sql import functions as F

        bad = []
        if verify and os.path.isdir(self.out):
            keys = random.Random(self.truth["seed"]).sample(
                sorted(self.present), EQUIV_KEYS)

            # one action over both sides: rows tagged 0 (input), 1 (output)
            frames = [
                partition_lookup_merged(spark, root, keys)
                .withColumn("_side", F.lit(side))
                for side, root in enumerate((self.tree, self.out))
            ]
            cols = [c for c in frames[0].columns if "sstable" not in c]
            rows = frames[0].unionByName(frames[1]).select(*cols).collect()
            a = sorted(tuple(r)[:-1] for r in rows if r["_side"] == 0)
            b = sorted(tuple(r)[:-1] for r in rows if r["_side"] == 1)
            if a != b or not a:
                bad.append(f"compact: merged read of {len(keys)} keys "
                           f"differs ({len(a)} vs {len(b)} rows)")
        shutil.rmtree(self.out, ignore_errors=True)
        return bad


def run_op(spark, calls, hook=None) -> tuple[list[str], dict]:
    """Run one operation's CLI calls; (problems, per-call wall seconds).
    ``hook(cmd, fn)`` wraps each call (the traced run's spans)."""
    parts: dict[str, float] = {}
    problems: list[str] = []
    for cmd, argv, check in calls:
        t0 = time.perf_counter()
        try:
            if hook is None:
                rc, text = cli(spark, argv)
            else:
                rc, text = hook(cmd, lambda argv=argv: cli(spark, argv))
        except Exception:  # a failed operation is counted, not fatal
            problems.append(f"{cmd}: {traceback.format_exc(limit=3)}")
            continue
        finally:
            parts[cmd] = time.perf_counter() - t0
        if rc != 0:
            problems.append(f"{cmd}: rc={rc}")
        else:
            problems += check(text)
    return problems, parts


# ----------------------------------------------------------------------
# Main


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events-fd", type=int, required=True)
    p.add_argument("--workload", choices=("point_reads", "compact"))
    p.add_argument("--tree")
    p.add_argument("--truth")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--workdir", default=".")
    a = p.parse_args()
    events = os.fdopen(a.events_fd, "w", buffering=1)

    def emit(**ev) -> None:
        events.write(json.dumps(ev) + "\n")
        events.flush()

    t_start = time.perf_counter()
    from cassandra_sstable_tools_spark.session import get_spark
    from cassandra_sstable_tools_spark.sources.pyds import register

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t0
    register(spark)
    emit(ev="ready")
    try:
        with open(a.truth) as f:
            truth = json.load(f)
        wl = Workload(a.workload, a.tree, truth, a.seed, a.workdir)
        me = os.getpid()

        def timed_op(i: int, cold: bool, tracer=None) -> dict:
            calls = wl.calls()
            s0 = procfs.host_steal_s()
            c0, w0 = procfs.tree_cpu_s(me), time.perf_counter()
            if tracer is None:
                problems, parts = run_op(spark, calls)
            else:
                problems, parts = tracer.span(
                    f"op.{wl.name}",
                    lambda: run_op(spark, calls, tracer.cli_hook))
            wall = time.perf_counter() - w0
            cpu = procfs.tree_cpu_s(me) - c0
            steal = procfs.host_steal_s() - s0
            # the cold operation's output is also checked for equivalence
            problems += wl.after(spark, verify=cold and not problems)
            ev = {"ev": "op", "i": i, "cold": cold,
                  "traced": tracer is not None, "wall": wall, "cpu": cpu,
                  "steal": steal,
                  "ok": not problems, "why": problems[0] if problems else "",
                  "parts": parts}
            emit(**ev)
            return ev

        timed_op(0, True)
        first = 1
        if not a.trace:
            t_meas, warm = time.perf_counter(), 0
            while True:
                timed_op(first + warm, False)
                warm += 1
                now = time.perf_counter()
                if now - t_start > HARD_STOP_S:
                    break
                if warm >= MIN_WARM_OPS and now - t_meas >= a.seconds:
                    break
        else:
            import layers

            tracer = layers.Tracer(spark, get_spark_s)
            sides: dict[bool, list[float]] = {False: [], True: []}
            for j, on in enumerate(TRACE_ORDER):
                if (j == len(TRACE_ORDER) - 2 and
                        time.perf_counter() - t_start > TRACE_LAST_PAIR_BY_S):
                    break
                ev = timed_op(first + j, False, tracer if on else None)
                sides[on].append(ev["wall"])
            ratio = (statistics.median(sides[True])
                     / statistics.median(sides[False]))
            first += sum(map(len, sides.values()))
            for j, (ok, why) in enumerate(tracer.remaining_commands(wl)):
                emit(ev="op", i=first + j, cold=False, traced=True,
                     wall=0.0, cpu=0.0, steal=0.0, ok=ok, why=why, parts={})
            metrics = tracer.span(
                "probes", lambda: tracer.probe_layers(wl, a.workdir))
            metrics["trace.overhead_ratio"] = ratio
            record = tracer.record(a.workload, truth, metrics)
            os.makedirs(os.path.join(a.workdir, "records"), exist_ok=True)
            path = os.path.join(a.workdir, "records",
                                f"layers-{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
            emit(ev="layers", metrics=metrics, record=path)
    finally:
        spark.stop()
        emit(ev="done")
        events.close()


if __name__ == "__main__":
    main()
