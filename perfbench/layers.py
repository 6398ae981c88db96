"""The traced run: spans at CLI-command and layer-probe boundaries.

Spans are kept in memory (name, start, end, parent, attributes) and
written out once at the end of the run. Each CLI command span carries the
Spark status REST API's job/stage/task counters, diffed around the call
(the approach of ``tools/shuffle_probe.py``). Layer probes are direct,
single-thread calls into each layer's public functions over the same tree.

Layers, by module: session (``session``), CLI (``__main__``), Spark
scheduling (jobs, stages, tasks), Index.db parse
(``sources.sstable_binary``), chunk decode (``sources.lz4_block``), cell
decode (``sources.cellwalk``, ``sources.data_cells``), component parsers
(``sources.statistics_db``, ``sources.bloom``, ``sources.summary_db``),
point reads (``sources.lookup``), writer (``sources.pyds_writer``), merge
(``operators.purge``) and compaction (``operators.compaction``).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
import urllib.request
from datetime import datetime

import gen
import worker

COMMANDS = ("summary", "sstables", "pstats", "cfstats", "purge", "lookup",
            "compact")
# direct layer probes are repeated and report their median time
PROBE_REPEATS = 3
# sstable format version of every file the engine's writer produces
VERSION = "nb"
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_mb", "pre_job_s",
                "post_job_s", "idle_core_s")


def _epoch(stamp: str) -> float:
    """Spark REST time ('2026-01-02T03:04:05.678GMT') -> epoch seconds."""
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkStatus:
    """Job, stage and task counters from the status REST API."""

    def __init__(self, sc):
        if sc.uiWebUrl is None:
            raise SystemExit("the traced run needs the Spark UI REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism
        # the first request pays the REST servlet's lazy start (about 2 s):
        # make it here, outside every span and timed operation
        self.snapshot()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def snapshot(self) -> tuple[set, set]:
        return ({j["jobId"] for j in self._get("jobs")},
                {(s["stageId"], s["attemptId"]) for s in self._get("stages")})

    def diff(self, before, t0: float, t1: float) -> dict:
        """Counters of the jobs that ran between ``before`` and now; ``t0``
        and ``t1`` are the call's epoch start and end."""
        jobs: list = []
        for _ in range(100):  # the listener bus delivers asynchronously
            jobs = [j for j in self._get("jobs")
                    if j["jobId"] not in before[0]]
            if all(j["status"] != "RUNNING" and "completionTime" in j
                   for j in jobs):
                break
            time.sleep(0.05)
        stages = [s for s in self._get("stages")
                  if (s["stageId"], s["attemptId"]) not in before[1]
                  and s["status"] == "COMPLETE"]
        run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
        wall = t1 - t0
        subs = [_epoch(j["submissionTime"]) for j in jobs
                if "submissionTime" in j]
        ends = [_epoch(j["completionTime"]) for j in jobs
                if "completionTime" in j]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "executor_run_s": run_s,
            "executor_cpu_s":
                sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_mb": sum(s.get("shuffleReadBytes", 0)
                              + s.get("shuffleWriteBytes", 0)
                              for s in stages) / 1e6,
            "pre_job_s": (min(subs) - t0) if subs else wall,
            "post_job_s": (t1 - max(ends)) if ends else wall,
            "idle_core_s": wall * self.cores - run_s,
        }


class Tracer:
    def __init__(self, spark, get_spark_s: float):
        self.spark = spark
        self.status = SparkStatus(spark.sparkContext)
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.cmd: dict[str, list[dict]] = {}
        self.spans.append({"id": 0, "parent": None,
                           "name": "session.get_spark", "start": -get_spark_s,
                           "end": 0.0, "attrs": {}})
        self.get_spark_s = get_spark_s

    # -- spans --------------------------------------------------------

    def span(self, name: str, fn):
        """Call ``fn`` inside a span named ``name``; return its result."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "start": time.perf_counter() - self.t0,
               "end": None, "attrs": {}}
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            return fn()
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def cli_hook(self, cmd: str, fn):
        """Wrap one CLI call: a span plus the REST counters around it."""
        before = self.status.snapshot()
        e0 = time.time()
        sid = len(self.spans)
        try:
            return self.span(f"cli.{cmd}", fn)
        finally:
            e1 = time.time()
            rec = self.spans[sid]
            stats = self.status.diff(before, e0, e1)
            rec["attrs"].update(stats)
            self.cmd.setdefault(cmd, []).append(
                {"wall": rec["end"] - rec["start"], **stats})

    # -- commands outside the workload's own operation -----------------

    def remaining_commands(self, wl) -> list[tuple[bool, str]]:
        """Run, traced, once each, every CLI command the workload's own
        operation does not; (ok, first problem) per operation."""
        out: list[tuple[bool, str]] = []
        for name in ("reports", "point_reads", "compact"):
            if name == wl.name:
                continue
            other = worker.Workload(name, wl.tree, wl.truth, wl.truth["seed"],
                                    wl.workdir)
            calls = other.calls()
            problems, _ = self.span(f"op.{name}", lambda: worker.run_op(
                self.spark, calls, self.cli_hook))
            problems += other.after(self.spark, verify=not problems)
            if other.compacted:
                wl.compacted = other.compacted
            out.append((not problems, problems[0] if problems else ""))
        return out

    # -- layer probes -------------------------------------------------

    def probe_layers(self, wl, workdir: str) -> dict:
        from cassandra_sstable_tools_spark.sources import (
            bloom,
            cellwalk,
            data_cells,
            lookup,
            lz4_block,
            sstable_binary,
            statistics_db,
            summary_db,
        )
        from cassandra_sstable_tools_spark.operators.purge import purge_stats
        from cassandra_sstable_tools_spark.sources.pyds_writer import (
            write_sstable,
        )
        from pyspark.sql import functions as F

        m: dict[str, float] = {}
        indexes = sorted(glob.glob(f"{wl.tree}/*/*/*-Index.db"))

        def base(p):
            return p[: -len("Index.db")]

        def read(p):
            with open(p, "rb") as f:
                return f.read()

        def timed(name, fn, repeats=PROBE_REPEATS):
            """(result, median seconds) over ``repeats`` spans of ``fn``."""
            times = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                out = self.span(name, fn)
                times.append(time.perf_counter() - t0)
            return out, statistics.median(times)

        # Index.db parse
        idx_bytes = sum(os.path.getsize(p) for p in indexes)
        entries, m["index.parse_s"] = timed("probe.index", lambda: sum(
            len(sstable_binary.parse_index_db(read(p), VERSION, p))
            for p in indexes))
        m["index.entries"] = entries
        m["index.mb_per_s"] = idx_bytes / 1e6 / m["index.parse_s"]

        # chunk decode over every compressed chunk
        def chunks():
            n = out = 0
            for p in indexes:
                ci = base(p) + "CompressionInfo.db"
                if not os.path.exists(ci):
                    continue
                clen, dlen, maxc, offs, comp = (
                    sstable_binary.parse_compression_info_full(
                        read(ci), VERSION, ci))
                raw = read(base(p) + "Data.db")
                for i, off in enumerate(offs):
                    end = offs[i + 1] if i + 1 < len(offs) else len(raw)
                    want = min(clen, dlen - i * clen)
                    out += len(lz4_block.decode_chunk(
                        raw[off:end], want, maxc, ci, comp))
                    n += 1
            return n, out

        (m["chunk.count"], chunk_out), m["chunk.decode_s"] = timed(
            "probe.chunk", chunks)
        m["chunk.mb_per_s"] = chunk_out / 1e6 / m["chunk.decode_s"]

        # cell decode: C kernel path and interpreted fallback
        m["decode.kernel"] = 1.0 if cellwalk.available() else 0.0
        cells, m["decode.scan_s"] = timed("probe.decode", lambda: sum(
            b.num_rows for p in indexes
            for b in data_cells.scan_sstable_cell_batches(p)))
        m["decode.cells"] = cells
        m["decode.cells_per_s"] = cells / m["decode.scan_s"]
        _, m["decode.interp_s"] = timed("probe.decode_interp", lambda: sum(
            len(data_cells.scan_sstable_cell_rows(p)) for p in indexes))

        # component parsers
        def stats():
            for p in indexes:
                raw = read(base(p) + "Statistics.db")
                statistics_db.parse_statistics_db(raw, VERSION, p)
                statistics_db.parse_serialization_header(raw, VERSION, p)

        _, m["stats.parse_s"] = timed("probe.stats", stats)
        filters, m["bloom.parse_s"] = timed("probe.bloom_parse", lambda: [
            bloom.parse_filter_db(read(base(p) + "Filter.db"), p)
            for p in indexes])
        rng = random.Random(wl.truth["seed"])
        present = [k.encode() for k in rng.sample(sorted(wl.present), 512)]
        absent = [f"a{rng.randrange(10_000_000):07d}".encode()
                  for _ in range(512)]

        def probe():
            rejected = 0
            for f in filters:
                bloom.might_contain_batch(f, present)
                rejected += int((~bloom.might_contain_batch(f, absent)).sum())
            return rejected

        rejected, m["bloom.probe_s"] = timed("probe.bloom_probe", probe)
        m["bloom.absent_skip_ratio"] = rejected / (len(absent) * len(filters))
        _, m["summary.parse_s"] = timed("probe.summary", lambda: [
            summary_db.parse_summary_db(read(base(p) + "Summary.db"), p)
            for p in indexes])
        _, m["lookup.ctx_open_s"] = timed("probe.lookup_ctx", lambda: [
            lookup._sstable_ctx(p, VERSION) for p in indexes])

        # point-read audit over one request's keys: exact byte counts
        keys = wl.request_keys()
        found = F.col("found")
        audit, _ = timed("probe.lookup_audit", repeats=1, fn=lambda: (
            lookup.lookup_audit(self.spark, wl.tree, keys).agg(
                F.sum("index_bytes_read"), F.sum("data_bytes_read"),
                F.sum(found.cast("int")),
                F.countDistinct(F.when(found, F.col("partition_key"))),
            ).collect()[0]))
        m["lookup.index_bytes_per_key"] = audit[0] / len(keys)
        m["lookup.data_bytes_per_key"] = audit[1] / len(keys)
        m["lookup.sstables_read_per_key"] = audit[2] / len(keys)
        m["lookup.found_ratio"] = audit[3] / len(keys)

        # merge over a checkpointed decoded frame
        frame = data_cells._purge_partitioned(
            data_cells._decoded_purge_cells(self.spark, wl.tree))
        frame = frame.localCheckpoint(eager=True)
        _, m["merge.s"] = timed("probe.merge", repeats=3, fn=lambda: (
            purge_stats(frame).agg(F.sum("merged_size")).collect()))

        # writer: a fixed seeded record set
        per_sst, _ = gen.table_rows(
            random.Random(12345), "writer", ("c0", "c1"), n_keys=1500)
        recs = [r for rows in per_sst for r in rows]
        dest = os.path.join(workdir, "out", f"writer-{os.getpid()}")
        shutil.rmtree(dest, ignore_errors=True)
        try:
            written, m["writer.encode_s"] = timed(
                "probe.writer", repeats=3, fn=lambda: write_sstable(
                    recs, os.path.join(dest, "wks", "wtb"), "1")[0])
            m["writer.mb_out"] = sum(
                os.path.getsize(p) for p in written) / 1e6
        finally:
            shutil.rmtree(dest, ignore_errors=True)
        m["writer.cells_per_s"] = len(recs) / m["writer.encode_s"]

        m["session.start_s"] = self.get_spark_s
        m["compact.mb_in"] = wl.truth["data_bytes"] / 1e6
        m["compact.mb_out"] = wl.compacted["mb_out"]
        m["compact.sstables_out"] = wl.compacted["sstables_out"]
        for cmd in COMMANDS:
            samples = self.cmd.get(cmd, [])
            if not samples:
                continue
            m[f"cli.{cmd}_s"] = statistics.median(s["wall"] for s in samples)
            for f in SPARK_FIELDS:
                m[f"spark.{cmd}.{f}"] = statistics.median(
                    s[f] for s in samples)
        return m

    def record(self, workload: str, truth: dict, metrics: dict) -> dict:
        """The per-run layer record: tree identity, metrics, spans."""
        return {
            "workload": workload,
            "seed": truth["seed"],
            "tree": gen.summary(truth),
            "metrics": metrics,
            "spans": self.spans,
        }
