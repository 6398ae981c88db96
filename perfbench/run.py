"""Seeded end-to-end benchmark of the sstable-tools CLI over a generated tree.

    python3 perfbench/run.py --workload compact --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. generates the seeded SSTable tree (``gen.py``), or reuses the copy
   cached under ``.bench_build/perfbench/trees`` whose key hashes the seed,
   the generator and the package source; generation is timed into no
   metric, and the tree's sha256 and counts are printed with the result;
2. starts ``worker.py`` as one fresh process, which brings up the Spark
   session, runs one cold operation and then warm operations in a closed
   loop for ``--seconds`` (at least a fixed number of them), checking every
   report against the generator's ground truth;
3. samples the memory (PSS) of the worker's process tree (driver
   Python, JVM, Python workers) from /proc while it runs;
4. prints a detail line, then one JSON result line: the ``end_to_end``
   metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics
   with ``--trace 1``.

The deployment settings the program gets (cores, driver heap, Spark local
dir) come from this script's own arguments, which BENCHMARK.json fixes.
Everything a run writes stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procfs  # noqa: E402

PACKAGE = "cassandra_sstable_tools_spark"
WORK = os.path.join(".bench_build", "perfbench")
# a run never takes longer than this; the worker stops starting
# operations well before it
DEADLINE_S = 170.0
TREES_KEPT = 32
SAMPLE_S = 0.5


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest(root: str, seed: int) -> str:
    """Cache key of one generated tree: seed, generator and package source
    (the writer is package code), so a changed generator or writer never
    reuses a stale tree."""
    h = hashlib.sha256(f"seed={seed}\n".encode())
    files = [os.path.join(HERE, "gen.py")]
    for d, dirs, fs in os.walk(os.path.join(root, PACKAGE)):
        dirs.sort()
        files += [os.path.join(d, f) for f in sorted(fs)
                  if f.endswith((".py", ".c"))]
    for p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def tree_for(root: str, seed: int, env: dict) -> tuple[str, str, float]:
    """(tree dir, truth file, generation seconds; 0 when cached)."""
    trees = os.path.join(root, WORK, "trees")
    slot = os.path.join(trees, source_digest(root, seed))
    truth = os.path.join(slot, "truth.json")
    if os.path.exists(truth):
        os.utime(slot)
        return os.path.join(slot, "tree"), truth, 0.0
    shutil.rmtree(slot, ignore_errors=True)
    tmp = slot + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"),
         os.path.join(tmp, "tree"), "--seed", str(seed),
         "--truth", os.path.join(tmp, "truth.json")],
        check=True, env=env, cwd=os.path.join(root, WORK),
        stdout=subprocess.DEVNULL, timeout=120,
    )
    gen_s = time.perf_counter() - t0
    os.replace(tmp, slot)
    old = sorted((os.path.getmtime(os.path.join(trees, d)), d)
                 for d in os.listdir(trees))
    for _, d in old[:-TREES_KEPT]:
        shutil.rmtree(os.path.join(trees, d), ignore_errors=True)
    return os.path.join(slot, "tree"), truth, gen_s


class Worker:
    """One worker process, its event stream and its tree's memory
    samples."""

    def __init__(self, root: str, env: dict, args: list[str], log: str):
        self.r, w = os.pipe()
        self.t0 = time.perf_counter()
        with open(log, "w") as logf:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--events-fd", str(w), *args],
                pass_fds=(w,), env=env, cwd=os.path.join(root, WORK),
                stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                start_new_session=True,
            )
        os.close(w)
        # (seconds since start, {kind: PSS bytes})
        self.mem: list[tuple[float, dict]] = []
        # set once the Spark session is up: reading smaps_rollup takes the
        # mmap lock of a JVM that is still mapping its heap, so set-up is
        # not sampled (no per-operation peak needs it)
        self.ready = threading.Event()
        self.stop = threading.Event()
        self.sampler = threading.Thread(target=self._sample, daemon=True)
        self.sampler.start()
        self.buf = b""

    def _sample(self) -> None:
        # reading smaps_rollup walks the JVM's page tables (about 18 ms of
        # CPU per tree sample), so sample at 2 Hz, not faster
        self.ready.wait()
        while not self.stop.wait(SAMPLE_S):
            kinds = procfs.tree_pss_bytes(self.proc.pid)
            self.mem.append((time.perf_counter() - self.t0,
                             {**kinds, "total": sum(kinds.values())}))

    def events(self, deadline: float):
        """Yield (arrival seconds since start, event) until EOF."""
        while True:
            while b"\n" in self.buf:
                line, self.buf = self.buf.split(b"\n", 1)
                t, ev = time.perf_counter() - self.t0, json.loads(line)
                if ev["ev"] == "ready":
                    self.ready.set()
                yield t, ev
            left = deadline - time.perf_counter()
            if left <= 0:
                raise TimeoutError("worker exceeded the run deadline")
            ready, _, _ = select.select([self.r], [], [], min(left, 1.0))
            if ready:
                chunk = os.read(self.r, 1 << 16)
                if not chunk:
                    return
                self.buf += chunk

    def close(self) -> int:
        """Wait for the worker, then end and reap its whole process group."""
        try:
            rc = self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            rc = -9
        self.stop.set()
        self.ready.set()
        self.sampler.join()
        pgid = self.proc.pid
        for _ in range(100):
            if not procfs.group_pids(pgid):
                break
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        if self.proc.returncode is None:
            self.proc.wait()
        os.close(self.r)
        return rc


def run_worker(root, env, args, log, deadline):
    """Run one worker to completion: (events with arrival times, memory
    samples)."""
    w = Worker(root, env, args, log)
    try:
        evs = list(w.events(deadline))
    except BaseException:  # timeout or termination: end the worker now
        with contextlib.suppress(ProcessLookupError):
            os.killpg(w.proc.pid, signal.SIGKILL)
        raise
    finally:
        rc = w.close()
    if rc != 0 or not evs or evs[-1][1]["ev"] != "done":
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"worker exited with rc={rc}; log tail:\n{tail}")
    return evs, w.mem


def op_peaks(evs, mem) -> dict[int, dict[str, int]]:
    """Peak tree memory per operation, in total and per process kind: the
    samples between the previous event's arrival and this operation's."""
    peaks, prev = {}, 0.0
    for t, e in evs:
        if e["ev"] == "op":
            window = [b for s, b in mem if prev < s <= t]
            peaks[e["i"]] = {
                k: max((b[k] for b in window), default=0)
                for k in ("total", "driver", "jvm", "workers")}
        prev = t
    return peaks


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("point_reads", "compact"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", default="nproc",
                   help="Spark cores (SPARK_GRAFT_CPUS), at most the CPUs "
                        "this process may use; 'nproc' = all of them")
    p.add_argument("--driver-mem", default="1g",
                   help="driver heap (SPARK_GRAFT_DRIVER_MEM)")
    p.add_argument("--jvm-opts", default="",
                   help="extra JVM options (JAVA_TOOL_OPTIONS), e.g. "
                        "--jvm-opts=-XX:TieredStopAtLevel=1")
    p.add_argument("--spark-local-dir",
                   default=os.path.join(WORK, "spark-local"),
                   help="Spark local dir (SPARK_LOCAL_DIRS), relative to "
                        "the checkout")
    a = p.parse_args()
    # a terminated run unwinds, so the worker's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_run = time.perf_counter()
    deadline = t_run + DEADLINE_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__main__.py")):
        fail(f"run from a checkout root: no {PACKAGE}/ package here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(root, WORK)
    # per-run scratch starts empty: Spark and pyspark leave directories
    # behind in both, which would otherwise pile up run after run
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(root, a.spark_local_dir), ignore_errors=True)
    for d in ("tmp", "cache", "logs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    cores = nproc if a.cores == "nproc" else min(int(a.cores), nproc)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": a.driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(root, a.spark_local_dir),
        "PYTHONPATH": os.pathsep.join(
            [root] + [x for x in [env.get("PYTHONPATH")] if x]),
        "XDG_CACHE_HOME": os.path.join(work, "cache"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM's temp files, and no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                             f" -XX:-UsePerfData {a.jvm_opts}".rstrip(),
    })

    tree, truth_path, gen_s = tree_for(root, a.seed, env)
    with open(truth_path) as f:
        truth = json.load(f)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    evs, mem = run_worker(
        root, env,
        ["--workload", a.workload, "--tree", tree, "--truth", truth_path,
         "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--workdir", work],
        os.path.join(work, "logs", f"{tag}.log"), deadline)
    setup_s = next(t for t, e in evs if e["ev"] == "ready")

    ops = [e for _, e in evs if e["ev"] == "op"]
    failed = [o for o in ops if not o["ok"]]
    warm = [o for o in ops
            if not (o["cold"] or o["traced"])]
    # time the successful operations; when none succeeded the run still
    # reports its timings, with "correct": false
    warm = [o for o in warm if o["ok"]] or warm
    peaks = op_peaks(evs, mem)
    cold = ops[0]
    walls = [o["wall"] for o in warm]
    p90 = statistics.quantiles(walls, n=10)[-1] if len(walls) >= 2 else None
    beyond_p90 = sum(w > p90 for w in walls) if p90 is not None else 0
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "tree": gen.summary(truth), "generate_s": gen_s, "cores": cores,
        "driver_mem": a.driver_mem, "jvm_opts": a.jvm_opts,
        # the cold operation: one sample per run, so too exposed to the
        # box's run-to-run drift to gate on; reported here only
        "warmup_s": cold["wall"],
        "fail_ratio": len(failed) / len(ops),
        "failures": [o["why"] for o in failed][:5],
        # p90 is reported only with at least ten samples beyond it
        "op_p90_s": p90 if beyond_p90 >= 10 else None,
        "op_samples": len(warm),
        "op_samples_beyond_p90": beyond_p90,
        "ops": [{**{k: o[k] for k in ("i", "cold", "traced",
                                      "wall", "cpu", "steal", "parts")},
                 "peak_mb": {k: v / 1e6 for k, v in peaks[o["i"]].items()}}
                for o in ops],
        "run_peak_rss_mb": max((b["total"] for _, b in mem), default=0) / 1e6,
        "run_s": time.perf_counter() - t_run,
    }
    if a.trace:
        layer_ev = next(e for _, e in evs if e["ev"] == "layers")
        detail["layer_record"] = os.path.relpath(layer_ev["record"], root)
        got = layer_ev["metrics"]
        names = spec["per_layer"]
    else:
        got = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(o["wall"] for o in warm),
            "cpu_s": statistics.median(o["cpu"] for o in warm),
            "peak_rss_mb": statistics.median(
                peaks[o["i"]]["total"] for o in warm) / 1e6,
        }
        names = spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in got]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))


if __name__ == "__main__":
    main()
