"""Serving-path benchmark for monolith-spark: one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads:

- ``remote_write`` drives the real server
  (``monolith_spark.__main__.main(["--serve", ...])``,
  ``local[$SPARK_GRAFT_CPUS]``) over HTTP from this one seeded generator
  process: a closed loop of ``min(nproc, 4)`` writers on a fresh db;
- ``batch_rows`` runs eight registry rows in a child process on the
  registry's sf0.01 tables.

After ``remote_write`` the server is killed, restarted on the same
directory, and every acknowledged sample must read back exactly; each
``batch_rows`` row must match its DuckDB oracle.  A wrong answer or a
lost sample sets ``correct`` to false and the exit code to 1.  A
refused request only counts as failed.

End-to-end metrics, the same for every workload: ``setup_s`` (server
start and warm-up, or session start, the checked pass and a warm pass),
``latency_p50_ms`` (geometric mean over the workload's request kinds,
or rows, of each one's median latency) and ``ops_per_s`` (requests
acknowledged per second from the window's start to its last ack, or
rows run per second of the timed passes).

The last stdout line is the result JSON.  With ``--trace 0`` its metrics
are the end-to-end ones; with ``--trace 1`` the program runs traced
(``spans.py``) and the metrics are the per-layer ones.  Each run also
writes ``.perfbench/<workload>-trace<k>.json`` with per-class and
per-request-kind timings (p90 when 100 samples allow it), request
counts, peak RSS of the program's processes, all per-layer values, and,
for a traced run after an untraced one, the tracing overhead.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from launch import BATCH_ROWS  # noqa: E402
from spans import REQUEST_HEADER  # noqa: E402

LAUNCH = os.path.join(HERE, "launch.py")
NPROC = len(os.sched_getaffinity(0))
CLIENTS = min(4, NPROC)
REQUEST_TIMEOUT_S = 120
START_TIMEOUT_S = 150
# remote-write latency keeps falling for tens of seconds after the
# first (cold, ~9 s) request while the JVM compiles the write path
WARM_ROUNDS = 7

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s"}
# per-layer metrics; a traced run prints these, and its sidecar also
# holds the per-layer self times
PER_LAYER: dict[str, str] = {
    "server.overhead_ms.write": "ms", "spark.jobs_per_op.write": "count",
    "spark.stages_per_op.write": "count", "spark.tasks_per_op.write": "count",
    "py4j.calls_per_op.write": "count",
    "remote.decode_ms": "ms", "remote.request_bytes_per_sample": "B",
    "server.to_df_ms": "ms", "engine.write_ms": "ms",
    "engine.commits_per_write": "count", "engine.files_per_write": "count",
    "engine.live_files": "count", "engine.disk_bytes_per_sample": "B",
    "promql.parse_ms": "ms", "promql.plan_ms": "ms",
    "spark.exec_ms": "ms", "spark.shuffle_bytes_per_op": "B", "spark.task_wait_ms": "ms",
    "trace.latency_p50_ms": "ms",
}
for _r in BATCH_ROWS:
    PER_LAYER.update({f"workload.{_r}.s": "s", f"workload.{_r}.jobs": "count",
                      f"workload.{_r}.py4j_calls": "count"})


# ------------------------------------------------------------- statistics


def percentile(values: list[float], q: float) -> float | None:
    """The q-quantile of ``values`` (nearest rank), or None when fewer
    than 10 values lie beyond it: a p90 needs at least 100 samples."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        return None
    return sorted(values)[min(n - 1, math.ceil(q * n) - 1)]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def timing_stats(values_ms: list[float]) -> dict:
    return {"n": len(values_ms),
            "p50_ms": statistics.median(values_ms) if values_ms else None,
            "p90_ms": percentile(values_ms, 0.9)}


# ---------------------------------------------------------------- process


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, start time, resident bytes) for every process
    that has not exited (zombies excluded)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        if rest[0] != "Z":
            out[int(name)] = (int(rest[1]), int(rest[19]), int(rest[21]) * page)
    return out


class Program:
    """A child process (server or batch runner) and every process it
    starts: the JVM, and the Python workers, which leave its process
    group.  Their summed resident memory is sampled while they run."""

    def __init__(self, argv: list[str], log_path: str) -> None:
        env = dict(os.environ)
        # os.cpu_count(), the session's fallback, ignores CPU affinity
        env.setdefault("SPARK_GRAFT_CPUS", str(NPROC))
        # the session's default 16g heap cap is more than the 16 GB host
        # the benchmark was tuned on has; with it the JVM grew to 3.5-3.8 GB
        # resident in a run and the run-to-run spread of the timings was
        # two to three times that with 2g
        env.setdefault("MONOLITH_SPARK_DRIVER_MEM", "2g")
        self.log = open(log_path, "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, LAUNCH, *argv], cwd=ROOT, env=env,
            stdout=subprocess.PIPE, stderr=self.log, text=True, start_new_session=True,
        )
        self.peak_rss = 0
        # (pid, start time) of every process seen in the tree: a process
        # whose parent died is no longer found by walking down from the root
        self._seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _walk(self) -> int:
        """Record the live process tree; return its resident bytes."""
        table = _proc_table()
        kids = defaultdict(list)
        for pid, (ppid, _, _) in table.items():
            kids[ppid].append(pid)
        tree, stack = [], [self.proc.pid]
        while stack:
            pid = stack.pop()
            if pid in table:
                tree.append(pid)
                stack += kids[pid]
        self._seen.update((pid, table[pid][1]) for pid in tree)
        return sum(table[pid][2] for pid in tree)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, self._walk())
            self._stop.wait(0.25)

    def _alive(self) -> list[int]:
        table = _proc_table()
        return [pid for pid, start in self._seen if table.get(pid, (0, None))[1] == start]

    def wait_line(self, marker: str) -> str:
        """Block until the child prints a stdout line containing ``marker``."""
        deadline = time.perf_counter() + START_TIMEOUT_S
        while time.perf_counter() < deadline:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"program exited (rc={self.proc.wait()}) before ready")
            if marker in line:
                return line
        raise RuntimeError("program did not become ready in time")

    def end(self, graceful: bool, timeout: float = 60) -> None:
        """SIGINT and wait (graceful), then SIGKILL whatever is left of
        the tree; return only when every process of it has ended."""
        self._stop.set()
        self._sampler.join()
        self._walk()
        if graceful and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline:
            alive = self._alive()
            if not alive:
                break
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


class Server(Program):
    def __init__(self, run_dir: str, db: str, tag: str, extra: list[str]) -> None:
        super().__init__(["serve", "--db", db, *extra], os.path.join(run_dir, f"{tag}.log"))
        try:
            line = self.wait_line("serving on http://")
        except BaseException:
            self.end(graceful=False)
            raise
        self.port = int(line.split("http://")[1].split()[0].rsplit(":", 1)[1])


# ---------------------------------------------------------- load generator


class Op:
    __slots__ = ("rid", "klass", "panel", "method", "path", "body", "t0", "t1",
                 "status", "resp", "error")

    def __init__(self, rid, klass, panel, method, path, body=b""):
        self.rid, self.klass, self.panel = rid, klass, panel
        self.method, self.path, self.body = method, path, body
        self.t0 = self.t1 = None
        self.status, self.resp, self.error = None, b"", None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000


def send(port: int, op: Op) -> Op:
    headers = {REQUEST_HEADER: op.rid}
    if op.method == "POST":
        headers.update({"Content-Type": "application/x-protobuf",
                        "Content-Encoding": "snappy",
                        "X-Prometheus-Remote-Write-Version": "0.1.0"})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    op.t0 = time.perf_counter()
    try:
        conn.request(op.method, op.path, body=op.body or None, headers=headers)
        r = conn.getresponse()
        op.resp = r.read()
        op.status = r.status
    except (OSError, http.client.HTTPException) as exc:
        op.error = repr(exc)
    finally:
        op.t1 = time.perf_counter()
        conn.close()
    return op


def closed_loop(port: int, make_op, deadline: float) -> list[Op]:
    """CLIENTS closed-loop clients: each sends ``make_op(client, seq)``,
    waits for the reply, and repeats until ``deadline``; a client's last
    request may end after it."""
    done: list[Op] = []

    def client(c: int) -> None:
        seq = 0
        while time.perf_counter() < deadline:
            op = make_op(c, seq)
            if op is None:
                return
            done.append(send(port, op))
            seq += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done


def measure(srv: Server, make_op, seconds: float, traced: bool):
    """The timed window: the closed loop runs for ``seconds``.  Untraced,
    the server is SIGKILLed at the deadline with requests in flight
    (those are cut, not counted); traced, in-flight requests finish and
    the server stops gracefully, so it can write its spans and the
    per-op counts are exact.  Returns (ops, t_start, t_end, wall_start)."""
    t_start, wall_start = time.perf_counter(), time.time()
    box: list[list[Op]] = []
    loop = threading.Thread(target=lambda: box.append(
        closed_loop(srv.port, make_op, t_start + seconds)))
    loop.start()
    try:
        if traced:
            loop.join()
            t_end = time.perf_counter()
        else:
            time.sleep(max(0.0, t_start + seconds - time.perf_counter()))
            t_end = time.perf_counter()
    finally:
        srv.end(graceful=traced)
        loop.join()
    return box[0], t_start, t_end, wall_start


# -------------------------------------------------------------- workloads


def remote_write(args, run_dir: str) -> dict:
    """Closed loop, CLIENTS writers, remote-write 1.0 requests of 1000
    samples (the same 250 series every request, timestamps advancing),
    on a fresh db; then kill, restart and read every sample back."""
    import gen

    ss = gen.series_set(args.seed)
    db = os.path.join(run_dir, "db")
    # every body the run should need is built while the server starts,
    # so no client builds one in the timed window: the warm-up rounds
    # plus a write per client every 0.2 s (about ten times today's rate)
    bodies: list[bytes] = []
    n_bodies = CLIENTS * (WARM_ROUNDS + math.ceil(args.seconds / 0.2))
    builder = threading.Thread(target=lambda: bodies.extend(
        gen.write_request_body(ss, n) for n in range(n_bodies)))
    builder.start()
    lock = threading.Lock()
    sent: list[int] = []

    def make_op(c: int, seq: int, prefix: str = "write") -> Op:
        with lock:
            n = len(sent)
            sent.append(n)
            while len(bodies) <= n:
                bodies.append(gen.write_request_body(ss, len(bodies)))
        return Op(f"{prefix}.{n}", "write", "write", "POST", "/write", bodies[n])

    trace_dir = os.path.join(run_dir, "trace") if args.trace else None
    extra = ["--trace-dir", trace_dir] if trace_dir else []
    try:
        srv = Server(run_dir, db, "server", extra)
    finally:
        builder.join()
    try:
        warm = closed_loop(srv.port, lambda c, s: make_op(c, s, "warm") if s < WARM_ROUNDS else None,
                           math.inf)
        setup_s = time.perf_counter() - srv.t_spawn
    except BaseException:
        srv.end(graceful=False)
        raise
    ops, t_start, t_end, wall_start = measure(srv, make_op, args.seconds, bool(args.trace))
    acked = [op for op in warm + ops if op.status is not None and 200 <= op.status < 300]
    killed = [op for op in ops if op.status is None and op.t1 >= t_end]
    failed = [op for op in warm + ops if op not in acked and op not in killed]

    # durability: every acknowledged request reads back exactly; a
    # request cut by the kill is all there or all missing
    srv2 = Server(run_dir, db, "restart", [])
    try:
        n_max = len(sent)
        body = gen.read_request_body(
            {"__name__": gen.METRIC}, gen.T0_MS,
            gen.T0_MS + (n_max * gen.SCRAPES_PER_WRITE) * gen.SCRAPE_MS)
        check = send(srv2.port, Op("check", "read", "check", "POST", "/read", body))
    finally:
        srv2.end(graceful=False)
    problems = []
    if check.status != 200:
        problems.append(f"read-back refused: {check.status} {check.error or check.resp[:200]}")
    else:
        problems += _durability_problems(gen, ss, check.resp, acked)
    in_window = [op for op in acked if op in ops and op.t1 <= t_end]
    if not in_window:
        raise RuntimeError("no write was acknowledged within the measured window")
    ok_ms = [op.ms for op in in_window]
    # acks per second from the window's start to its last ack: the
    # clients' writes finish together, so the window's end would step
    # the rate by whole rounds
    t_last = max(op.t1 for op in in_window)
    result = {
        "correct": not problems, "problems": problems[:20],
        "attempted": len(warm) + len(ops) - len(killed), "failed": len(failed),
        "setup_s": setup_s, "peak_rss": srv.peak_rss,
        "panels": {"write": ok_ms}, "classes": {"write": ok_ms},
        "timeline": [(op.t0 - t_start, op.ms, op.panel) for op in ops if op.status],
        "ops_per_s": len(in_window) / (t_last - t_start),
        "counts": {"write": {"attempted": len(warm) + len(ops) - len(killed),
                             "failed": len(failed), "cut_by_kill": len(killed),
                             "samples_per_s": len(in_window) * 1000 / (t_last - t_start)}},
    }
    if args.trace:
        result["layers"] = serving_layers(trace_dir, ops, db, wall_start,
                                          samples=len(acked) * 1000,
                                          bytes_per_write=len(bodies[0]))
    return result


def _durability_problems(gen, ss, resp: bytes, acked: list[Op]) -> list[str]:
    got = gen.decode_read_body(resp)
    by_label = {tuple(sorted(lab.items())): i for i, lab in enumerate(ss.labels)}
    acked_n = {int(op.rid.split(".")[1]) for op in acked}
    problems = []
    present: dict[int, int] = defaultdict(int)
    for key, pts in got.items():
        i = by_label.get(key)
        if i is None:
            problems.append(f"unknown series {dict(key)}")
            continue
        for ts, v in pts:
            j = (ts - gen.T0_MS) // gen.SCRAPE_MS
            if (ts - gen.T0_MS) % gen.SCRAPE_MS or v != ss.value(i, j):
                problems.append(f"wrong sample {dict(key)} @{ts}: {v}")
            present[j // gen.SCRAPES_PER_WRITE] += 1
    full = len(ss.labels) * gen.SCRAPES_PER_WRITE
    for n in sorted(acked_n):
        if present.get(n, 0) != full:
            problems.append(f"acknowledged request {n}: {present.get(n, 0)}/{full} samples read back")
    for n, k in present.items():
        if n not in acked_n and k != full:
            problems.append(f"torn request {n}: {k}/{full} samples")
    return problems


def batch_rows(args, run_dir: str) -> dict:
    """In-process, sequential: the registry rows no serving workload
    reaches, on the sf0.01 tables, each forced with a noop write; each
    row's time is its median over at least three passes."""
    out = os.path.join(run_dir, "batch.json")
    trace_dir = os.path.join(run_dir, "trace") if args.trace else None
    argv = ["batch", "--seconds", str(args.seconds), "--out", out]
    if trace_dir:
        argv += ["--trace-dir", trace_dir]
    prog = Program(argv, os.path.join(run_dir, "batch.log"))
    try:
        rc = prog.proc.wait(timeout=170)
    finally:
        prog.end(graceful=False)
    if rc != 0:
        raise RuntimeError(f"batch runner exited {rc}")
    with open(out) as f:
        res = json.load(f)
    problems = [f"{k}: {v}" for k, v in res["problems"].items()]
    panels = {k: [t * 1000 for t in v] for k, v in res["times"].items()}
    n = sum(len(v) for v in res["times"].values())
    result = {
        "correct": not problems, "problems": problems,
        "attempted": n + len(BATCH_ROWS), "failed": len(res["problems"]),
        "setup_s": res["setup_s"], "peak_rss": prog.peak_rss,
        "panels": panels, "classes": {}, "ops_per_s": n / res["window_s"],
        "counts": {"rows": {"attempted": n, "passes": res["passes"]}},
    }
    if args.trace:
        result["layers"] = batch_layers(trace_dir, res["times"])
    return result


WORKLOADS = {"remote_write": remote_write, "batch_rows": batch_rows}


# -------------------------------------------------------------- per-layer


def _load_trace(trace_dir: str):
    from spans import layer_times, read_event_log, spark_counts

    with open(os.path.join(trace_dir, "spans.json")) as f:
        dump = json.load(f)
    # Spark 4 writes a rolling log: a directory of events_<n>_... files
    logs = []
    for d, _, files in os.walk(os.path.join(trace_dir, "events")):
        logs += [os.path.join(d, f) for f in files if f.startswith("events_")]
    events = []
    for path in sorted(logs, key=lambda p: int(os.path.basename(p).split("_")[1])):
        events += read_event_log(path)
    return dump, layer_times(dump["spans"]), spark_counts(events)


def _self_ms(times: dict, groups: dict[str, list[str]]) -> dict:
    """Per group of request ids: the mean self time of each layer."""
    out = {}
    for g, rids in groups.items():
        names = sorted({k for r in rids for k in times[r] if k.endswith(".self")})
        out[g] = {k[:-5]: _mean(times[r].get(k, 0.0) for r in rids) for k in names}
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def serving_layers(trace_dir, ops: list[Op], db: str, wall_start: float,
                   samples: int, bytes_per_write: int) -> dict:
    dump, times, counts = _load_trace(trace_dir)
    ok = [op for op in ops if op.status is not None and 200 <= op.status < 300]
    m = {k: 0.0 for k in PER_LAYER}
    by_class = defaultdict(list)
    for op in ok:
        by_class[op.klass].append(op)
    top = defaultdict(float)  # request id -> time inside top-level wrapped calls
    for sid, parent, name, t0, t1, rid in dump["spans"]:
        if parent is None and name != "server.request":
            top[rid] += (t1 - t0) * 1000
    for c, cops in by_class.items():
        m[f"server.overhead_ms.{c}"] = _mean(op.ms - top[op.rid] for op in cops)
        m[f"spark.jobs_per_op.{c}"] = _mean(counts[op.rid]["jobs"] for op in cops)
        m[f"spark.stages_per_op.{c}"] = _mean(counts[op.rid]["stages"] for op in cops)
        m[f"spark.tasks_per_op.{c}"] = _mean(counts[op.rid]["tasks"] for op in cops)
        m[f"py4j.calls_per_op.{c}"] = _mean(dump["py4j_calls"].get(op.rid, 0) for op in cops)
    writes = by_class.get("write", [])
    m["remote.decode_ms"] = _mean(times[op.rid]["remote.decode"] for op in writes)
    m["remote.request_bytes_per_sample"] = bytes_per_write / 1000
    m["server.to_df_ms"] = _mean(times[op.rid]["server.to_df"] for op in writes)
    m["engine.write_ms"] = _mean(times[op.rid]["engine.write"] for op in writes)
    m["spark.exec_ms"] = _mean(times[op.rid]["spark.exec"] for op in ok)
    m["spark.shuffle_bytes_per_op"] = _mean(counts[op.rid]["shuffle_bytes"] for op in ok)
    n_tasks = sum(counts[op.rid]["tasks"] for op in ok)
    m["spark.task_wait_ms"] = (sum(counts[op.rid]["task_wait_ms"] for op in ok) / n_tasks
                               if n_tasks else 0.0)
    # manifest versions committed by the measured writes, and the data
    # files they added
    files = {int(v): n for v, n in dump["files_by_version"].items()}
    hist = dump["history"]
    before = [h["version"] for h in hist if h["committed_ms"] < wall_start * 1000]
    after = [h["version"] for h in hist if h["committed_ms"] >= wall_start * 1000]
    m["engine.commits_per_write"] = len(after) / len(writes)
    m["engine.files_per_write"] = (
        files[max(files)] - (files[max(before)] if before else 0)) / len(writes)
    m["engine.live_files"] = files[max(files)]
    m["engine.disk_bytes_per_sample"] = _du(db) / samples
    m["trace.latency_p50_ms"] = geomean([statistics.median(op.ms for op in ok if op.panel == p)
                                         for p in {op.panel for op in ok}])
    m["self_ms"] = _self_ms(times, {c: [op.rid for op in cops] for c, cops in by_class.items()})
    return m


def batch_layers(trace_dir: str, row_times: dict) -> dict:
    dump, times, counts = _load_trace(trace_dir)
    m = {k: 0.0 for k in PER_LAYER}
    rids = [f"{r}#{i}" for r in BATCH_ROWS for i in range(len(row_times[r]))]
    for r in BATCH_ROWS:
        mine = [rid for rid in rids if rid.startswith(r + "#")]
        m[f"workload.{r}.s"] = statistics.median(row_times[r])
        m[f"workload.{r}.jobs"] = _mean(counts[rid]["jobs"] for rid in mine)
        m[f"workload.{r}.py4j_calls"] = _mean(dump["py4j_calls"].get(rid, 0) for rid in mine)
    for name in ("promql.parse", "promql.plan", "spark.exec"):
        m[name + "_ms"] = _mean(times[rid][name] for rid in rids)
    m["spark.shuffle_bytes_per_op"] = _mean(counts[rid]["shuffle_bytes"] for rid in rids)
    n_tasks = sum(counts[rid]["tasks"] for rid in rids)
    m["spark.task_wait_ms"] = (sum(counts[rid]["task_wait_ms"] for rid in rids) / n_tasks
                               if n_tasks else 0.0)
    m["trace.latency_p50_ms"] = geomean([statistics.median(v) * 1000 for v in row_times.values()])
    m["self_ms"] = _self_ms(times, {r: [x for x in rids if x.startswith(r + "#")]
                                    for r in BATCH_ROWS})
    return m


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark still stops the program it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "monolith_spark", "__main__.py")):
        print("error: run from a checkout of the repository (monolith_spark/ not found)",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = WORKLOADS[args.workload](args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {
        "setup_s": res["setup_s"],
        "latency_p50_ms": geomean([statistics.median(v) for v in res["panels"].values()]),
        "ops_per_s": res["ops_per_s"],
    }
    sidecar = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clients": CLIENTS, "end_to_end": e2e,
        "server_rss_mb": res["peak_rss"] / 2**20,
        "counts": res["counts"], "problems": res["problems"],
        "classes": {c: timing_stats(v) for c, v in res["classes"].items()},
        "panels": {p: timing_stats(v) for p, v in res["panels"].items()},
        "timeline": res.get("timeline", []),
    }
    if args.trace:
        metrics = {k: res["layers"][k] for k in PER_LAYER}
        untraced = os.path.join(out_dir, f"{args.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["latency_p50_ms"]
            sidecar["tracing_overhead"] = {
                "untraced_latency_p50_ms": base,
                "traced_latency_p50_ms": e2e["latency_p50_ms"],
                "ratio": e2e["latency_p50_ms"] / base,
            }
        sidecar["per_layer"] = res["layers"]
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    with open(os.path.join(out_dir, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)

    for name, v in metrics.items():
        print(f"{name} = {v:.6g} {units[name]}")
    for c, rec in res["counts"].items():
        print(f"ops.{c}: " + " ".join(f"{k}={v}" for k, v in rec.items()))
    for p in res["problems"]:
        print(f"WRONG: {p}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
