"""The repository's benchmark: the orestes daemon measured over HTTP.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (load models and reasons are in README.md next to this file):

  ingest_http      4 closed-loop writers post 500-point batches (10 series),
                   each into a space of its own
  ingest_contended the same 4 writers in one shared space, where the
                   writer lock refuses concurrent writes (not listed)
  read_http        2 closed-loop readers cycle a fixed read mix over a
                   preloaded space of 100k points in 1,000 series
  stream_mixed     an open-loop generator drops JSON-lines point files for
                   ``streaming.ingest.start_ingest`` while 2 closed-loop
                   readers query the most recent window; one compaction
                   after the load
  stream_compacting the same with auto-compaction above 4 files beside
                   the reads (not listed)
  registry_sample  eight registry queries built and collected from a cold
                   start, in one process without HTTP (``registry.py``)

The daemon runs in its own process (``daemon.py``); this process is the
one client process. Every answer is checked; a wrong answer counts as a
failed operation and marks the run incorrect. Nothing is retried.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from a traced run
(``spans.py``). The line before it is a report: every metric by name
with its unit, attempted and failed counts per request type, the load
model, and the run stamp (nproc, /proc/stat steal ticks, git HEAD).
All files go under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import datetime
import http.client
import json
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import self_times  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DAY_MS = 86_400_000
BASE_MS = 1_700_006_400_000  # a UTC midnight
TIMEOUT_S = 120


# ---------------------------------------------------------------- stamps


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def git_head() -> str:
    try:
        top = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return "unknown"
    return lines[1]


# ----------------------------------------------------------- statistics


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return {"value": None, "pct": None, "samples": n}
    return {"value": xs[n - 11], "pct": round(100.0 * (n - 10) / n, 1), "samples": n}


# --------------------------------------------------------------- daemon


def child_env(work: Path) -> dict:
    """The system under test's environment: the package from this
    checkout, one Spark core per CPU this process may use, and every
    scratch file under ``work``."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    return env


class Daemon:
    """The system under test: ``daemon.py`` in its own process group."""

    def __init__(self, work: Path, cfg: dict, script: str = "daemon.py", ready: bool = True) -> None:
        self.work = work
        self.log = open(work / f"{script}.log", "wb")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / script), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=child_env(work), text=True, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.port = int(self._expect("READY", 150).split()[1]) if ready else None

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.strip())
        self.lines.put(None)

    def _expect(self, word: str, timeout: float) -> str:
        while True:
            try:
                line = self.lines.get(timeout=timeout)
            except queue.Empty:
                raise RuntimeError(f"no {word} within {timeout}s (see {self.log.name})") from None
            if line is None:
                raise RuntimeError(f"system under test exited (see {self.log.name})")
            if line.startswith(word):
                return line

    def command(self, cmd: str, timeout: float = 120) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        self._expect("OK", timeout)

    def stop(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        self._expect("DONE", 120)
        self.proc.wait(timeout=60)
        return json.loads((self.work / "daemon_result.json").read_text())

    def kill(self) -> None:
        """Stop the whole process group (the JVM outlives a Python parent
        that has exited) and wait until none of it is left running."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while group_alive(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        self.log.close()


def group_alive(pgid: int) -> bool:
    """True while a process of group ``pgid`` is still running (zombies
    left for init to reap do not count)."""
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


# ---------------------------------------------------------------- client


class Client:
    """One keep-alive HTTP connection; one outstanding request."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.conn: http.client.HTTPConnection | None = None

    def post(self, path: str, body, req: str) -> dict:
        """POST and read the whole response. ``first`` is when the first
        complete series object of a streamed /read had arrived."""
        data = json.dumps(body, separators=(",", ":")).encode()
        t0 = time.perf_counter()
        first = None
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=TIMEOUT_S)
            self.conn.request(
                "POST", path, data,
                {"Content-Type": "application/json", "X-Bench-Req": req},
            )
            resp = self.conn.getresponse()
            chunks, buf = [], b""
            decoder = json.JSONDecoder()
            while True:
                c = resp.read1(1 << 16)
                if not c:
                    break
                chunks.append(c)
                if first is None and path.startswith("/read"):
                    buf += c
                    if len(buf) > 11:
                        try:
                            decoder.raw_decode(buf[11:].decode())
                            first = time.perf_counter() - t0
                        except ValueError:
                            pass
            resp.read()  # end of body: frees the connection for the next request
            t1 = time.perf_counter()
            return {"status": resp.status, "body": b"".join(chunks), "lat": t1 - t0,
                    "first": first, "t0": t0, "t1": t1}
        except (OSError, http.client.HTTPException) as e:
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            t1 = time.perf_counter()
            return {"status": -1, "body": str(e).encode(), "lat": t1 - t0,
                    "first": None, "t0": t0, "t1": t1}


def closed_loop(port: int, clients: int, seconds: float, make_request, k0: int = 0):
    """``clients`` threads, each sending its next request only after the
    previous one completed, until ``seconds`` have passed. Returns the
    records and the load window (start, deadline).
    ``make_request(client, k)``, with ``k`` counting from ``k0``, returns
    (type, path, body, check);
    ``check(parsed_body)`` is True for a correct answer."""
    records: list[dict] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds

    def run(c: int) -> None:
        cl = Client(port)
        k = k0
        while time.perf_counter() < deadline:
            kind, path, body, check = make_request(c, k)
            req = f"{kind}:{c}:{k}"
            r = cl.post(path, body, req)
            ok, wrong = r["status"] == 200, False
            if ok:
                try:
                    answer = json.loads(r["body"])
                except ValueError:
                    answer = None
                if isinstance(answer, dict) and "error" in answer:
                    ok = False  # the in-body error terminator: failed openly, like a non-200
                else:
                    try:
                        ok = answer is not None and bool(check(answer))
                    except (KeyError, TypeError):
                        ok = False
                    wrong = not ok
            rec = {"kind": kind, "req": req, "ok": ok, "wrong": wrong, "status": r["status"],
                   "lat": r["lat"], "first": r["first"], "bytes": len(r["body"]),
                   "t0": r["t0"], "t1": r["t1"]}
            if not ok:  # both ends: a /read error terminator sits at the end
                body = r["body"].decode(errors="replace")
                rec["detail"] = body if len(body) <= 400 else body[:200] + " ... " + body[-200:]
            with lock:
                records.append(rec)
            k += 1
        if cl.conn is not None:
            cl.conn.close()

    threads = [threading.Thread(target=run, args=(c,), daemon=True) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, (start, deadline)


def one(port: int, path: str, body, check=lambda b: True) -> tuple[bool, object]:
    r = Client(port).post(path, body, "check")
    if r["status"] != 200:
        return False, r["body"][:300].decode(errors="replace")
    parsed = json.loads(r["body"])
    return bool(check(parsed)), parsed


def series_map(body: dict) -> dict:
    """/read body → {sorted tag tuple: [[ms, value], ...]}; None when the
    stream ended with the in-body error terminator or a series repeats."""
    if "error" in body:
        return None
    out = {}
    for s in body["series"]:
        key = tuple(sorted(s["tags"].items()))
        if key in out:
            return None
        out[key] = s["points"] if "points" in s else s["count"]
    return out


# -------------------------------------------------------------- workloads


class Workload:
    """Common run protocol: set up the daemon, time the load, check, stop."""

    name = ""
    load_model = ""
    inputs = ""
    clients = 1
    trace_clients = 1
    headline = ""

    def __init__(self, seed: int, seconds: int, trace: bool, work: Path) -> None:
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.rng = random.Random(seed)
        self.base = BASE_MS + self.rng.randrange(0, 6 * 3_600_000)
        self.checks: list[tuple[str, bool, str]] = []

    # hooks
    def daemon_config(self) -> dict:
        raise NotImplementedError

    def warm_up(self, port: int) -> None:
        raise NotImplementedError

    def make_request(self, c: int, k: int):
        raise NotImplementedError

    def start_background(self, port: int) -> None:
        pass

    def stop_background(self, daemon: Daemon) -> None:
        pass

    def final_checks(self, port: int, records: list[dict]) -> None:
        pass

    def layer_metrics(self, out: dict) -> dict:
        return http_layer_metrics(self, out)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail if not ok else ""))

    def run(self) -> dict:
        cfg = self.daemon_config()
        cfg.update(work=str(self.work), trace=self.trace)
        t0 = time.perf_counter()
        daemon = Daemon(self.work, cfg)
        try:
            self.warm_up(daemon.port)
            setup_s = time.perf_counter() - t0
            self.start_background(daemon.port)
            if self.trace:
                half = self.seconds / 2
                plain, _ = closed_loop(daemon.port, self.trace_clients, half, self.make_request)
                daemon.command("trace")
                traced_from = time.time()
                records, window = closed_loop(daemon.port, self.trace_clients, half, self.make_request, 10_000)
            else:
                traced_from = None
                plain = []
                records, window = closed_loop(daemon.port, self.clients, self.seconds, self.make_request)
            self.stop_background(daemon)
            self.final_checks(daemon.port, plain + records)
            result = daemon.stop()
        finally:
            daemon.kill()
        return {"setup_s": setup_s, "records": records, "plain": plain, "result": result,
                "traced_from": traced_from, "window": window}


def acked(records, kind=None) -> list[dict]:
    return [r for r in records if r["ok"] and (kind is None or r["kind"] == kind)]


def wall(records) -> float:
    """Seconds from the first request sent to the last answer received."""
    return max(r["t1"] for r in records) - min(r["t0"] for r in records) if records else 1.0


def ok_rate(out: dict) -> float:
    """Correct answers per second of the load window. Each answer counts
    by the share of its request's time that falls inside the window, so
    the rate does not jump by a whole answer when one lands just inside
    or outside it (with ~12 acknowledged writes a run, that jump would be
    8%), and it falls as soon as answers stop coming."""
    lo, hi = out["window"]
    got = sum(max(0.0, min(r["t1"], hi) - max(r["t0"], lo)) / (r["t1"] - r["t0"])
              for r in acked(out["records"]))
    return got / (hi - lo)


class IngestHttp(Workload):
    """The reference's write half: closed-loop 500-point POST /write,
    each client into a space of its own so that the writer lock grants
    every write."""

    name = "ingest_http"
    load_model = "closed loop, 4 clients, one space each (traced half: 1)"
    inputs = "500-point batches, 10 series (1 tag x 10 values) per space, 4 fresh spaces"
    clients = 4
    trace_clients = 1
    spaces = 4
    headline = "write"
    batch = 500
    series = 10

    def space(self, c: int) -> str:
        return f"ingest{c % self.spaces}"

    def daemon_config(self) -> dict:
        spaces = {self.space(c): {"table_granularity_days": 1} for c in range(self.spaces)}
        return {"spaces": spaces | {"warmup": {"table_granularity_days": 1}}}

    def points(self, b: int) -> list[dict]:
        """Batch ``b``: 500 points, 50 in each of 10 series; unique
        (series, time) across batches."""
        r = random.Random(self.seed * 1_000_003 + b)
        t = self.base + b * self.batch
        return [{"time": t + i, "value": float(r.randint(0, 100)), "host": f"h{i % self.series}"}
                for i in range(self.batch)]

    def warm_up(self, port: int) -> None:
        for b in range(2):
            ok, out = one(port, "/write/warmup", self.points(100_000 + b), lambda x: x == {"errors": []})
            self.check("warm-up write", ok, str(out))

    def make_request(self, c: int, k: int):
        b = k * self.clients + c
        return "write", f"/write/{self.space(c)}", self.points(b), lambda x: x == {"errors": []}

    def final_checks(self, port: int, records: list[dict]) -> None:
        expected: dict[str, dict] = {self.space(c): {} for c in range(self.spaces)}
        for rec in acked(records):
            _, c, k = rec["req"].split(":")
            want = expected[self.space(int(c))]
            for p in self.points(int(k) * self.clients + int(c)):
                want.setdefault((("host", p["host"]),), []).append([p["time"], p["value"]])
        q = {"start": self.base - 1, "end": self.base + DAY_MS}
        for space, want in expected.items():
            n = sum(len(v) for v in want.values())
            ok, out = one(port, f"/read/{space}", dict(q, aggregations=[{"type": "count"}]))
            counts = series_map(out) if ok else None
            self.check(f"{space}: count equals acknowledged points",
                       counts is not None and sum(counts.values()) == n,
                       f"{n} acknowledged, got {str(out)[:200]}")
            ok, out = one(port, f"/read/{space}", q)
            got = series_map(out) if ok else None
            self.check(f"{space}: read returns exactly the acknowledged points",
                       got == {k: sorted(v) for k, v in want.items()}, str(out)[:200])

    def end_to_end(self, out: dict) -> tuple[dict, dict]:
        records = out["records"]
        ok = acked(records, "write")
        span = wall(records)
        stored = sum(stored_bytes(st) for sp, st in out["result"]["stats"].items() if sp != "warmup")
        stored_pts = len(acked(out["plain"] + records)) * self.batch
        lat = [r["lat"] for r in ok]
        reported = {
            "write_pts_per_s": (len(ok) * self.batch / span, "pts/s"),
            "write_lat_p50_s": (p50(lat), "s"),
            "write_lat_tail_s": (tail(lat), "s"),
            "stored_bytes_per_point": (stored / stored_pts if stored_pts else None, "B"),
        }
        gated = {"lat_p50_s": p50(lat), "ok_per_s": ok_rate(out)}
        return gated, reported


class IngestContended(IngestHttp):
    """ingest_http with all four clients in one space: the writer lock
    refuses concurrent writers with HTTP 500, and those stay visible as
    failed operations."""

    name = "ingest_contended"
    load_model = "closed loop, 4 clients, one shared space (traced half: 4)"
    inputs = "500-point batches, 10 series (1 tag x 10 values), 1 fresh space"
    trace_clients = 4  # the writer lock only refuses under contention
    spaces = 1


class ReadHttp(Workload):
    """The reference's read half plus the other read endpoints."""

    name = "read_http"
    load_model = "closed loop, 2 clients (traced half: 1)"
    inputs = "100k points, 1,000 series (3 tags x 10 values) over 4 day buckets, one bulk write"
    clients = 2
    trace_clients = 1
    headline = "read_all"
    points_n, series_n, days = 100_000, 1_000, 4
    # match-all /read, the headline, is a third of the mix so that a run
    # has enough samples of it for its median to settle
    mix = ("read_all", "read_filtered", "count", "read_all", "series", "select_distinct")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.salt = self.rng.randrange(1_000_000)
        per = self.points_n // self.series_n
        step = self.days * DAY_MS // per
        self.truth: dict[tuple, list] = {}
        for i in range(self.points_n):
            s, j = i % self.series_n, i // self.series_n
            key = (("a", f"a{s % 10}"), ("b", f"b{s // 10 % 10}"), ("c", f"c{s // 100 % 10}"))
            self.truth.setdefault(key, []).append([self.base + j * step + s, ((i * 7919 + self.salt) % 100_003) / 8.0])
        self.end = self.base + self.days * DAY_MS

    def daemon_config(self) -> dict:
        return {
            "spaces": {"read": {"table_granularity_days": 1}},
            "preload": {"space": "read", "points": self.points_n, "series": self.series_n,
                        "days": self.days, "base": self.base, "salt": self.salt},
        }

    def warm_up(self, port: int) -> None:
        for k in range(len(self.mix)):
            kind, path, body, check = self.make_request(0, k)
            ok, out = one(port, path, body, check)
            self.check(f"warm-up {kind}", ok, str(out)[:200])

    def make_request(self, c: int, k: int):
        kind = self.mix[(k + c) % len(self.mix)]
        r = random.Random(f"{self.seed}:{c}:{k}")
        if kind == "read_all":
            return kind, "/read/read", {"start": self.base, "end": self.end}, lambda b: series_map(b) == self.truth
        if kind == "read_filtered":
            a, bb, day = f"a{r.randrange(10)}", f"b{r.randrange(10)}", r.randrange(self.days)
            lo = self.base + day * DAY_MS + r.randrange(0, DAY_MS // 2)
            hi = lo + DAY_MS // 4
            want = {key: [p for p in pts if lo <= p[0] < hi]
                    for key, pts in self.truth.items() if key[0][1] == a and key[1][1] == bb}
            want = {key: v for key, v in want.items() if v}
            q = {"bool": {"must": [{"term": {"a": a}}, {"term": {"b": bb}}]}}
            return kind, "/read/read", {"query": q, "start": lo, "end": hi}, lambda b: series_map(b) == want
        if kind == "count":
            want = {key: len(v) for key, v in self.truth.items()}
            body = {"start": self.base, "end": self.end, "aggregations": [{"type": "count"}]}
            return kind, "/read/read", body, lambda b: series_map(b) == want
        if kind == "series":
            a = f"a{r.randrange(10)}"
            want = sorted(key for key in self.truth if key[0][1] == a)
            body = {"query": {"term": {"a": a}}, "start": self.base, "end": self.end}
            return kind, "/series/read", body, lambda b: sorted(tuple(sorted(t.items())) for t in b["series"]) == want
        want = sorted({(key[0][1], key[1][1]) for key in self.truth})
        return (kind, "/select_distinct/read", {"keys": ["a", "b"]},
                lambda b: sorted((x["a"], x["b"]) for x in b) == want and len(b) == 100)

    def end_to_end(self, out: dict) -> tuple[dict, dict]:
        records = out["records"]
        by = {k: acked(records, k) for k in set(self.mix)}
        lat = lambda k: [r["lat"] for r in by[k]]  # noqa: E731
        reported = {
            "read_all_lat_p50_s": (p50(lat("read_all")), "s"),
            "read_all_first_series_p50_s": (p50([r["first"] for r in by["read_all"] if r["first"]]), "s"),
            "read_filtered_lat_p50_s": (p50(lat("read_filtered")), "s"),
            "read_filtered_lat_tail_s": (tail(lat("read_filtered")), "s"),
            "count_lat_p50_s": (p50(lat("count")), "s"),
            "meta_lat_p50_s": (p50(lat("series") + lat("select_distinct")), "s"),
        }
        gated = {"lat_p50_s": p50(lat("read_all")), "ok_per_s": ok_rate(out)}
        return gated, reported


class StreamMixed(Workload):
    """Streaming ingest of point files beside closed-loop window reads."""

    name = "stream_mixed"
    load_model = "open loop generator at 0.5 files/s + closed loop, 2 readers (traced half: 1)"
    inputs = ("JSON-lines files of 1,000 points in 100 series; auto-compaction armed above 16 files;"
              " reads over the last 8 files; one compaction after the load")
    clients = 2
    trace_clients = 1
    headline = "read_filtered"
    rate = 0.5  # files per second, open loop
    series_n, per_series = 100, 10
    file_ms = 60_000
    window_files = 8
    warm_files = 3
    # auto-compaction armed at compact_if's default of 16 files: a run's
    # files (3 warm-up + 0.5/s) stay below it, so no compaction deletes a
    # file under a read; the bucket is compacted once after the load
    compact_files = 16
    compact_after = True
    # the headline filtered /read is half the mix, so that a run has
    # enough samples of it for its median to settle
    mix = ("read_filtered", "count", "read_filtered", "series", "read_filtered", "select_distinct")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.incoming = self.work / "incoming"
        self.ckpt = self.work / "checkpoint"
        self.sched: dict[int, float] = {}  # file index → scheduled wall time
        self.late: list[float] = []
        self.stop_gen = threading.Event()
        self.gen_thread = None
        self.gen_start: float | None = None  # wall time the timed load began

    def daemon_config(self) -> dict:
        self.incoming.mkdir(parents=True, exist_ok=True)
        return {
            "spaces": {"stream": {"table_granularity_days": 1, "rollup_step_ms": 60_000,
                                  "rollup_hist": [1000.0, 16]}},
            "stream": {"space": "stream", "incoming": str(self.incoming),
                       "checkpoint": str(self.ckpt), "auto_compact_files": self.compact_files},
        }

    def file_points(self, k: int) -> list[tuple]:
        out = []
        for s in range(self.series_n):
            for j in range(self.per_series):
                t = self.base + k * self.file_ms + j * (self.file_ms // self.per_series) + s
                v = ((k * 1_000_003 + s * 7919 + j * 104_729 + self.seed) % 100_003) / 4.0
                out.append((f"a{s % 10}", f"b{s // 10}", t, v))
        return out

    def drop(self, k: int) -> None:
        tmp = self.work / f".file-{k}.json"
        with open(tmp, "w") as f:
            for a, b, t, v in self.file_points(k):
                f.write(json.dumps({"time": t, "value": v, "tags": {"a": a, "b": b}}) + "\n")
        os.rename(tmp, self.incoming / f"points-{k:05d}.json")

    def committed_files(self) -> int:
        d = self.ckpt / "orestes_committed_epochs"
        return len(list(d.glob("epoch-*"))) if d.exists() else 0

    def warm_up(self, port: int) -> None:
        now = time.time()
        for k in range(self.warm_files):
            self.sched[k] = now
            self.drop(k)
        deadline = time.perf_counter() + 300
        while self.committed_files() < self.warm_files and time.perf_counter() < deadline:
            time.sleep(0.05)
        self.check("warm-up files committed", self.committed_files() >= self.warm_files)
        self.k_next = self.warm_files
        for k in sorted({self.mix.index(kind) for kind in self.mix}):  # one of each kind
            kind, path, body, check = self.make_request(0, k)
            ok, out = one(port, path, body, check)
            self.check(f"warm-up {kind}", ok, str(out)[:200])

    def start_background(self, port: int) -> None:
        t0 = time.time()
        k0 = self.k_next

        def gen() -> None:
            k = k0
            while not self.stop_gen.is_set():
                due = t0 + (k - k0) / self.rate
                wait = due - time.time()
                if wait > 0 and self.stop_gen.wait(wait):
                    return
                self.sched[k] = due
                self.late.append(max(0.0, time.time() - due))
                self.drop(k)
                self.k_next = k = k + 1

        self.gen_start = t0
        self.gen_thread = threading.Thread(target=gen, daemon=True)
        self.gen_thread.start()

    def stop_background(self, daemon: Daemon) -> None:
        self.stop_gen.set()
        self.gen_thread.join()
        self.backlog = self.k_next - self.committed_files()
        daemon.command("drain", timeout=150)
        if self.compact_after:
            daemon.command("compact", timeout=150)

    def window(self) -> tuple[int, int]:
        """The most recent ``window_files`` files by schedule."""
        k_hi = self.k_next
        if self.gen_start is not None:
            k_hi = self.warm_files + int((time.time() - self.gen_start) * self.rate) + 1
        k_lo = max(0, k_hi - self.window_files)
        return self.base + k_lo * self.file_ms, self.base + k_hi * self.file_ms

    def check_window(self, got, keys: set, counts: bool) -> bool:
        """Epochs commit atomically: every selected series holds the
        same whole files, each point exactly as generated."""
        if got is None or (got and len(got) != 10 * len(keys)):
            return False
        files = None
        for key, pts in got.items():
            if key[0][1] not in keys:
                return False
            if counts:
                have = pts
            else:
                by_file: dict[int, list] = {}
                for t, v in pts:
                    by_file.setdefault((t - self.base) // self.file_ms, []).append([t, v])
                for k, ps in by_file.items():
                    want = sorted([t, v] for a, b, t, v in self.file_points(k)
                                  if (("a", a), ("b", b)) == key)
                    if sorted(ps) != want:
                        return False
                have = frozenset(by_file)
            if files is None:
                files = have
            elif have != files:
                return False
        return counts is False or files is None or files % self.per_series == 0

    def make_request(self, c: int, k: int):
        lo, hi = self.window()
        kind = self.mix[(k + c) % len(self.mix)]
        a = f"a{random.Random(f'{self.seed}:{c}:{k}').randrange(10)}"
        if kind == "read_filtered":
            body = {"query": {"term": {"a": a}}, "start": lo, "end": hi}
            return kind, "/read/stream", body, lambda b: self.check_window(series_map(b), {a}, False)
        if kind == "count":
            body = {"start": lo, "end": hi, "aggregations": [{"type": "count"}]}
            keys = {f"a{i}" for i in range(10)}
            return kind, "/read/stream", body, lambda b: self.check_window(series_map(b), keys, True)
        if kind == "series":
            # every file holds all 100 series: the 10 with this tag, or none
            # when no file in the window has committed yet
            want = sorted((("a", a), ("b", f"b{j}")) for j in range(10))
            body = {"query": {"term": {"a": a}}, "start": lo, "end": hi}
            return kind, "/series/stream", body, lambda b: sorted(
                tuple(sorted(t.items())) for t in b["series"]) in (want, [])
        want = sorted((f"a{i}", f"b{j}") for i in range(10) for j in range(10))
        return (kind, "/select_distinct/stream", {"keys": ["a", "b"]},
                lambda b: sorted((x["a"], x["b"]) for x in b) == want and len(b) == 100)

    def final_checks(self, port: int, records: list[dict]) -> None:
        n_files = self.k_next
        q = {"start": self.base - 1, "end": self.base + (n_files + 1) * self.file_ms}
        ok, out = one(port, "/read/stream", dict(q, aggregations=[{"type": "count"}]))
        counts = series_map(out) if ok else None
        want_n = n_files * self.series_n * self.per_series
        self.check("count equals dropped points",
                   counts is not None and sum(counts.values()) == want_n,
                   f"{want_n} dropped, got {str(out)[:200]}")
        ok, out = one(port, "/read/stream", q)
        got = series_map(out) if ok else None
        want: dict = {}
        for k in range(n_files):
            for a, b, t, v in self.file_points(k):
                want.setdefault((("a", a), ("b", b)), []).append([t, v])
        self.check("read returns exactly the dropped points",
                   got == {key: sorted(v) for key, v in want.items()}, str(out)[:200])

    def commit_times(self) -> dict[int, float]:
        """File index → wall time its epoch committed: the file source's
        log maps files to batch ids, and ``start_ingest`` writes one
        marker per committed epoch."""
        batch_of: dict[int, int] = {}
        for f in (self.ckpt / "sources" / "0").glob("[0-9]*"):
            for line in f.read_text().splitlines()[1:]:
                e = json.loads(line)
                batch_of[int(Path(e["path"]).name[7:12])] = int(e["batchId"])
        out = {}
        for k, b in batch_of.items():
            m = self.ckpt / "orestes_committed_epochs" / f"epoch-{b}"
            if m.exists():
                out[k] = m.stat().st_mtime
        return out

    def layer_metrics(self, out: dict) -> dict:
        return http_layer_metrics(self, out) | stream_layer_metrics(self, out)

    def end_to_end(self, out: dict) -> tuple[dict, dict]:
        records = out["records"]
        by = {k: acked(records, k) for k in set(self.mix)}
        commits = self.commit_times()
        lags = [commits[k] - self.sched[k] for k in self.sched if k >= self.warm_files and k in commits]
        pts = self.k_next * self.series_n * self.per_series
        filt = [r["lat"] for r in by["read_filtered"]]
        reported = {
            "read_filtered_lat_p50_s": (p50(filt), "s"),
            "read_filtered_lat_tail_s": (tail(filt), "s"),
            "count_lat_p50_s": (p50([r["lat"] for r in by["count"]]), "s"),
            "meta_lat_p50_s": (p50([r["lat"] for r in by["series"] + by["select_distinct"]]), "s"),
            "ingest_lag_p50_s": (p50(lags), "s"),
            "stored_bytes_per_point": (stored_bytes(out["result"]["stats"]["stream"]) / pts, "B"),
            "gen_late_p50_ms": (p50(self.late) * 1000, "ms"),
            "backlog_files_end": (self.backlog, "files"),
        }
        gated = {"lat_p50_s": p50(filt), "ok_per_s": ok_rate(out)}
        return gated, reported


class StreamCompacting(StreamMixed):
    """stream_mixed with auto-compaction above 4 files, so compaction
    rewrites the bucket every ~10 s beside the reads. A compaction
    deletes points files that a read may be scanning; such reads end
    with the in-body error terminator and count as failed."""

    name = "stream_compacting"
    load_model = "open loop generator at 0.5 files/s + closed loop, 2 readers (traced half: 1)"
    inputs = "JSON-lines files of 1,000 points in 100 series; auto-compaction above 4 files; reads over the last 8 files"
    compact_files = 4
    compact_after = False


def stored_bytes(stats: dict) -> int:
    return sum(b["bytes"] for table in stats.values() for b in table.values())


class RegistrySample(Workload):
    """The operator layer: eight sampled registry queries, from a cold start, collected."""

    name = "registry_sample"
    load_model = "one process, passes back to back from a cold start"
    inputs = "500 documents, 500 embeddings, 10k events, 60k lineitem rows"
    headline = "pass"

    def run(self) -> dict:
        cfg = {"work": str(self.work), "seed": self.seed, "seconds": self.seconds, "trace": self.trace}
        proc = Daemon(self.work, cfg, "registry.py", ready=False)
        try:
            proc._expect("DONE", 170)
            proc.proc.wait(timeout=60)
        finally:
            proc.kill()
        res = json.loads((self.work / "registry_result.json").read_text())
        last = len(res["queries"]) - 1
        records = []
        for i, qs in enumerate(res["queries"]):
            for n, q in qs.items():
                ok = "error" not in q and not (i == last and n in res["problems"])
                lat = (q.get("build_ms", 0) + q.get("action_ms", 0)) / 1000
                records.append({"kind": "query", "req": f"{n}:{i}", "ok": ok, "wrong": not ok and "error" not in q,
                                "status": -1 if "error" in q else 200, "lat": lat,
                                "detail": res["problems"].get(n, q.get("error", ""))})
        for n, why in res["problems"].items():
            self.check(f"{n} matches its oracle", False, why)
        return {"setup_s": res["setup_s"], "records": records, "plain": [], "result": res}

    def end_to_end(self, out: dict) -> tuple[dict, dict]:
        passes = out["result"]["pass_s"]
        reported = {"registry_pass_s": (p50(passes), "s")}
        gated = {"lat_p50_s": p50(passes), "ok_per_s": len(acked(out["records"])) / sum(passes)}
        return gated, reported

    def layer_metrics(self, out: dict) -> dict:
        res = out["result"]
        m = {}
        for key, unit in (("build_ms", "ms"), ("action_ms", "ms"), ("build_jobs", "count"), ("action_jobs", "count")):
            for n in res["queries"][0]:
                m[f"registry.{key}.{n}"] = (p50([qs[n].get(key, 0) for qs in res["queries"]]), unit)
        for a, sec in res["artifacts"].items():
            m[f"registry.artifact_ms.{a}"] = (sec * 1000, "ms")
        m["trace.overhead_ms"] = (p50(res["trace_s"]) * 1000, "ms")
        return m


WORKLOADS = {w.name: w for w in (IngestHttp, IngestContended, ReadHttp, StreamMixed,
                                  StreamCompacting, RegistrySample)}


# ------------------------------------------------------------ per layer

TYPES = ("write", "read_all", "read_filtered", "count", "series", "select_distinct")
READ_TYPES = ("read_all", "read_filtered", "count")


def http_layer_metrics(w: Workload, out: dict) -> dict:
    """Per-layer metrics from the traced half of a traced run (README.md
    maps each to the end-to-end metric it should move)."""
    res, records = out["result"], out["records"]
    spans = [tuple(s) for s in res["spans"]]
    own = self_times(spans)
    by_req: dict[str, list] = {}
    for s in spans:
        if s[3] is not None:
            by_req.setdefault(s[3], []).append(s)
    dur = lambda s: s[5] - s[4]  # noqa: E731
    m: dict[str, tuple] = {}

    def per_type(kinds, name, unit, fn, scale=1000.0) -> None:
        for t in kinds:
            vals = []
            for r in records:
                if r["kind"] == t and r["req"] in by_req:
                    vals.append(fn(r, by_req[r["req"]]))
            m[f"{name}.{t}"] = (p50(vals) * scale, unit)

    def api_time(r, ss) -> float:
        roots = {s[0] for s in ss if s[2] == "server.request"}
        return r["lat"] - sum(dur(s) for s in ss if s[2].startswith("api.") and s[1] in roots)

    def summed(name, self_time=False):
        return lambda r, ss: sum(own[s[0]] if self_time else dur(s) for s in ss if s[2] == name)

    jobs = res["req_jobs"]
    per_type(TYPES, "server.self_ms", "ms", api_time)
    for key in ("jobs", "stages", "tasks"):
        per_type(TYPES, f"spark.{key}", "count", lambda r, ss, key=key: jobs.get(r["req"], {}).get(key, 0), 1)
    per_type(READ_TYPES, "api.drain_ms", "ms", summed("api.drain", True))
    per_type(READ_TYPES, "api.encode_ms", "ms", summed("api.encode", True))
    per_type(READ_TYPES, "api.read_bytes", "B", lambda r, ss: r["bytes"], 1)
    per_type(TYPES[1:], "engine.read_build_ms", "ms", summed("engine.read_build"))
    per_type(("read_all", "read_filtered"), "engine.fetch_ms", "ms", summed("engine.fetch", True))

    reads = [r for r in records if r["kind"] != "write" and r["req"] in by_req]
    m["esdsl.translate_ms"] = (p50([summed("esdsl.translate")(r, by_req[r["req"]]) for r in reads]) * 1000, "ms")
    m["esdsl.calls"] = (
        statistics.mean([sum(s[2] == "esdsl.translate" for s in by_req[r["req"]]) for r in reads]) if reads else 0,
        "count",
    )

    named = lambda n: [s for s in spans if s[2] == n]  # noqa: E731
    counts, samples = res["counts"], res["samples"]
    m["validation.raw_rows_ms"] = (p50([dur(s) for s in named("validation.raw_rows")]) * 1000, "ms")
    m["validation.points"] = (counts.get("validation.points", 0), "count")
    m["validation.errors"] = (counts.get("validation.errors", 0), "count")
    m["engine.write_prep_ms"] = (p50([own[s[0]] for s in named("engine.write")]) * 1000, "ms")
    m["engine.append_ms"] = (p50([dur(s) for s in named("engine.append") if s[6].get("ok")]) * 1000, "ms")
    for sink in ("points", "series"):
        m[f"engine.sink_ms.{sink}"] = (p50(samples.get(f"engine.sink_ms.{sink}", [])), "ms")
    appends = counts.get("engine.appends", 0)
    m["engine.appends"] = (appends, "count")
    attempts, granted = counts.get("lock.attempts", 0), counts.get("lock.granted", 0)
    m["lock.attempts"] = (attempts, "count")
    m["lock.refused"] = (attempts - granted, "count")
    m["lock.granted_share"] = (granted / attempts if attempts else 0.0, "ratio")

    # storage as the load left it, before any compaction after the load
    stats = [st for sp, st in (res["stats_loaded"] or res["stats"]).items() if sp != "warmup"]
    m["storage.points_files"] = (sum(b["files"] for st in stats for b in st["points"].values()), "count")
    m["storage.files_per_append"] = (counts.get("storage.files_appended", 0) / appends if appends else 0.0, "count")
    m["storage.bytes"] = (sum(stored_bytes(st) for st in stats), "B")
    head = lambda rs: p50([r["lat"] for r in rs if r["ok"] and r["kind"] == w.headline])  # noqa: E731
    m["trace.overhead_ms"] = ((head(records) - head(out["plain"])) * 1000, "ms")
    return m


def stream_layer_metrics(w: "StreamMixed", out: dict) -> dict:
    """Compaction and streaming metrics, which only stream_mixed moves."""
    res = out["result"]
    counts = res["counts"]
    m: dict[str, tuple] = {}
    for sink in ("rollup", "hist"):
        m[f"engine.sink_ms.{sink}"] = (p50(res["samples"].get(f"engine.sink_ms.{sink}", [])), "ms")
    m["compact.runs"] = (counts.get("compact.runs", 0), "count")
    m["compact.ms"] = (sum(s[5] - s[4] for s in res["spans"] if s[2] == "compact") * 1000, "ms")
    m["compact.bytes_rewritten"] = (counts.get("compact.bytes_rewritten", 0), "B")
    since = out["traced_from"]
    prog = [p for p in res["progress"]
            if p["numInputRows"] > 0
            and datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() >= since]
    m["stream.epochs"] = (len(prog), "count")
    m["stream.rows_per_epoch"] = (statistics.mean([p["numInputRows"] for p in prog]) if prog else 0, "count")
    m["stream.add_batch_ms"] = (p50([p["durationMs"].get("addBatch", 0) for p in prog]), "ms")
    m["stream.trigger_ms"] = (p50([p["durationMs"].get("triggerExecution", 0) for p in prog]), "ms")
    m["stream.backlog_files"] = (w.backlog, "count")
    m["gen.late_ms"] = (p50(w.late) * 1000, "ms")
    return m


def per_layer_names() -> dict[str, str]:
    """Name → unit of the per-layer metrics in BENCHMARK.json. A traced
    run prints each of them, 0 where its workload does not exercise the
    layer; the report line carries everything it measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds through the finally blocks that stop the system under test
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "orestes_spark" / "__init__.py").is_file():
        print(f"no orestes_spark package beside {HERE.name}/: nothing to measure", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    stamp = {"nproc": len(os.sched_getaffinity(0)), "git_head": git_head()}
    steal0 = steal_ticks()
    w = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
    out = w.run()
    stamp["steal_ticks"] = steal_ticks() - steal0
    records = out["plain"] + out["records"]
    gated, reported = w.end_to_end(out)

    ops: dict[str, dict] = {}
    for r in records:
        o = ops.setdefault(r["kind"], {"attempted": 0, "failed": 0, "wrong": 0})
        o["attempted"] += 1
        o["failed"] += not r["ok"]
        o["wrong"] += r.get("wrong", False)
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    wrong = sum(o["wrong"] for o in ops.values())
    correct = wrong == 0 and all(ok for _, ok, _ in w.checks)

    reported["setup_s"] = (out["setup_s"], "s")
    reported["error_share"] = (failed / attempted if attempted else 0.0, "ratio")
    reported["peak_rss_mb"] = (out["result"]["peak_rss_mb"], "MB")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "load_model": w.load_model, "inputs": w.inputs, "why": w.__doc__,
        "stamp": stamp, "ops": ops,
        "metrics": {k: {"value": v if not isinstance(v, dict) else v["value"], "unit": u,
                        **({"pct": v["pct"], "samples": v["samples"]} if isinstance(v, dict) else {})}
                    for k, (v, u) in sorted(reported.items())},
        "failed_checks": [(n, d) for n, ok, d in w.checks if not ok],
        "failures": sorted({r.get("detail", "") for r in records if not r["ok"]})[:5],
    }
    if args.trace:
        layers = w.layer_metrics(out)
        report["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())}
        metrics = {k: {"value": layers.get(k, (0, u))[0], "unit": u} for k, u in per_layer_names().items()}
    else:
        metrics = {
            "setup_s": {"value": out["setup_s"], "unit": "s"},
            "lat_p50_s": {"value": gated["lat_p50_s"], "unit": "s"},
            "ok_per_s": {"value": gated["ok_per_s"], "unit": "1/s"},
        }
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
