"""The system under test for the HTTP workloads, in its own process.

Started by ``run.py`` with one JSON argument (see ``run.py:daemon_config``).
It builds the Spark session, starts the orestes daemon through the
public ``embedded.startup`` (which calls ``server.serve``), preloads a
space with one bulk ``engine.write`` and starts ``start_ingest`` where
the workload asks for them, prints ``READY <port>`` and then obeys
one-line commands on stdin:

    trace   turn the layer spans on (traced runs only)
    drain   block until the streaming query has consumed every file
    compact compact the streamed space (after the load)
    stop    write the result file, stop Spark, exit

Input data comes from the seed in the argument; nothing here reads
outside the benchmark's working directory.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import Tracer, wrap_call, wrap_gen  # noqa: E402

DAY_MS = 86_400_000


def preload_frame(spark, p: dict):
    """``p["points"]`` points over ``p["series"]`` series (3 tags of 10
    values), spread evenly over ``p["days"]`` day buckets. The same
    formulas are evaluated in ``run.py`` to check the answers, so the
    values are exact in double precision on both sides."""
    from pyspark.sql import functions as F

    n_series, per = p["series"], p["points"] // p["series"]
    step = p["days"] * DAY_MS // per
    i = F.col("id")
    s = i % n_series
    j = (i / n_series).cast("long")
    tag = lambda k, d: F.concat(F.lit(k), (F.floor(s / d) % 10).cast("string"))  # noqa: E731
    return spark.range(p["points"]).select(
        (F.lit(p["base"]) + j * step + s).alias("time_ms"),
        (((i * 7919 + p["salt"]) % 100_003) / F.lit(8.0)).alias("value"),
        F.create_map(
            F.lit("a"), tag("a", 1), F.lit("b"), tag("b", 10), F.lit("c"), tag("c", 100)
        ).alias("tags"),
    )


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant: the JVM and its Python workers."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of the process tree under ``pid``, in MB."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024.0


class JobCounter:
    """Spark jobs, stages and tasks started in a window, read from the
    status tracker. Streaming jobs carry the query's run id as their job
    group; everything else runs without one."""

    def __init__(self, spark) -> None:
        self.st = spark.sparkContext.statusTracker()
        self.groups: list[str | None] = [None]

    def ids(self) -> set[int]:
        out: set[int] = set()
        for g in self.groups:
            out.update(self.st.getJobIdsForGroup(g))
        return out

    def since(self, before: set[int]) -> dict[str, int]:
        jobs = sorted(self.ids() - before)
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = self.st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def instrument(tracer: Tracer, jobs: JobCounter, req_jobs: dict) -> None:
    """Wrap the public functions of each layer, from outside the
    package: server → api → validation / esdsl → engine → commit
    backend, plus compaction."""
    from orestes_spark import api, esdsl, server, validation
    from orestes_spark.commit_backend import PosixCommitBackend
    from orestes_spark.engine import OrestesEngine as E

    handler = server._Handler
    do_post = handler.do_POST

    def traced_post(self) -> None:
        if not tracer.enabled:
            return do_post(self)
        req = self.headers.get("X-Bench-Req")
        before = jobs.ids()
        frame = tracer.begin("server.request", req)
        try:
            do_post(self)
        finally:
            tracer.end(frame)
            req_jobs[req] = jobs.since(before)

    handler.do_POST = traced_post

    wrap_call(tracer, server, "handle_request", "api.handle")
    wrap_gen(tracer, server, "stream_read_response", "api.encode")
    wrap_gen(tracer, api, "stream_read", "api.drain")

    def raw_rows(result, args, kwargs) -> None:
        tracer.count("validation.points", len(args[0]))
        tracer.count("validation.errors", len(result[1]))

    wrap_call(tracer, validation, "validate_raw_rows", "validation.raw_rows", raw_rows)
    wrap_call(tracer, esdsl, "translate", "esdsl.translate")
    wrap_call(tracer, E, "write", "engine.write")

    append = E._append

    def traced_append(self, valid, space, *a, **kw):
        if not tracer.enabled:
            return append(self, valid, space, *a, **kw)
        files = lambda: sum(b["files"] for b in self.stats(space)["points"].values())  # noqa: E731
        before = files()
        frame = tracer.begin("engine.append")
        ok = False
        try:
            result = append(self, valid, space, *a, **kw)
            ok = True
            return result
        finally:
            tracer.end(frame, ok=ok)
            if ok:
                tracer.count("engine.appends")
                tracer.count("storage.files_appended", files() - before)
                for sink, sec in self.last_append_timings.items():
                    tracer.sample(f"engine.sink_ms.{sink.removeprefix('write_')}", sec * 1000)

    E._append = traced_append
    for name in ("read", "count_points", "get_stream_list", "select_distinct"):
        wrap_call(tracer, E, name, "engine.read_build")
    wrap_gen(tracer, E, "read_fetchers", "engine.fetch")

    def lock_attempt(result, args, kwargs) -> None:
        tracer.count("lock.attempts")
        tracer.count("lock.granted", bool(result))

    wrap_call(tracer, PosixCommitBackend, "try_create_lock", "commit_backend.try_create_lock", lock_attempt)

    compact = E.compact

    def traced_compact(self, space="default", *a, **kw):
        if not tracer.enabled:
            return compact(self, space, *a, **kw)
        st = self.stats(space)
        frame = tracer.begin("compact")
        try:
            rewritten = compact(self, space, *a, **kw)
        finally:
            tracer.end(frame)
        tracer.count("compact.runs")
        tracer.count(
            "compact.bytes_rewritten",
            sum(t.get(b, {}).get("bytes", 0) for t in st.values() for b in rewritten),
        )
        return rewritten

    E.compact = traced_compact


def main() -> None:
    cfg = json.loads(sys.argv[1])
    work = Path(cfg["work"])
    from orestes_spark import embedded
    from orestes_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"},
    )
    tracer, req_jobs = Tracer(), {}
    jobs = JobCounter(spark)
    if cfg["trace"]:
        instrument(tracer, jobs, req_jobs)
    orestes = embedded.startup(
        {"warehouse": str(work / "warehouse"), "port": 0, "spaces": cfg["spaces"]}, spark
    )
    engine = orestes.engine
    if cfg.get("preload"):
        p = cfg["preload"]
        errors = engine.write(preload_frame(spark, p), p["space"])
        if errors:
            raise SystemExit(f"preload rejected points: {errors[:3]}")
    query = None
    if cfg.get("stream"):
        from orestes_spark.streaming.ingest import RAW_DDL, start_ingest

        s = cfg["stream"]
        source = (
            spark.readStream.schema(RAW_DDL)
            .option("maxFilesPerTrigger", 1)
            .json(s["incoming"])
        )
        query = start_ingest(
            engine,
            source,
            s["space"],
            checkpoint=s["checkpoint"],
            auto_compact_files=s["auto_compact_files"],
        )
        jobs.groups.append(str(query.runId))
    print(f"READY {orestes.server_address[1]}", flush=True)

    loaded = None  # stats before the compaction after the load, if one ran
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "trace":
            tracer.enabled = True
        elif cmd == "drain" and query is not None:
            query.processAllAvailable()
        elif cmd == "compact" and query is not None:
            loaded = {sp: engine.stats(sp) for sp in cfg["spaces"]}
            engine.compact(cfg["stream"]["space"])
        elif cmd == "stop":
            break
        print("OK", flush=True)

    tracer.enabled = False
    result = {
        "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
        "stats": {sp: engine.stats(sp) for sp in cfg["spaces"]},
        "stats_loaded": loaded,
        "progress": [],
        "spans": tracer.spans,
        "counts": dict(tracer.counts),
        "samples": tracer.samples,
        "req_jobs": req_jobs,
    }
    if query is not None:
        result["progress"] = [json.loads(p.json) for p in query.recentProgress]
        if query.exception() is not None:
            result["stream_error"] = str(query.exception())
        query.stop()
    (work / "daemon_result.json").write_text(json.dumps(result))
    orestes.teardown()
    spark.stop()
    print("DONE", flush=True)


if __name__ == "__main__":
    main()
