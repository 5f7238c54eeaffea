"""The registry workload's process: the ``queries`` and ``operators``
layers, with Spark in this process and no HTTP.

Started by ``run.py`` with one JSON argument. It writes seeded
synthetic tables in the testdata layout (``documents``, ``embeddings``,
``events``, ``lineitem``) under the working directory and starts Spark;
that is the set-up. It then runs passes until ``seconds`` have passed
(at least one). A pass runs every sampled query with ``.collect()``.
The first pass starts cold: each query builds the shared artifacts it
reads (pair graphs, band and sketch indexes, models) on first use, as
a fresh process does. After the passes, each query's last result is
compared with its DuckDB oracle by the comparison of
``tools/check_correctness.py``. A traced run also counts Spark jobs
around each query's build and action, and then times one
``build_shared_artifacts(invalidate=True)`` per artifact. The result
goes to ``registry_result.json``.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from daemon import JobCounter, tree_peak_rss_mb  # noqa: E402

# Three of ROADMAP's five worst eager-job offenders, one query that also
# runs Python UDF workers, and four low-job queries that bypass both.
# Two offenders are left out. doc_bpe_trained's DuckDB oracle expands
# twelve chained CTE rounds without materializing them and runs for many
# minutes, so its answer could not be checked in a run.
# doc_keep_manifest makes a cold pass about a quarter longer, more than
# a full set of benchmark runs has room for.
SAMPLE = (
    "emb_incremental_semdedup",
    "doc_incremental_neardup",
    "doc_incremental_span_bloom",
    "multimodal_incremental_phash",
    "os_count_points",
    "os_read_grouped",
    "tpch_q1",
    "ts_asof_join",
)

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark line"
    " sort window order data column join small customer query big stream group"
    " filter vector"
).split()
LANGS = (("en", 44), ("zh", 15), ("es", 15), ("de", 14), ("fr", 12))


def make_tables(seed: int, out: Path, docs: int = 500, vecs: int = 500,
                events: int = 10_000, lines: int = 60_000) -> dict[str, int]:
    """Tables with the schemas and sf0.01 sizes of the testdata tables
    described in TESTDATA.md."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = random.Random(seed)
    out.mkdir(parents=True, exist_ok=True)
    langs = [lang for lang, w in LANGS for _ in range(w)]
    texts = [" ".join(r.choice(VOCAB) for _ in range(r.randint(8, 90))) for _ in range(docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [r.choice(langs) for _ in range(docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    emb = []
    for _ in range(vecs):
        v = [r.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        emb.append([x / norm for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(vecs)], pa.int32()),
    }), out / "embeddings.parquet")

    t0 = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    ts = sorted(r.randrange(span_us) for _ in range(events))
    pq.write_table(pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=u) for u in ts], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(150) for _ in range(events)], pa.int64()),
        "event_type": [r.choice(("signup", "error", "click", "view", "purchase")) for _ in range(events)],
        "value": [round(r.uniform(0, 20), 2) for _ in range(events)],
        "props": [json.dumps({"k": r.randrange(100)}) for _ in range(events)],
    }), out / "events.parquet")

    d0 = datetime.datetime(1995, 1, 2)
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r.randrange(15_000) for _ in range(lines)], pa.int64()),
        "l_partkey": pa.array([r.randrange(2_000) for _ in range(lines)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(100) for _ in range(lines)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(lines)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(lines)],
        "l_extendedprice": [round(r.uniform(900, 100_000), 2) for _ in range(lines)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(lines)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(lines)],
        "l_returnflag": [r.choice("RAN") for _ in range(lines)],
        "l_linestatus": [r.choice("OF") for _ in range(lines)],
        "l_shipdate": pa.array([d0 + datetime.timedelta(days=r.randrange(2_500)) for _ in range(lines)],
                               pa.timestamp("us")),
    }), out / "lineitem.parquet")
    return {"documents": docs, "embeddings": vecs, "events": events, "lineitem": lines}


def run_pass(spark, data: str, jobs: JobCounter | None) -> dict:
    """One pass: every sampled query, built and collected. With ``jobs``,
    the Spark jobs each query starts are counted, and ``trace_s`` is the
    time the counting itself took."""
    from orestes_spark.queries import QUERIES

    def job_ids() -> set[int]:
        nonlocal trace_s
        t = time.perf_counter()
        ids = jobs.ids()
        trace_s += time.perf_counter() - t
        return ids

    trace_s = 0.0
    t0 = time.perf_counter()
    queries = {}
    for name in SAMPLE:
        before = job_ids() if jobs else set()
        t1 = time.perf_counter()
        try:
            df = QUERIES[name](spark, data)
            t2 = time.perf_counter()
            mid = job_ids() if jobs else set()
            t3 = time.perf_counter()
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            queries[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            continue
        t4 = time.perf_counter()
        queries[name] = {
            "build_ms": (t2 - t1) * 1000, "action_ms": (t4 - t3) * 1000,
            "build_jobs": len(mid - before), "action_jobs": len(job_ids() - mid) if jobs else 0,
            "df": df, "rows": rows,
        }
    return {"pass_s": time.perf_counter() - t0, "trace_s": trace_s, "queries": queries}


def oracle_problems(data: str, last: dict) -> dict[str, str]:
    """Compare each query's last result with its DuckDB oracle, as
    ``tools/check_correctness.py`` does: columns, types, row count,
    order-insensitive values."""
    import duckdb

    sys.path.insert(0, str(HERE.parent / "tools"))
    from check_correctness import canon_type, normalize

    from orestes_spark.queries import ORACLES

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name, q in last.items():
        if "error" in q:
            out[name] = q["error"]
            continue
        sql = ORACLES[name]
        otypes = {d[0]: canon_type(d[1]) for d in con.execute("DESCRIBE " + sql).fetchall()}
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        scols = q["df"].columns
        stypes = {f.name: canon_type(f.dataType.simpleString()) for f in q["df"].schema.fields}
        srows = [tuple(r) for r in q["rows"]]
        if sorted(scols) != sorted(ocols):
            out[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
        elif any(stypes[c] != otypes[c] for c in scols):
            out[name] = f"types {stypes} != {otypes}"
        elif normalize(srows, scols) != normalize(orows, ocols):
            out[name] = f"values differ ({len(srows)} vs {len(orows)} rows)"
    return out


def main() -> None:
    cfg = json.loads(sys.argv[1])
    work = Path(cfg["work"])
    t_start = time.perf_counter()
    data = work / "data"
    sizes = make_tables(cfg["seed"], data)
    from orestes_spark.queries import build_shared_artifacts
    from orestes_spark.session import get_spark

    spark = get_spark(
        "perfbench-registry",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"},
    )
    jobs = JobCounter(spark) if cfg["trace"] else None
    setup_s = time.perf_counter() - t_start

    passes = []
    deadline = time.perf_counter() + cfg["seconds"]
    while not passes or time.perf_counter() < deadline:
        passes.append(run_pass(spark, str(data), jobs))
    artifacts = build_shared_artifacts(spark, str(data), invalidate=True) if cfg["trace"] else {}
    problems = oracle_problems(str(data), passes[-1]["queries"])
    result = {
        "setup_s": setup_s,
        "sizes": sizes,
        "pass_s": [p["pass_s"] for p in passes],
        "trace_s": [p["trace_s"] for p in passes],
        "artifacts": artifacts,
        "queries": [{n: {k: v for k, v in q.items() if k not in ("df", "rows")}
                     for n, q in p["queries"].items()} for p in passes],
        "problems": problems,
        "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
    }
    (work / "registry_result.json").write_text(json.dumps(result))
    spark.stop()
    print("DONE", flush=True)


if __name__ == "__main__":
    main()
