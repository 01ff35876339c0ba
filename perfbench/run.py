#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload ingest_live|ingest_catchup|query_board \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program and the harness
(cached under .bench_build/perfbench), generates the seeded inputs, runs
the workload in one JVM on local[4], checks the outputs, prints a report
and, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (see perfbench/README.md). It exits
non-zero when an output check fails or the run could not complete.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import board_data  # noqa: E402
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest_live", "ingest_catchup", "query_board")
BOARD_SCALE = 0.2  # a fifth of the sf0.01 row counts
JVM_TIMEOUT_S = 165
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false"] + [
    opt for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
    for opt in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = (("setup_s", "s"), ("latency_ms", "ms"), ("throughput_per_s", "1/s"))

STREAM_PHASES = (("sources.poll", "latestOffset"), ("streaming.wal_commit", "walCommit"),
                 ("streaming.get_batch", "getBatch"),
                 ("streaming.query_planning", "queryPlanning"),
                 ("streaming.add_batch", "addBatch"))
SPARK_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_ms",
                  "spark.gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                  "spark.spill_bytes", "plans.planning_ms", "util.barrier_jobs",
                  "util.barrier_ms", "util.barrier_bytes")
SELF_LAYERS = ("batch", "sources.poll", "sources.transport",
               "streaming.wal_commit", "streaming.get_batch", "streaming.query_planning",
               "streaming.add_batch", "streaming.transform", "sinks.fan_out",
               "sinks.jdbc_upsert", "sinks.parquet_write")
# The board queries, in the harness's order (perfbench/scala/perfbench/Board.scala).
SPOT_QUERIES = ("q01_pricing", "q03_cursor_filter", "q05_gap_audit", "q07_dedup_union",
                "q09_locator", "q11_vertex", "q13_enrich")
GRAPH_QUERIES = ("q69_pagerank", "q140_hits")


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {
        "sources.poll_ms": "ms", "sources.transport_ms": "ms",
        "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
        "streaming.transform_ms": "ms", "streaming.rows_in": "count",
        "streaming.rows_written": "count", "streaming.rows_kept_frac": "ratio",
        "sinks.jdbc_upsert_ms": "ms", "sinks.jdbc_upsert_growth": "ratio",
        "sinks.rows_merged_frac": "ratio", "sinks.parquet_write_ms": "ms",
        "spark.task_cpu_us_per_spot": "us",
    }
    for c in SPARK_COUNTERS:
        units[c] = "ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes") else "count"
    for layer in SELF_LAYERS:
        units[f"self.{layer}_ms"] = "ms"
    for fam in ("spot", "graph"):
        for part in ("driver", "job", "barrier_job"):
            units[f"self.{fam}.{part}_ms"] = "ms"
    units["query.board_spot_s"] = "s"
    units["query.board_graph_s"] = "s"
    for q in SPOT_QUERIES + GRAPH_QUERIES:
        units[f"query.{q}_s"] = "s"
    units["trace.overhead_latency_ms"] = "ms"
    units["ops_failed_frac"] = "ratio"
    return units


def launch(args, work, data, classpath):
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", os.pathsep.join(classpath), "perfbench.Harness",
                                 "--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                                 "--work", work]
    if data:
        cmd += ["--data", data]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def read_hashes(path):
    with open(path) as f:
        return [tuple(int(x) for x in line.split(",")) for line in f if line.strip()]


def counters_by_trace(result):
    out = {}
    for c in result["counters"]:
        out.setdefault(c["trace"], {})[c["name"]] = c["value"]
    return out


def ingest_spans(result, workload):
    """The per-batch freshness chain as spans: the batch root runs from
    availability to sink commit; the trigger's phases are placed from its
    StreamingQueryProgress; measured spans nest under add_batch."""
    offset = result["clock_offset_ns"]
    progress = {p["batch"]: p for p in result["progress"]}
    ctr = counters_by_trace(result)
    first = int(result["warmup_batches"])
    measured = [s for s in result["spans"] if not s["name"].endswith("job")]
    spans, next_id = [], max([s["id"] for s in measured] + [0]) + 1
    for i, (avail, commit) in enumerate(zip(result["availability_ns"], result["commit_ns"])):
        b = first + i
        tid = f"b{b}"
        root = {"id": next_id, "name": "batch", "trace": tid, "parent": 0,
                "start_ns": avail, "end_ns": commit}
        next_id += 1
        spans.append(root)
        p = progress.get(b)
        if p is None:
            continue
        t = p["start_ms"] * 1e6 + offset
        ids = {}
        for name, key in STREAM_PHASES:
            d = p["duration_ms"].get(key, 0) * 1e6
            spans.append({"id": next_id, "name": name, "trace": tid, "parent": root["id"],
                          "start_ns": t, "end_ns": t + d})
            ids[name] = next_id
            next_id += 1
            t += d
        add = spans[-1]
        if workload == "ingest_live":
            for s in measured:
                if s["trace"] != tid:
                    continue
                s = dict(s)
                if s["name"] == "sources.transport":
                    s["parent"] = ids["sources.poll"]
                elif s["parent"] == 0:
                    s["parent"] = ids["streaming.add_batch"]
                spans.append(s)
        else:
            # commitBatch is opaque from outside: its parquet write is the
            # "command" action the query-execution listener timed; the rest
            # of addBatch is the transform (cursor read, processBatch,
            # persist, stats, cursor write)
            write = ctr.get(tid, {}).get("actions.command.ms", 0) * 1e6
            cut = add["end_ns"] - write
            spans.append({"id": next_id, "name": "streaming.transform", "trace": tid,
                          "parent": add["id"], "start_ns": add["start_ns"], "end_ns": cut})
            spans.append({"id": next_id + 1, "name": "sinks.parquet_write", "trace": tid,
                          "parent": add["id"], "start_ns": cut, "end_ns": add["end_ns"]})
            next_id += 2
    return spans


def board_spans(result):
    """Query spans with the Spark jobs they ran as children (by trace id and
    time containment); barrier jobs are their own span name."""
    queries = [s for s in result["spans"] if s["name"] == "query"]
    by_trace = {}
    for q in queries:
        by_trace.setdefault(q["trace"], []).append(q)
    spans = list(queries)
    for s in result["spans"]:
        if not s["name"].endswith("job"):
            continue
        mid = (s["start_ns"] + s["end_ns"]) / 2
        owner = [q for q in by_trace.get(s["trace"], []) if q["start_ns"] <= mid <= q["end_ns"]]
        if owner:
            spans.append(dict(s, parent=owner[0]["id"]))
    return spans


def ingest(args, result, work, trace_metrics):
    committed = len(result["batch_first_spotnum"])
    expected = dict(read_hashes(os.path.join(work, "expected.csv")))
    sinks = {name: read_hashes(os.path.join(work, f"{name}.csv"))
             for name in result["sinks"].split(",")}
    failed, problems = stats.check_sinks(expected, sinks, result["batch_first_spotnum"])
    fresh = result["freshness_ms"]
    p, tail_v, beyond, n = stats.tail(fresh)
    e2e = {
        "setup_s": result["setup_s"],
        "latency_ms": stats.median(fresh),
        "throughput_per_s": result["spots_committed"] / result["timed_s"],
    }
    report = [
        ("freshness_p50_ms", e2e["latency_ms"], "ms", f"median of {n} batches"),
        ("freshness_tail_ms", tail_v, "ms", f"p{p:g}, {beyond} of {n} samples beyond"),
        ("spots_per_s", e2e["throughput_per_s"], "spots/s",
         f"{int(result['spots_committed'])} spots in {result['timed_s']:.2f} s"),
        ("setup_s", e2e["setup_s"], "s", f"{int(result['warmup_batches'])} warm-up batches"),
        ("ops_failed_frac", len(failed) / committed, "ratio",
         f"{len(failed)} of {committed} batches"),
    ]
    layers = {}
    if trace_metrics:
        layers = ingest_layers(args, result, work, sinks)
    return e2e, report, layers, committed, len(failed), problems


def ingest_layers(args, result, work, sinks):
    first = int(result["warmup_batches"])
    timed = [f"b{first + i}" for i in range(len(result["freshness_ms"]))]
    progress = [p for p in result["progress"] if p["batch"] >= first]
    ctr = counters_by_trace(result)
    spans = ingest_spans(result, args.workload)

    def phase(key):
        return stats.median([p["duration_ms"].get(key, 0) for p in progress])

    def span_ms(name):
        return stats.median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
                             if s["name"] == name and s["trace"] in timed])

    live = args.workload == "ingest_live"
    # rows into and out of processBatch, for the timed batches that reported progress
    rows_in = [p["rows"] for p in progress]
    rows_out = [result["rows_written_all"][p["batch"]] if live else
                pq_rows(os.path.join(work, "sink-parquet", f"batch-{p['batch']}"))
                for p in progress]
    out = {
        # the file source's latestOffset is its directory listing
        "sources.poll_ms": phase("latestOffset"),
        "sources.transport_ms": span_ms("sources.transport"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.transform_ms": span_ms("streaming.transform"),
        "streaming.rows_in": stats.median(rows_in),
        "streaming.rows_written": stats.median(rows_out),
        "streaming.rows_kept_frac": sum(rows_out) / sum(rows_in) if sum(rows_in) else 0.0,
        "sinks.jdbc_upsert_ms": span_ms("sinks.jdbc_upsert"),
        "sinks.jdbc_upsert_growth": stats.growth(
            [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
             if s["name"] == "sinks.jdbc_upsert" and s["trace"] in timed]),
        "sinks.rows_merged_frac": (len(sinks["derby"]) / sum(result["rows_written_all"])
                                   if live else 0.0),
        "sinks.parquet_write_ms": span_ms("sinks.parquet_write"),
    }
    for c in SPARK_COUNTERS:
        out[c] = stats.median([ctr.get(t, {}).get(c, 0.0) for t in timed])
    cpu = sum(ctr.get(t, {}).get("spark.task_cpu_ms", 0.0) for t in timed)
    out["spark.task_cpu_us_per_spot"] = cpu * 1000 / max(1.0, result["spots_committed"])
    split, _ = stats.self_split(spans, "batch")
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = split.get(layer, 0.0)
    return out


def pq_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def board(result, work, data, trace_metrics):
    import duckdb
    walls = result["walls_ms"]
    med = {q: stats.median(v) / 1000 for q, v in walls.items()}
    spot_s = sum(med[q] for q in result["spot_queries"])
    graph_s = sum(med[q] for q in result["graph_queries"])
    # the DuckDB oracle compare of the reference pass
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    dumps = os.path.join(work, "board_out")
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems, bad = [], set()
    for q in walls:
        try:
            spark_df = con.sql(f"SELECT * FROM '{dumps}/{q}/*.parquet'").df()
            problem = (stats.frame_problem(spark_df, con.sql(oracle[q]).df())
                       if q in oracle else "no oracle SQL")
        except Exception as e:  # an oracle that cannot run is a failed check
            problem = f"oracle error: {e}"
        if problem:
            problems.append(f"{q}: {problem}")
            bad.add(q)
    for q in result["digest_mismatches"]:
        problems.append(f"{q}: a timed result differs from the oracle-checked one")
    attempted = sum(len(v) for v in walls.values())
    failed = sum(len(walls[q]) for q in bad) + sum(
        1 for q in result["digest_mismatches"] if q not in bad)
    all_walls = [w for v in walls.values() for w in v]
    p, tail_v, beyond, n = stats.tail(all_walls)
    spot_p50 = stats.median([stats.median(walls[q]) for q in result["spot_queries"]])
    e2e = {
        "setup_s": result["setup_s"] + result["python_setup_s"],
        "latency_ms": spot_s * 1000 / len(result["spot_queries"]),
        "throughput_per_s": len(result["graph_queries"]) / graph_s,
    }
    report = [
        ("board_spot_s", spot_s, "s", f"sum of per-query median walls, {len(result['spot_queries'])} queries"),
        ("board_graph_s", graph_s, "s", f"sum of per-query median walls, {len(result['graph_queries'])} queries"),
        ("spot_query_p50_ms", spot_p50, "ms", "median of the spot queries' median walls"),
        ("query_tail_ms", tail_v, "ms", f"p{p:g} of all {n} timed runs, {beyond} beyond"),
        ("setup_s", e2e["setup_s"], "s", "session, tables and the oracle-checked reference pass"),
        ("ops_failed_frac", failed / attempted, "ratio", f"{failed} of {attempted} query runs"),
    ]
    layers = {}
    if trace_metrics:
        ctr = counters_by_trace(result)
        runs = {q: len(v) for q, v in walls.items()}
        for c in SPARK_COUNTERS:
            layers[c] = sum(ctr.get(q, {}).get(c, 0.0) / runs[q] for q in walls)
        layers["query.board_spot_s"] = spot_s
        layers["query.board_graph_s"] = graph_s
        for q in walls:
            layers[f"query.{q}_s"] = med[q]
        spans = board_spans(result)
        st = stats.self_times(spans)
        for fam, qs in (("spot", result["spot_queries"]), ("graph", result["graph_queries"])):
            for part, name in (("driver", "query"), ("job", "spark.job"),
                               ("barrier_job", "util.barrier_job")):
                layers[f"self.{fam}.{part}_ms"] = sum(
                    sum(st[s["id"]] for s in spans if s["name"] == name and s["trace"] == q)
                    / 1e6 / runs[q] for q in qs)
    return e2e, report, layers, attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    work = os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data, python_setup = None, 0.0
    if args.workload == "query_board":
        t0 = time.monotonic()
        data = os.path.join(work, "data")
        board_data.write(args.seed, BOARD_SCALE, data)
        python_setup = time.monotonic() - t0
    try:
        result = launch(args, work, data, classpath)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    result["python_setup_s"] = python_setup
    if args.workload == "query_board":
        e2e, report, layers, attempted, failed, problems = board(
            result, work, data, args.trace == 1)
    else:
        e2e, report, layers, attempted, failed, problems = ingest(
            args, result, work, args.trace == 1)
    correct = failed == 0 and not problems

    last = os.path.join(build.BUILD, "last", f"{args.workload}.json")
    if args.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(e2e, f)
    else:
        untraced = json.load(open(last)).get("latency_ms") if os.path.exists(last) else None
        layers["trace.overhead_latency_ms"] = (e2e["latency_ms"] - untraced
                                               if untraced is not None else 0.0)
        layers["ops_failed_frac"] = failed / attempted
        trace_dir = os.path.join(build.BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": result["spans"], "counters": result["counters"],
                       "progress": result.get("progress"), "layers": layers}, f)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name, value, unit, note in report:
        print(f"  {name:<28} {value:>14.4f} {unit:<8} {note}")
    if args.trace == 1:
        untraced_note = "" if layers["trace.overhead_latency_ms"] else " (no untraced run to compare)"
        for name, unit in per_layer_units().items():
            print(f"  {name:<40} {layers.get(name, 0.0):>16.4f} {unit}"
                  + (untraced_note if name == "trace.overhead_latency_ms" else ""))
    for p in problems[:20]:
        print(f"  CHECK FAILED: {p}")
    if args.trace == 0:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    else:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
