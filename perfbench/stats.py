"""Metric arithmetic and output checks for run.py, kept apart so the
tests can exercise them without a JVM."""
import glob
import json
import os
import sys

# name -> (unit, better); the end-to-end metrics of an untraced run
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput": ("ops/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "success_rate": ("fraction", "higher"),
    "heap_live_mb": ("MiB", "lower"),
}
# printed too when the run has enough samples for it (p95_supported);
# no workload in BENCHMARK.json does at its run length
P95 = "latency_p95_ms"

# name -> unit; the per-layer metrics of a traced run, by layer
PER_LAYER = {
    "engine.session_ms": "ms",
    "tables.schema_jobs": "count", "tables.schema_ms": "ms",
    "queries.build_ms": "ms", "queries.eager_jobs": "count", "queries.eager_ms": "ms",
    "plans.catalyst_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.task_wait_ms": "ms", "exec.failed_tasks": "count",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "ops.pinned_rdds": "count", "ops.pinned_mb": "MiB",
    "etl.whitelist_ms": "ms", "etl.decode_ms": "ms", "etl.aggregate_ms": "ms",
    "etl.enrich_ms": "ms", "etl.sink_ms": "ms", "etl.dropped_mac": "count",
    "etl.dropped_invalid": "count",
    "stream.batches": "count", "stream.empty_batches": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.offset_commit_ms": "ms", "stream.state_rows": "count", "stream.state_mb": "MiB",
    "sink.files": "count", "sink.bytes": "bytes",
    "index.batch_ms": "ms", "index.fold_batches": "count", "index.jobs_per_batch": "count",
    "index.generations": "count", "index.files": "count", "index.bytes": "bytes",
    "trace.overhead_ms": "ms",
}

P95_MIN_SAMPLES = 200  # so that at least 10 samples lie beyond the 95th percentile


def p95_supported(n):
    """True when n samples put at least ten beyond the 95th percentile."""
    return n >= P95_MIN_SAMPLES


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res, checks, setup_s, seconds):
    """The untraced run's result line from the JVM's op list."""
    bad = checks.get("failed", {})
    ops = []
    for op in res["ops"]:
        if op["error"] is None and op["name"] in bad:
            op = dict(op, error=f"wrong result: {bad[op['name']]}", units=0.0)
        ops.append(op)
    attempted = max(1, len(ops))
    failed = min(attempted, sum(op["error"] is not None for op in ops)
                 + len(res.get("errors", [])))
    ok = [op["ms"] for op in ops if op["error"] is None]
    spent = sum(op["ms"] for op in ops)
    throughput = sum(op["units"] for op in ops if op["error"] is None) / (spent / 1000.0) \
        if spent else 0.0
    metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in {
        "setup_s": setup_s,
        "throughput": throughput,
        "latency_p50_ms": percentile(ok, 50),
        "success_rate": (attempted - failed) / attempted,
        "heap_live_mb": res["heap_live_mb"],
    }.items()}
    if p95_supported(len(ok)):
        metrics[P95] = {"value": percentile(ok, 95), "unit": "ms"}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
            "samples": {"latency": len(ok), "p95_supported": p95_supported(len(ok))},
            "errors": failed > 0}


def traced_result(res, checks, setup_s):
    """The traced run's result line: every per-layer metric."""
    layers = res["layers"]
    missing = sorted(set(PER_LAYER) - set(layers))
    if missing:
        raise SystemExit(f"[perfbench] traced run lacks {missing}")
    failed = len(checks.get("failed", {}))
    ops = sum(1 for s in res.get("spans", []) if s["parent"] == "run")
    return {"correct": failed == 0, "attempted": max(1, ops),
            "failed": failed,
            "metrics": {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()},
            "samples": {"setup_s": setup_s}, "errors": failed > 0}


def print_layers(layers):
    """Each layer's self time and counts, and the tracing overhead."""
    g = layers.get
    rows = [
        ("Engine", g("engine.session_ms"), ""),
        ("Tables/Catalog", g("tables.schema_ms"), f"schema jobs {g('tables.schema_jobs'):.0f}"),
        ("queries", g("queries.build_ms") - g("tables.schema_ms") - g("queries.eager_ms"),
         f"eager jobs {g('queries.eager_jobs'):.0f} / {g('queries.eager_ms'):.0f} ms"),
        ("plans", g("plans.catalyst_ms"), ""),
        ("exec", g("exec.action_ms") - g("plans.catalyst_ms"),
         f"jobs {g('exec.jobs'):.0f} stages {g('exec.stages'):.0f} tasks {g('exec.tasks'):.0f}"),
        ("ops", 0.0, f"pinned rdds {g('ops.pinned_rdds'):.0f} / {g('ops.pinned_mb'):.1f} MiB"),
        ("etl", sum(g(k) for k in ("etl.whitelist_ms", "etl.decode_ms", "etl.aggregate_ms",
                                   "etl.enrich_ms", "etl.sink_ms")),
         f"dropped mac {g('etl.dropped_mac'):.0f} invalid {g('etl.dropped_invalid'):.0f}"),
        ("streaming", g("stream.trigger_ms"),
         f"batches {g('stream.batches'):.0f} (empty {g('stream.empty_batches'):.0f})"),
        ("BucketedIndex", g("index.batch_ms"),
         f"folds {g('index.fold_batches'):.0f} generations {g('index.generations'):.0f}"),
    ]
    print(f"{'layer':<16}{'self ms':>12}  counts", file=sys.stderr)
    for name, ms, counts in rows:
        print(f"{name:<16}{ms:>12.1f}  {counts}", file=sys.stderr)
    print(f"tracing overhead (traced - untraced): {g('trace.overhead_ms'):.1f} ms",
          file=sys.stderr)


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[ns]")
        elif df[c].dtype == object:
            # lists and arrays compare by their value
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(work, inputs):
    """Compares each checked query result with DuckDB's answer for its
    oracle SQL over the same parquet files; queries without an oracle get
    a rows-only check (the query ran and wrote a readable result)."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    check = os.path.join(work, "check")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(check, "queries.txt")) as f:
        names = f.read().split()
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    failed, passed, rows_only = {}, 0, 0
    for name in names:
        qdir = os.path.join(check, name)
        if not glob.glob(os.path.join(qdir, "*.parquet")):
            failed[name] = "no result written"
            continue
        got = pq.read_table(qdir).to_pandas()
        if name not in oracle:
            rows_only += 1
            continue
        try:
            want = con.execute(oracle[name]).df()
            s, o = _canon(got), _canon(want)
            if list(s.columns) != list(o.columns) or len(s) != len(o):
                failed[name] = f"shape {list(s.columns)}x{len(s)} vs {list(o.columns)}x{len(o)}"
                continue
            kinds = [[t.kind + str(getattr(t, "itemsize", "")) for t in d.dtypes] for d in (s, o)]
            if kinds[0] != kinds[1]:
                failed[name] = f"dtypes {kinds[0]} vs {kinds[1]}"
                continue
            pd.testing.assert_frame_equal(s, o, check_exact=True)
            passed += 1
        except Exception as e:  # a wrong answer or an oracle error alike
            failed[name] = str(e).splitlines()[-1][:300] if str(e) else type(e).__name__
    return {"failed": failed, "passed": passed, "rows_only": rows_only}
