#!/usr/bin/env python3
"""The repository's benchmark: closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
drivers from source with sbt (about a minute) and generates the inputs;
later runs reuse both from .bench_build/perfbench/. Every run checks the
outputs and prints, last, one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer split, which adds the layer passes and a single-core
reference run.
See perfbench/README.md for the workloads and what every metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
START = time.monotonic()
LIMIT_S = 175        # a run must end within 180 s
BUILD_LIMIT_S = 880  # ... or 900 s when it builds
RESERVE_S = 40       # after the last iteration: checks, reference, oracle

# workload -> the series behind op_p50_ms (its per-request operation)
OP_SERIES = {"dbt_build": "preview_ms", "stream_ingest": "freshness_ms"}
# workload -> seconds of --seconds that buy one measured iteration: a run
# measures max(MIN_ITERS, round(S / this)) iterations, a count that does
# not depend on how fast the program is (3 and 4 at S = 21)
ITER_BUDGET_S = {"dbt_build": 7.0, "stream_ingest": 5.0}
MIN_ITERS = 2
END_TO_END = [("setup_s", "s"), ("iter_s", "s"), ("op_p50_ms", "ms")]

GATES = ["bigram_logppl", "triangle_counts"]  # DbtBuild.Gates
# spans every traced run reports (zero where the workload opens none)
SPANS = ["project.seeds", "project.run", "project.noop_run", "project.tests",
         "engine.preview", "engine.append_rows", "engine.read_stream",
         "streaming.refresh_available", "engine.append_deduped",
         "engine.ensure_ann_index", "engine.append_ann_indexed", "engine.ann_topk",
         "engine.forget_rows"] + [f"gate.{g}" for g in GATES]
SPAN_UNITS = {"p50_ms": "ms", "self_ms": "ms", "jobs": "count", "tasks": "count",
              "exec_run_ms": "ms", "shuffle_bytes": "bytes"}
LISTENER = [("sql.queries", "count"), ("sql.analysis_ms", "ms"), ("sql.planning_ms", "ms"),
            ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
            ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms")]
GAUGES = [("catalog.streams", "count"), ("storage.files", "count"),
          ("storage.bytes", "bytes"), ("streaming.state_rows", "count"),
          ("spark.cached_rdds_end", "count"), ("index.dedup_drop_ratio", "ratio"),
          ("index.rebuilds", "count")]


def per_layer_units():
    """Every per-layer metric of a traced run, with its unit, in report order."""
    out = []
    for s in SPANS:
        for f, u in SPAN_UNITS.items():
            if not (s.startswith("gate.") and f == "exec_run_ms"):
                out.append((f"{s}.{f}", u))
    out += [("catalog.list_ms", "ms")] + LISTENER + GAUGES
    out += [("trace.overhead_pct", "%"), ("ref1.iter_ms", "ms"), ("error_rate", "ratio")]
    return out


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the engine and drivers (once per source version); return
    the runtime classpath and whether this call compiled."""
    stamp = os.path.join(STATE, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        rec = json.load(open(stamp))
        if rec.get("digest") == digest:
            return rec["classpath"], False
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        r = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                     stdout=subprocess.PIPE, stderr=out, timeout=800)
    lines = [l for l in r.stdout.decode().splitlines() if ".jar" in l and ":" in l]
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed (rc={r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, True


def left_s(limit):
    return limit - (time.monotonic() - START)


def run_proc(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on
    timeout and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        sys.exit(f"perfbench: {cmd[0]} timed out after {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, None)


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def jvm(cp, work, args, tag, limit):
    """One driver process; returns its raw record. No iteration starts
    once it would leave less than RESERVE_S of the run's time limit."""
    out = os.path.join(work, f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Djava.awt.headless=true"]
           + [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args
           + ["--work", work, "--out", out,
              "--deadline-ms", str(int(1000 * (time.time() + left_s(limit) - RESERVE_S)))])
    log = os.path.join(work, f"{tag}.log")
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir stays inside the checkout
    with open(log, "w") as f:
        r = run_proc(cmd, timeout=max(1, left_s(limit) - 5), cwd=work, env=env, stdout=f,
                     stderr=subprocess.STDOUT)
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: driver process '{tag}' failed (rc={r.returncode})")
    return json.load(open(out))


# ---------------------------------------------------------- correctness

def gate_oracle(rec, data):
    """Compare each gate's rows with its DuckDB oracle, through the
    repository's verification contract (tools/verify_common.py).
    Returns (attempted, failed, notes)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from verify_common import canon, create_views
    out = os.path.join(rec["root"], "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    create_views(con, data)
    failed, notes = 0, []
    for g in GATES:
        got = con.sql(f"SELECT * FROM read_parquet('{out}/{g}/*.parquet')")
        exp = con.sql(oracle[g])
        gc, ec = [c.lower() for c in got.columns], [c.lower() for c in exp.columns]
        g_rows, e_rows = got.fetchall(), exp.fetchall()
        if sorted(gc) != sorted(ec) or canon(g_rows, gc) != canon(e_rows, ec):
            failed += 1
            notes.append(f"gate {g}: {len(g_rows)} rows differ from the DuckDB oracle's {len(e_rows)}")
    return len(GATES), failed, notes


# -------------------------------------------------------------- metrics

def per_layer(rec, ref):
    """The traced run's per-layer metrics and its span count."""
    series, gauges, lis = rec["series"], rec["gauges"], rec["listeners"]
    iters = max(1, rec["iters"].get("traced", 0))
    split = harness.span_split([(s[1], s[2]) for s in rec["spans"]],
                               [tuple(j) for j in rec["jobs"]])
    by = {}
    for (name, _, _), row in zip(rec["spans"], split):
        by.setdefault(name, []).append(row)
    m = {}
    for name, rows in by.items():
        n = len(rows)
        m[f"{name}.p50_ms"] = harness.median([r[0] for r in rows])
        for f, col in (("self_ms", 2), ("jobs", 3), ("tasks", 4), ("exec_run_ms", 5),
                       ("shuffle_bytes", 6)):
            m[f"{name}.{f}"] = sum(r[col] for r in rows) / n
        print(f"[perfbench] span {name}: {n} calls, p50 {m[f'{name}.p50_ms']:.1f} ms, "
              f"self {m[f'{name}.self_ms']:.1f} ms/call")
    m["catalog.list_ms"] = harness.median(series.get("catalog.list_ms", [])) or 0.0
    for n, _ in LISTENER:
        m[n] = lis[n] / iters
    for n, _ in GAUGES:
        m[n] = lis.get(n, gauges.get(n, 0.0))
    traced = harness.median(series.get("iter_ms", []))
    base = harness.median(series.get("untraced_iter_ms", []))
    if traced and base:  # both kinds ran (absent only when an iteration failed)
        m["trace.overhead_pct"] = 100.0 * (traced / base - 1.0)
    ref_iters = ref["series"].get("iter_ms", []) if ref else []  # none past the deadline
    m["ref1.iter_ms"] = harness.median(ref_iters) or 0.0
    return m, len(split)


def human(workload, rec):
    """The workload's named end-to-end figures, for the log."""
    s = rec["series"]

    def med(k):  # 0 only when every iteration failed (then correct is false)
        return harness.median(s.get(k, [])) or 0.0
    rows = [("setup_s", med("setup_ms") / 1000, "s", len(s["setup_ms"]))]

    def lat(name, key):
        xs = s.get(key, [])
        rows.append((f"{name}_p50_ms", harness.median(xs), "ms", len(xs)))
        rows.append((f"{name}_p90_ms", harness.tail_percentile(xs, 0.9), "ms", len(xs)))
    if workload == "dbt_build":
        rows.append(("build_s", med("build_ms") / 1000, "s", len(s.get("build_ms", []))))
        rows.append(("noop_build_s", med("noop_build_ms") / 1000, "s",
                     len(s.get("noop_build_ms", []))))
        lat("preview", "preview_ms")
        rows.append(("gates_s", med("gates_ms") / 1000, "s", len(s.get("gates_ms", []))))
    else:
        lat("freshness", "freshness_ms")
        rows.append(("ingest_rows_per_s",
                     sum(s.get("shard_rows", [])) / (sum(s.get("freshness_ms", [])) / 1000 or 1),
                     "1/s", len(s.get("shard_rows", []))))
        rows.append(("dedup_ingest_p50_ms", med("dedup_ingest_ms"), "ms",
                     len(s.get("dedup_ingest_ms", []))))
        lat("topk", "topk_ms")
        rows.append(("forget_s", med("forget_ms") / 1000, "s", len(s.get("forget_ms", []))))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_SERIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources next to perfbench/ (run from a full checkout)")
    os.makedirs(STATE, exist_ok=True)
    cp, compiled = build()
    limit = BUILD_LIMIT_S if compiled else LIMIT_S
    import gen
    data, small = os.path.join(STATE, "data", "sf0.1"), os.path.join(STATE, "data", "sf0.01")
    gen.ensure(data, 1.0)
    gen.ensure(small, 0.1)
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    iters = max(MIN_ITERS, round(a.seconds / ITER_BUDGET_S[a.workload]))
    common = ["--workload", a.workload, "--seed", str(a.seed), "--iters", str(iters),
              "--trace", str(a.trace), "--data", data, "--small-data", small,
              "--partitions", str(os.cpu_count() or CORES)]
    records = jvm(cp, work, common + ["--cores", str(CORES)], "bench", limit)
    rec = records["main"]
    attempted, failed, notes = rec["attempted"], rec["failed"], list(rec["failures"])
    if rec["iters"].get("layer_passes") and a.workload == "dbt_build":
        at, fa, no = gate_oracle(rec, small)
        attempted, failed, notes = attempted + at, failed + fa, notes + no
    ref = records.get("ref1")
    if ref:
        attempted, failed = attempted + ref["attempted"], failed + ref["failed"]
        notes += [f"local[1]: {n}" for n in ref["failures"]]
    for n in notes:
        print(f"[perfbench] {n}")
    for name, v, unit, n in human(a.workload, rec):
        shown = "n/a (fewer than %d samples beyond it)" % harness.MIN_TAIL if v is None else f"{v:.4f}"
        print(f"[perfbench] {a.workload} {name} = {shown} {unit} (n={n})")
    rate = harness.error_rate(attempted, failed)
    print(f"[perfbench] {a.workload} error_rate = {rate:.4f} ({failed}/{attempted}); "
          f"session start {rec['session_ms'] / 1000:.2f} s; iterations {rec['iters']}")
    if a.trace:
        metrics, nspans = per_layer(rec, ref)
        metrics["error_rate"] = rate
        over = metrics.get("trace.overhead_pct")
        print(f"[perfbench] {nspans} spans, {len(rec['jobs'])} jobs; tracing overhead "
              + ("n/a" if over is None else f"{over:+.1f}% per iteration"))
        units = per_layer_units()
    else:
        s = rec["series"]
        med = lambda k: harness.median(s.get(k, [])) or 0.0
        metrics = {"setup_s": med("setup_ms") / 1000, "iter_s": med("iter_ms") / 1000,
                   "op_p50_ms": med(OP_SERIES[a.workload])}
        units = END_TO_END
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                                  for k, u in units}}))


if __name__ == "__main__":
    main()
