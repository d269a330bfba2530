#!/usr/bin/env python3
"""Benchmark of the graft CDC pipeline and curation operators.

Usage, from the repository root:

    python3 perfbench/run.py --workload <cdc_live|curate> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library's sources with the
harness under perfbench/src (sbt, offline); later runs reuse the build
until a source file changes. Each run starts one JVM (Spark local[4]),
which generates the workload's inputs from the seed, runs it, and writes
a run record. This script turns the record into metrics, checks the
program's outputs against the generator's own model and a DuckDB oracle,
prints every metric with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones (the run adds a Spark listener and a codec
probe). Exits non-zero, printing no result, when the run cannot be made.

Self-tests of the statistics, the freshness mapping and the output checks:

    python3 -m unittest discover -s perfbench/tests
"""
import argparse
import bisect
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
STAMP = os.path.join(HERE, "target", "perfbench-stamp.txt")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("cdc_live", "curate")

# Spark on JDK 17 outside spark-submit needs these opens (the library's
# own build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# curate runs on the JIT's C1 tier only: its pass is mostly Catalyst
# planning, whose C2 compiles still take more than a core through the
# measured pass and leave each JVM with differently optimized code, so
# the pass time of one JVM differed from the next by up to 25%
JVM_FLAGS = {"cdc_live": [], "curate": ["-XX:TieredStopAtLevel=1"]}

END_TO_END = {
    "freshness_p50_ms": "ms", "rows_per_s": "rows/s", "setup_s": "s", "heap_peak_mb": "MB",
}


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library and the harness unless the build is current;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("library sources not found: run from a repository checkout")
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                with open(CLASSPATH) as g:
                    return g.read()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime / fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        raise BenchError(f"build failed, see {log}")
    cp = lines[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, work):
    record = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JVM_FLAGS[workload]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", record]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(record):
        raise BenchError(f"benchmark JVM failed (exit {r.returncode}), "
                         f"see {os.path.join(work, 'jvm.log')}")
    with open(record) as f:
        return json.load(f)


# ---------------------------------------------------------- statistics

def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    `q` of the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def weighted_percentile(pairs, q):
    """Nearest-rank percentile of (value, weight) samples."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    if not pairs:
        raise ValueError("percentile of no samples")
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def median(values):
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ freshness

def map_ticks_to_batches(ticks, batches):
    """For each tick (offset, due_ns, late_ns, rows), the batch whose
    source-offset range (start, end] holds its offset; from the progress
    events only, no rows are read. Raises when an offset is in no batch."""
    bs = sorted(batches, key=lambda b: b["end_offset"])
    ends = [b["end_offset"] for b in bs]
    out = []
    for t in ticks:
        i = bisect.bisect_left(ends, t[0])
        if i == len(bs) or not (bs[i]["start_offset"] < t[0] <= bs[i]["end_offset"]):
            raise BenchError(f"source offset {t[0]} is in no committed batch")
        out.append((t, bs[i]))
    return out


def live_metrics(live):
    w0, w1 = live["window_ns"]
    # a batch's rows are its source offsets' rows: numInputRows counts
    # each branch of the producer's union that reads the source
    rows_of = {}
    for t, b in map_ticks_to_batches(live["ticks"], live["batches"]):
        rows_of[b["batch_id"]] = rows_of.get(b["batch_id"], 0) + t[3]
    for b in live["batches"]:
        b["rows"] = rows_of.get(b["batch_id"], 0)
    ticks = [t for t in live["ticks"] if w0 <= t[1] < w1]
    pairs = map_ticks_to_batches(ticks, live["batches"])
    samples = [((b["commit_ns"] - t[1]) / 1e6, t[3]) for t, b in pairs]
    rows = sum(t[3] for t in ticks)
    sent = sorted((t[1] + t[2], t[3]) for t in live["ticks"])
    sent_at, sent_rows = [s[0] for s in sent], [0]
    for s in sent:
        sent_rows.append(sent_rows[-1] + s[1])
    by_offset = sorted((t[0], t[3]) for t in live["ticks"])
    offsets, offset_rows = [o[0] for o in by_offset], [0]
    for o in by_offset:
        offset_rows.append(offset_rows[-1] + o[1])
    # the batches run in the measured phase, as the measured spans are
    batches = [b for b in live["batches"] if b["phase"] == "measure"]
    backlog = [sent_rows[bisect.bisect_right(sent_at, b["commit_ns"])] -
               offset_rows[bisect.bisect_right(offsets, b["end_offset"])] for b in batches]
    return {
        "freshness_p50_ms": weighted_percentile(samples, 0.5),
        "stream.freshness_p90_ms": weighted_percentile(samples, 0.9),
        "rows_per_s": committed_rate({b["batch_id"]: b for _, b in pairs}.values()),
        "gen.late_ms_max": max(t[2] for t in ticks) / 1e6,
        "gen.rows": rows,
        "stream.backlog_rows_max": max(backlog),
    }, batches


def committed_rate(batches):
    """Rows committed per second between the first and the last commit of
    the batches: the rows of every batch after the first, over the time
    from the first commit to the last."""
    bs = sorted(batches, key=lambda b: b["commit_ns"])
    if len(bs) < 2:
        raise BenchError("fewer than two committed batches")
    return sum(b["rows"] for b in bs[1:]) / ((bs[-1]["commit_ns"] - bs[0]["commit_ns"]) / 1e9)


def curate_metrics(curate):
    passes = [sum(p) for p in curate["passes"]]
    return {
        "freshness_p50_ms": percentile(passes, 0.5) * 1000.0,
        "rows_per_s": (curate["docs"] + curate["vecs"]) / percentile(passes, 0.5),
        "gen.late_ms_max": 0.0,
        "gen.rows": curate["docs"] + curate["vecs"],
    }, []


STREAM_DURATIONS = {
    "stream.trigger_ms_p50": "triggerExecution", "stream.add_batch_ms_p50": "addBatch",
    "stream.wal_commit_ms_p50": "walCommit", "stream.commit_offsets_ms_p50": "commitOffsets",
    "stream.query_planning_ms_p50": "queryPlanning", "stream.latest_offset_ms_p50": "latestOffset",
}


def stream_metrics(batches):
    if not batches:
        return {"stream.batches": 0}
    m = {"stream.batches": len(batches),
         "stream.rows_per_batch_p50": percentile([b["rows"] for b in batches], 0.5)}
    for name, key in STREAM_DURATIONS.items():
        m[name] = percentile([b["duration_ms"].get(key, 0) for b in batches], 0.5)
    return m


# --------------------------------------------------------------- checks

def read_rows(path, columns):
    import pyarrow.parquet as pq
    if not os.path.exists(path):
        return []
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def state_mismatches(expected, actual):
    """Rows (id, seq, name, amount) that differ between the two states:
    missing, extra, duplicated or with other values, counted by key."""
    exp, act, dup = {}, {}, 0
    for r in expected:
        exp[r[0]] = r
    for r in actual:
        dup += r[0] in act
        act[r[0]] = r
    return dup + sum(1 for k in exp.keys() | act.keys() if exp.get(k) != act.get(k))


def dead_letter_counts(schema_ids, known_schema_id):
    """Dead letters per class, classified as the consumer's split defines:
    no schema id means the transport bytes never unpacked; an id the
    registry does not know, an unknown schema; a known id, a corrupt payload."""
    counts = {"transport": 0, "payload": 0, "unknown_schema": 0}
    for s in schema_ids:
        if s is None:
            counts["transport"] += 1
        elif s == known_schema_id:
            counts["payload"] += 1
        else:
            counts["unknown_schema"] += 1
    return counts


def cdc_checks(checks):
    """Returns [(name, ok, detail)] for the snapshot and dead-letter checks."""
    cols = ["id", "seq", "name", "amount"]
    bad = state_mismatches(read_rows(checks["expected_state"], cols),
                           read_rows(checks["actual_state"], cols))
    dead = dead_letter_counts([r[0] for r in read_rows(checks["dead_dir"], ["schema_id"])],
                              checks["schema_id"])
    return [("snapshot", bad == 0, f"{bad} keys differ from the generator's model"),
            ("dead_letters", dead == checks["planted"],
             f"dead letters {dead}, planted {checks['planted']}")]


def norm(v):
    """One value as the oracle comparison prints it: floats to 9
    significant digits, bytes as hex, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def result_hash(columns, rows):
    """Order-insensitive hash of a query result: columns sorted by name,
    rows normalized and sorted."""
    ix = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256("|".join(columns[i] for i in ix).encode())
    for r in sorted(tuple(norm(r[i]) for i in ix) for r in rows):
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def clusters(pairs):
    """(doc_id, cluster_rep) for every document in a pair: the smallest id
    of its connected component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in list(parent)]


def curate_checks(curate):
    """Each query's result hash against the hash of the expected result
    over the same corpus: the query's DuckDB oracle SQL, except for
    d_dup_clusters, whose expected clusters are the connected components
    of the d_minhash_lsh oracle's pairs (its oracle SQL computes the same
    closure with a recursive CTE that costs more than the whole pass)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(curate['corpus_dir'], t + '.parquet')}/*.parquet'")
    expected = {}
    for q in curate["queries"]:
        if q != "d_dup_clusters":
            exp = con.execute(curate["oracle_sql"][q])
            expected[q] = ([d[0] for d in exp.description], exp.fetchall())
    pairs = [(r[0], r[1]) for r in expected["d_minhash_lsh"][1]]
    expected["d_dup_clusters"] = (["doc_id", "cluster_rep"], clusters(pairs))
    out = []
    for q in curate["queries"]:
        got = con.execute(
            f"SELECT * FROM '{os.path.join(curate['out_dir'], q)}/*.parquet'")
        got_hash = result_hash([d[0] for d in got.description], got.fetchall())
        exp_hash = result_hash(*expected[q])
        out.append((f"curate.{q}", got_hash == exp_hash,
                    f"result hash {got_hash[:12]}, expected {exp_hash[:12]}"))
    return out


def dir_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


# ------------------------------------------------------------------ run

def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def evaluate(record, workload):
    """Metrics and check results from one run record."""
    if workload == "cdc_live":
        m, batches = live_metrics(record["live"])
    else:
        m, batches = curate_metrics(record["curate"])
    setup = record["setup"]
    m["setup_s"] = setup["session_s"] + median(setup["repeats_s"]) + setup["warmup_s"]
    m["heap_peak_mb"] = record["heap_peak_mb"]
    m.update(stream_metrics(batches))
    if workload == "curate":
        checks = curate_checks(record["curate"])
    else:
        checks = cdc_checks(record["checks"])
        c = record["checks"]
        m["cdc.snapshot_rows"] = len(read_rows(c["actual_state"], ["id"]))
        with open(os.path.join(c["state_dir"], "_latest")) as f:
            m["cdc.snapshot_bytes"] = dir_bytes(os.path.join(c["state_dir"], f.read().strip()))
    layers = record.get("layers")
    if layers is not None:
        m.update(layers)
        if batches:
            rows = sum(b["rows"] for b in batches)
            dead = layers["pipeline.dead_letters_written"]
            m["pipeline.decoded_rows"] = rows - dead
            m["pipeline.dead_letter_ratio"] = dead / rows
            m["cdc.write_amplification"] = layers["cdc.rows_written"] / max(rows - dead, 1)
    return m, checks


def tally(record, checks):
    """(attempted, failed): the run's operations and output checks; an
    operation that threw and a check that found a mismatch each fail."""
    return (record["attempted"] + len(checks),
            len(record["errors"]) + sum(1 for _, ok, _ in checks if not ok))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        cp = build()
        work = os.path.join(WORK, a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        record = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work)
        metrics, checks = evaluate(record, a.workload)
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for e in record["errors"]:
        print(f"failed operation: {e}")
    print("jvm: " + ", ".join(f"{k} = {v}" for k, v in sorted(record["jvm"].items())) +
          f", jit_ms_measured = {record['jit_ms_measured']}")
    attempted, failed = tally(record, checks)
    print(f"failed_ratio = {failed / attempted:.6f} ratio ({failed} of {attempted})")
    wanted = per_layer_names() if a.trace else list(END_TO_END.items())
    out = {}
    for name, unit in wanted:
        value = float(metrics.get(name, 0.0))
        out[name] = {"value": value, "unit": unit}
        print(f"{name} = {value:.6g} {unit}")
    if a.trace:  # the end-to-end numbers of the traced run, for the overhead
        for name, unit in END_TO_END.items():
            print(f"traced {name} = {float(metrics[name]):.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
