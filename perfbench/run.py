#!/usr/bin/env python3
"""Ingestion benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark from
source with sbt (once per source change), runs one workload in a fresh JVM
at local[4], checks the outputs and prints, as its last line, one JSON
object with the keys correct, attempted, failed and metrics. The lines
before it are a human-readable report. The exit code is 0 only when every
output check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
DATA = os.path.join(HERE, ".data")
WORKLOADS = ["backlog_bsm", "stream_arrivals", "registry_hot"]
RUN_LIMIT_S = 170

# the packages Spark needs opened, shared with build.sbt's forked tests
with open(os.path.join(HERE, "jvm-opens.txt")) as _fh:
    ADD_OPENS = [line.strip() for line in _fh if line.strip()]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "jvm-opens.txt"),
              os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, log_path, timeout, cwd):
    """Run cmd in its own process group with output to log_path; kill the
    whole group on timeout and wait for it. Returns the exit code."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def fixtures_overlay(cp):
    """The engine's query registry (graft.Queries) reads golden SQL from a
    fixtures root fixed as an absolute path when it is first used, so in any
    other checkout registry_hot dies before its first query. Put a copy of
    graft/Queries$.class whose root is the relative "fixtures" (the JVM runs
    in the checkout's root) ahead of the compiled classes; it is rebuilt with
    them. Returns the classpath with the copy first, or cp unchanged when the
    engine no longer holds an absolute root."""
    rel = "graft/Queries$.class"
    classes = [d for d in cp.split(os.pathsep) if os.path.isfile(os.path.join(d, rel))]
    if not classes:
        fail(f"{rel} not found on the build classpath")
    with open(os.path.join(classes[0], rel), "rb") as fh:
        code = fh.read()
    # the root is one CONSTANT_Utf8 entry (tag 1, u2 byte length, bytes)
    # holding an absolute path that ends in /fixtures
    entry = lambda s: b"\x01" + len(s).to_bytes(2, "big") + s
    roots = {m.group(2) for m in re.finditer(rb"\x01(..)(/[\x21-\x7e]*/fixtures)", code, re.S)
             if int.from_bytes(m.group(1), "big") == len(m.group(2))}
    if len(roots) != 1:
        return cp
    old, new = roots.pop(), b"fixtures"
    overlay = os.path.join(BUILD, "overlay")
    shutil.rmtree(overlay, ignore_errors=True)
    os.makedirs(os.path.join(overlay, "graft"))
    with open(os.path.join(overlay, rel), "wb") as fh:
        fh.write(code.replace(entry(old), entry(new)))
    return overlay + os.pathsep + cp


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    log = os.path.join(BUILD, "build.log")
    code = run_bounded(["sbt", "-batch", "compile", "export Runtime / fullClasspath"],
                       log, 850, HERE)
    if code != 0:
        fail(f"build failed (exit {code}):\n{tail(log)}")
    cp = None
    with open(log, errors="replace") as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("/") and "classes" in line:
                cp = line
    if cp is None:
        fail(f"no classpath in build output:\n{tail(log)}")
    cp = fixtures_overlay(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def prune_inputs(workload, seed):
    """Keep only this seed's cached inputs for the workload."""
    keep = f"{workload}-{seed}"
    for d in glob.glob(os.path.join(DATA, f"{workload}-*")):
        name = os.path.basename(d)
        if name != keep and not name.startswith(keep + "-"):
            shutil.rmtree(d, ignore_errors=True)


VOCAB = ["the", "a", "data", "spark", "stream", "batch", "table", "row", "column",
         "value", "key", "join", "group", "sort", "scan", "filter", "query", "agg",
         "hash", "merge", "window", "order", "line", "part", "customer", "vector",
         "fast", "slow", "big", "small", "record", "file", "bundle", "serial", "rule",
         "sink", "index", "metric", "bucket", "object"]
REGISTRY_ROWS = {"documents": 1500, "embeddings": 600, "events": 10000}


def registry_tables(d, seed):
    """Seeded registry_hot tables with the schemas of the engine's test data:
    documents with planted exact and near duplicates, embeddings clustered
    around ten labelled centres, events spread over 30 days. Cached in d."""
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng(seed)
    n = REGISTRY_ROWS

    words = [rng.integers(0, len(VOCAB), k) for k in rng.integers(10, 80, n["documents"])]
    texts = []
    for i, w in enumerate(words):
        if i % 25 == 1:            # near duplicate: one word changed
            w = words[i - 1].copy()
            w[min(2, len(w) - 1)] = (w[min(2, len(w) - 1)] + 1) % len(VOCAB)
        elif i % 97 == 5:          # exact duplicate
            w = words[i - 2]
        texts.append(" ".join(VOCAB[j] for j in w))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n["documents"])].tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(d, "documents.parquet"))

    label = rng.integers(0, 10, n["embeddings"])
    centres = rng.uniform(-0.2, 0.2, (10, 64))
    emb = (centres[label] + rng.uniform(-0.1, 0.1, (n["embeddings"], 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        os.path.join(d, "embeddings.parquet"))

    ev = n["events"]
    step = 30 * 86400 * 1000000 // ev
    ts = 1704067200000000 + np.arange(ev) * step + rng.integers(0, step, ev)
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ev), pa.int64()),
        "event_type": kinds[rng.integers(0, len(kinds), ev)].tolist(),
        "value": np.round(rng.uniform(0, 200, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]}),
        os.path.join(d, "events.parquet"))
    open(os.path.join(d, "_COMPLETE"), "w").close()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def oracle_failures(outputs):
    """Compare each registry query's output with its DuckDB oracle over the
    same seeded tables: same column names, same multiset of rows (floats to
    ten significant digits). Returns the failure messages."""
    import duckdb
    with open(os.path.join(outputs, "check.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    for t in REGISTRY_ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{spec['tables']}/{t}.parquet'")
    failures = []
    for q, sql in sorted(spec["oracles"].items()):
        t0 = time.monotonic()
        try:
            got = con.execute(f"SELECT * FROM '{outputs}/{q}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            failures.append(f"{q}: oracle check error: {e}")
            continue
        if sorted(gcols) != sorted(wcols):
            failures.append(f"{q}: columns {gcols} != oracle {wcols}")
            continue

        def key(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(norm(r[i]) for i in order) for r in rows)
        if key(grows, gcols) != key(wrows, wcols):
            failures.append(f"{q}: {len(grows)} rows differ from the oracle's {len(wrows)}")
        print(f"oracle {q}: {len(wrows)} rows in {time.monotonic() - t0:.2f} s", file=sys.stderr)
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if os.path.abspath(os.getcwd()) != ROOT:
        fail("run from the repository root")
    cp = build()
    t_start = time.monotonic()
    os.makedirs(OUT, exist_ok=True)
    prune_inputs(a.workload, a.seed)
    gen_s = 0.0
    if a.workload == "registry_hot":
        t0 = time.monotonic()
        registry_tables(os.path.join(DATA, f"registry_hot-{a.seed}"), a.seed)
        gen_s = time.monotonic() - t0
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    result = os.path.join(OUT, f"result-{tag}.json")
    log = os.path.join(OUT, f"jvm-{tag}.log")
    if os.path.exists(result):
        os.remove(result)
    # Spark's block manager and the JVM's temporary files stay in the checkout
    tmp = os.path.join(OUT, f"tmp-{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--result", result])
    code = run_bounded(cmd, log, RUN_LIMIT_S - (time.monotonic() - t_start), ROOT)
    shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(result):
        fail(f"run failed (exit {code}) without a result:\n{tail(log)}")
    with open(result) as fh:
        r = json.load(fh)
    if a.workload == "registry_hot":
        r["notes"].insert(0, f"input generation {gen_s:.2f} s")
        outputs = os.path.join(OUT, f"registry-{a.seed}-{a.trace}")
        failures = oracle_failures(outputs) if os.path.isdir(outputs) else ["no registry outputs"]
        shutil.rmtree(outputs, ignore_errors=True)
        r["failed"] += len(failures)
        r["correct"] = r["correct"] and not failures
        r["notes"] += [f"check failed: {f}" for f in failures]
        r["failed_frac"] = r["failed"] / r["attempted"]
    for note in r["notes"]:
        print(note)
    print(f"failed_frac = {r['failed_frac']} ({r['failed']} of {r['attempted']})")
    for name, m in r["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    correct = bool(r["correct"]) and code == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"] if correct or r["failed"] else 1,
                      "metrics": r["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
