#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 kgbench/run.py --workload small_batch --seed 1 --seconds 20 --trace 0

Run it from the repository root. It compiles the engine (kgbench/build.py),
generates the workload's inputs from the seed, and times cold builds: each
build is a fresh JVM that brings up the SparkSession IngestJob.main builds
and calls IngestJob.run once on the generated parquet. Builds repeat until
--seconds of build time have passed (at least one). Checks run after each
build, outside the timed region. The last stdout line is one JSON object:

    {"correct": ..., "attempted": builds, "failed": builds failing a check,
     "metrics": {name: {"value": v, "unit": u}}}

With --trace 0 the metrics are the end-to-end ones; setup_s is the median
over the build JVMs and SETUP_PROBES JVMs that only bring up the session.
With --trace 1 the run makes one traced build (kgbench.Trace, which calls
the real IngestJob.run under a listener and a stack sampler) and reports the
per-layer ones; if the seed has no untraced build of this build hash yet, it
first makes one, for the hash guard and trace.overhead_s.

Workloads (sizes in kgbench.Gen; inputs, oracle edges and the seed's
reference hash are cached per build, workload and seed under
.bench_build/kgbench/seeds/<build hash>, so a seed pays them once per build
and no build is checked against another build's reference):
  small_batch  500 CorpusSynth docs: the per-build fixed cost dominates.
  value_dense  750 earnings-call docs dense in amounts, percentages and
               dates: ~10.5k amount entities share the (MONEY, "lion")
               blocking key, more than Linker's maxBucketSize, and ~1.6k
               percentages share (PERCENT, "cent").

Checks, each failing the build it belongs to: committed chunks give back
every input span sequence; nodes, edges and mentions_final hash-equal
every other build of the same seed and build hash; the traced build
hash-equals the untraced one and its stage windows cover >= 95% of its
wall time. Triple
precision and recall against SerialOracle.run are reported as measured.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build as kbuild  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("small_batch", "value_dense")
SETUP_PROBES = 1
JVM_TIMEOUT_S = 170
HEAP = ["-Xmx3g"]
OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
    "java.security.jgss/sun.security.krb5")]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


class Jvm:
    """Launches benchmark mains in fresh JVMs, with every file they write
    (Spark scratch, JVM temp files, logs) kept inside `scratch`."""

    def __init__(self, classes, scratch):
        self.classes = classes
        self.scratch = scratch
        self.tmp = os.path.join(scratch, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.n = 0

    def __call__(self, main, *args):
        """Runs `main` and returns the JSON of its `KGBENCH` stdout line."""
        self.n += 1
        cp = self.classes + os.pathsep + os.path.join(kbuild.spark_jars(), "*")
        cmd = [kbuild.java()] + HEAP + OPENS + [
            f"-Djava.io.tmpdir={self.tmp}", f"-Dspark.local.dir={self.tmp}",
            "-cp", cp, main] + list(args)
        err_path = os.path.join(self.scratch, f"jvm{self.n}.log")
        with open(err_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=self.scratch, stdout=subprocess.PIPE, stderr=err,
                                 text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except BaseException as e:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    raise RuntimeError(f"{main} {' '.join(args)}: timed out, see {err_path}")
                raise
        lines = [ln for ln in out.splitlines() if ln.startswith("KGBENCH ")]
        if p.returncode != 0 or not lines:
            with open(err_path) as f:
                sys.stderr.write(f.read()[-3000:])
            raise RuntimeError(f"{main} {' '.join(args)}: exit {p.returncode}")
        return json.loads(lines[-1][len("KGBENCH "):])


def load_json(path, default):
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    return default


def save_json(path, obj):
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(path + ".tmp", path)


INPUT_FILES = 8
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())])))])
META_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("company_name", pa.string()), ("stock_code", pa.string()),
    ("sector", pa.string()), ("year", pa.int32()), ("quarter", pa.string()),
    ("url", pa.string()), ("token_count", pa.int32())])


def write_inputs(d):
    """docs.jsonl -> docs/ and meta/ parquet, in INPUT_FILES files each, so
    the build reads them with the parallelism a multi-file corpus gives."""
    with open(os.path.join(d, "docs.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    step = -(-len(rows) // INPUT_FILES)
    for table, schema in (("docs", DOC_SCHEMA), ("meta", META_SCHEMA)):
        os.makedirs(os.path.join(d, table))
        for i in range(0, len(rows), step):
            part = rows[i:i + step]
            if table == "meta":
                part = [dict(r["meta"], doc_id=r["doc_id"]) for r in part]
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(d, table, f"part-{i // step:05d}.parquet"))
    os.remove(os.path.join(d, "docs.jsonl"))


def oracle_triples(inputs):
    with open(os.path.join(inputs, "oracle_edges.jsonl")) as f:
        return {tuple(json.loads(line)) for line in f}


def seed_dir(classes, workload, seed):
    """Where the inputs, oracle edges and reference of (workload, seed) live
    for the build in `classes`. The generator and the oracle are engine
    code, and the reference hash is the engine's output, so all three are
    keyed by the build's source hash."""
    build_hash = os.path.basename(classes).removeprefix("classes-")
    return os.path.join(kbuild.OUT, "seeds", build_hash, f"{workload}-{seed}")


def ref_path(classes, workload, seed):
    """The seed's reference: its content hash and untraced build_s values."""
    return os.path.join(seed_dir(classes, workload, seed), "ref.json")


def prepare(jvm, workload, seed, oracle):
    """Generated inputs for (workload, seed) and, if `oracle`, the oracle
    edges over them; each is made once per build."""
    d = seed_dir(jvm.classes, workload, seed)
    prep_path = os.path.join(d, "prep.json")
    if not os.path.isfile(prep_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        prep = jvm("kgbench.Gen", "docs", tmp, workload, str(seed))
        write_inputs(tmp)
        save_json(os.path.join(tmp, "prep.json"), prep)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        log(f"generated {workload} seed {seed}: {prep}")
    edges = os.path.join(d, "oracle_edges.jsonl")
    if oracle and not os.path.isfile(edges):
        stats = jvm("kgbench.Gen", "oracle", jvm.scratch, workload, str(seed))
        os.replace(os.path.join(jvm.scratch, "oracle_edges.jsonl"), edges)
        save_json(prep_path, load_json(prep_path, {}) | stats)
        log(f"oracle for {workload} seed {seed}: {stats}")
    return d


def check_build(con, inputs, work, ref):
    """Output checks of one committed build; returns the list of failures and
    records the seed's reference hash on first use."""
    failures = []
    bad = checks.span_mismatches(con, work, os.path.join(inputs, "docs"))
    if bad:
        failures.append(f"{bad} docs lost their span sequence")
    hashes = checks.kg_hashes(con, work)
    if "hash" not in ref:
        ref["hash"] = hashes
    elif ref["hash"] != hashes:
        failures.append(f"content hash {hashes} differs from this seed's {ref['hash']}")
    return failures


def untraced(jvm, con, inputs, ref, scratch, oracle=None):
    """One timed build plus its checks, and its triple precision and recall
    when given the oracle's triples."""
    work = os.path.join(scratch, f"work{jvm.n + 1}")
    r = jvm("kgbench.Run", "build", work, os.path.join(inputs, "docs"),
            os.path.join(inputs, "meta"))
    failures = check_build(con, inputs, work, ref)
    input_bytes = (checks.dir_bytes(os.path.join(inputs, "docs"), ".parquet") +
                   checks.dir_bytes(os.path.join(inputs, "meta"), ".parquet"))
    r["stored_bytes_per_input_byte"] = checks.dir_bytes(work) / input_bytes
    if oracle is not None:
        r["triple_precision"], r["triple_recall"] = checks.precision_recall(
            checks.triples(con, checks.table_glob(work, "edges")), oracle)
    ref.setdefault("build_s", []).append(r["build_s"])
    shutil.rmtree(work)
    for f in failures:
        log(f"check failed: {f}")
    return r, failures


END_TO_END = (("build_s", "s"), ("setup_s", "s"), ("stored_bytes_per_input_byte", "B/B"),
              ("triple_precision", "ratio"), ("triple_recall", "ratio"))


def run_untraced(jvm, con, inputs, ref, seconds, scratch):
    oracle = oracle_triples(inputs)
    setups = [jvm("kgbench.Run", "setup")["setup_s"] for _ in range(SETUP_PROBES)]
    builds, failed, measured = [], 0, 0.0
    while not builds or measured < seconds:
        r, failures = untraced(jvm, con, inputs, ref, scratch, oracle)
        measured += r["build_s"]
        builds.append(r)
        failed += bool(failures)
    setups += [b["setup_s"] for b in builds]
    metrics = {name: {"value": statistics.median(
        setups if name == "setup_s" else [b[name] for b in builds]), "unit": unit}
        for name, unit in END_TO_END}
    return len(builds), failed, metrics


def run_traced(jvm, con, inputs, ref, scratch, report_path):
    failures = []
    if not ref.get("build_s"):
        failures += untraced(jvm, con, inputs, ref, scratch)[1]
    work = os.path.join(scratch, "traced")
    trace_path = os.path.join(scratch, "trace.json")
    jvm("kgbench.Trace", work, os.path.join(inputs, "docs"), os.path.join(inputs, "meta"),
        trace_path)
    with open(trace_path) as f:
        trace = json.load(f)
    failures += check_build(con, inputs, work, ref)
    committed = layers.commits(work)
    values = layers.layer_metrics(trace, committed, statistics.median(ref["build_s"]),
                                  checks.file_count(work))
    if values["trace.coverage"] < 0.95:
        failures.append(f"trace covers {values['trace.coverage']:.3f} of the build, < 0.95")
    save_json(report_path, {"spans": layers.span_report(trace, committed), "metrics": values})
    for f in failures:
        log(f"check failed: {f}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in layers.metric_units()}
    return 1, int(bool(failures)), metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = time.monotonic()
    classes = kbuild.build()
    log(f"build ready in {time.monotonic() - t0:.1f}s: {classes}")
    scratch = os.path.join(kbuild.OUT, "runs", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    jvm = Jvm(classes, scratch)
    inputs = prepare(jvm, a.workload, a.seed, oracle=not a.trace)
    ref = load_json(ref_path(classes, a.workload, a.seed), {})
    con = checks.connect()
    try:
        if a.trace:
            report = os.path.join(kbuild.OUT, "reports", f"{a.workload}-{a.seed}-trace.json")
            os.makedirs(os.path.dirname(report), exist_ok=True)
            attempted, failed, metrics = run_traced(jvm, con, inputs, ref, scratch, report)
        else:
            attempted, failed, metrics = run_untraced(jvm, con, inputs, ref, a.seconds, scratch)
    finally:
        con.close()
    save_json(ref_path(classes, a.workload, a.seed), ref)
    shutil.rmtree(scratch)
    log(f"done in {time.monotonic() - t0:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
