#!/usr/bin/env python3
"""graft's benchmark: a backup/restore/catalog workload and a query-suite workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the benchmark (graft's sources plus
the benchmark program in `perfbench/src`) with sbt and generates the synthetic
corpus; both are cached in `$CARGO_TARGET_DIR` (default `.bench_build`)
and rebuilt when their sources change. Each run then starts one JVM with
a fresh temporary directory, export destination and catalog root, runs
the workload's one fixed unit of work (a backup cycle or a query pass;
`--seconds` does not change how much work that is), checks its outputs
and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
untraced, the per-layer metrics traced). The exit code is non-zero when
any check fails.
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
import corpus  # noqa: E402
import stats  # noqa: E402

# workload: scale factor of the corpus it reads
WORKLOADS = {"backup_cycle": 0.02, "query_suite": 0.001}

END_TO_END = [("setup_s", "s"), ("throughput", "1/s"), ("op_geomean_ms", "ms")]

PER_LAYER = [
    ("orchestrate.session_s", "s"), ("orchestrate.pool_util", "ratio"),
    ("orchestrate.attempts", "count"), ("orchestrate.retries", "count"),
    ("engine.export_data_s", "s"), ("engine.export_critical_s", "s"),
    ("engine.import_data_s", "s"), ("engine.import_critical_s", "s"),
    ("engine.rows_written", "count"), ("engine.bytes_written_mb", "MB"),
    ("engine.write_amp", "ratio"), ("engine.incr_read_amp", "ratio"),
    ("incremental.plan_ms", "ms"), ("incremental.window_rows", "count"),
    ("catalog.record_s", "s"),
    ("catalog.session_info_ms", "ms"), ("catalog.list_table_info_ms", "ms"),
    ("catalog.table_names_ms", "ms"), ("catalog.exists_ms", "ms"),
    ("catalog.last_end_time_ms", "ms"), ("catalog.descriptor_rows_ms", "ms"),
    ("catalog.start_info_ms", "ms"), ("catalog.table_info_ms", "ms"),
    ("catalog.end_info_ms", "ms"), ("catalog.data_files", "count"),
    ("catalog.rows_per_result", "ratio"), ("catalog.compactions", "count"),
    ("catalog.compacting_write_ms", "ms"),
] + [
    (f"queries.{s}.{k}", u) for s in ("relational", "corpus")
    for k, u in (("build_s", "s"), ("exec_s", "s"), ("plan_s", "s"),
                 ("executions", "count"), ("jobs", "count"))
] + [
    (f"query.{q}.{k}", u)
    for q in ("x43", "x42", "x35", "s08", "s13", "s25", "s28", "d08", "d17")
    for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
] + [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.gc_s", "s"), ("spark.input_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.driver_heap_peak_mb", "MB"),
    ("spark.core_util", "ratio"),
] + [
    (f"{layer}.self_s", "s") for layer in
    ("orchestrate", "engine", "catalog", "incremental", "queries", "spark")
]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

JVM_BUDGET_S = 170
EXPECTED = os.path.join(HERE, "expected_queries.json")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files(root):
    roots = [os.path.join(root, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in roots:
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest_files(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt once per source state; returns the classpath."""
    stamp = os.path.join(build_dir, "build.json")
    key = digest_files(source_files(root))
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("key") == key:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the benchmark with sbt ...")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    with open(os.path.join(build_dir, "build.log"), "w") as fh:
        fh.write(out.stdout + out.stderr)
    cps = [ln.strip() for ln in out.stdout.splitlines()
           if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not cps:
        raise RuntimeError("sbt build failed; see " +
                           os.path.join(build_dir, "build.log"))
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": cps[-1]}, fh)
    return cps[-1]


def corpus_dir(build_dir, sf):
    """The generated corpus at `sf`, made once per state of corpus.py and
    checked by per-table row counts."""
    d = os.path.join(build_dir, "corpus", f"sf{sf}")
    stamp = os.path.join(d, "_rows.json")
    want = {"source": digest_files([corpus.__file__]), "rows": corpus.row_counts(sf)}
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh) == want:
                return d
    shutil.rmtree(d, ignore_errors=True)
    log(f"generating the sf{sf} corpus ...")
    got = corpus.write(d, sf)
    if got != want["rows"]:
        raise RuntimeError(f"corpus sf{sf}: rows {got} != {want['rows']}")
    with open(stamp, "w") as fh:
        json.dump(want, fh)
    return d


def build_key(build_dir):
    """The source digest of the current build."""
    with open(os.path.join(build_dir, "build.json")) as fh:
        return json.load(fh)["key"]


def seeded_catalog(build_dir, classpath):
    """The seeded catalog, written by the JVM from graft's catalog model
    classes once per build; each run gets a fresh copy."""
    d = os.path.join(build_dir, "catalog-seed")
    stamp = os.path.join(build_dir, "catalog-seed.json")
    key = build_key(build_dir)
    if os.path.exists(stamp) and os.path.isdir(d):
        with open(stamp) as fh:
            if json.load(fh).get("key") == key:
                return d
    shutil.rmtree(d, ignore_errors=True)
    log("seeding the catalog ...")
    scratch = os.path.join(build_dir, "runs", f"seed-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        run_java(classpath, scratch, ["seed_catalog", "0", "0", "0"], "", d)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp, "w") as fh:
        json.dump({"key": key}, fh)
    return d


def host_facts():
    """nproc, MemTotal, and the time of a fixed pure-Python loop: host
    speed at the time of the run, for reading the numbers beside it."""
    t0 = time.perf_counter()
    sum(i * i for i in range(10 ** 6))
    probe = time.perf_counter() - t0
    mem = 0
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    mem = int(ln.split()[1]) // 1024
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "mem_total_mb": mem, "cpu_probe_s": probe}


def run_java(classpath, run_dir, head, corpus_path, catalog_path):
    """Runs perfbench.Main in a fresh run directory (its own
    java.io.tmpdir and work root); returns (launch time, result path)."""
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Main"] + head + [work, corpus_path, catalog_path, out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"the JVM ran past {JVM_BUDGET_S} s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"the JVM exited with {code}:\n{tail}")
    return launched, out


def named_metrics(wl, res):
    """The workload's own end-to-end figures, by name (medians of their
    per-session / per-pass samples)."""
    vals = res["values"]
    out = {}
    med = {k: stats.median(v) for k, v in vals.items() if v}
    if wl == "backup_cycle":
        out["export_rows_per_s"] = (med.get("export_rows_per_s"), "rows/s")
        out["incr_export_s"] = (med.get("incr_export_s"), "s")
        out["restore_rows_per_s"] = (med.get("restore_rows_per_s"), "rows/s")
        calls = []
        for side in ("read", "write"):
            v = vals.get(f"catalog_{side}_ms", [])
            calls += v
            if v:
                p, t, n = stats.tail(v)
                out[f"catalog_{side}_p50_ms"] = (stats.median(v), f"ms (n={n})")
                if p > 50:  # else too few samples for a tail
                    out[f"catalog_{side}_p{p:g}_ms"] = (t, f"ms (n={n})")
        if calls:
            out["catalog_ops_per_s"] = (1000.0 * len(calls) / sum(calls), "ops/s")
    if wl == "query_suite":
        out["query_relational_s"] = (med.get("query_relational_s"), "s/pass")
        out["query_corpus_s"] = (med.get("query_corpus_s"), "s/pass")
    return out


def end_to_end(wl, launched, res):
    ops = res["ops"]
    lat = [o[1] for o in ops if o[2]]
    vals = res["values"]
    if wl == "backup_cycle":
        # every session of the cycle: full export, incrementals, restore
        rate = vals["rows_moved"][0] / vals["session_s"][0]
    else:
        rate = len(ops) / (vals["query_relational_s"][0] +
                           vals["query_corpus_s"][0])
    return {
        "setup_s": res["first_op_ms"] / 1000.0 - launched,
        "throughput": rate,
        "op_geomean_ms": stats.geomean(lat),
    }


def tracing_overhead(results, wl, key, traced):
    """Prints the tracing overhead: this traced run's end-to-end values
    against the medians of the untraced runs of the workload that this
    build (source digest `key`) recorded in this checkout. With none
    recorded, says so: the overhead is then not known."""
    plain = {}
    for f in os.listdir(results):
        if f.startswith(wl + "-") and f.endswith("-t0.json"):
            with open(os.path.join(results, f)) as fh:
                got = json.load(fh)
            if got.get("build_key") == key:
                for k, v in got["end_to_end"].items():
                    plain.setdefault(k, []).append(v)
    if not plain:
        print("  tracing overhead: not known, no untraced run of this workload "
              "by this build is recorded")
        return
    for k, v in traced.items():
        base = stats.median(plain[k])
        print(f"  tracing overhead: {k} traced {v:.6g} vs untraced median "
              f"{base:.6g} over {len(plain[k])} runs ({100 * (v / base - 1):+.1f}%)")


def digests(res):
    """{query: [rows, digest]} of a query_suite result."""
    return {k[len("digest."):]: v for k, v in res["info"].items()
            if k.startswith("digest.")}


def self_checks(res):
    """The JVM's float canonicalization and digest against Python's."""
    msgs = []
    import struct
    for bits, s in res["repr_probes"]:
        d = struct.unpack("<d", struct.pack("<q", int(bits)))[0]
        if repr(d) != s:
            msgs.append(f"float canonicalization: JVM {s!r} != repr {d!r}")
    p = res["digest_probe"]
    if list(stats.digest_rows(p["columns"], p["rows"])) != [p["count"], p["digest"]]:
        msgs.append("digest: JVM and Python digests of the probe table differ")
    return msgs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the root of a graft checkout: src/main/scala/graft is missing")
        sys.exit(2)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    wl = args.workload
    corpus_path = corpus_dir(build_dir, WORKLOADS[wl])
    if wl == "backup_cycle":
        seed_dir = seeded_catalog(build_dir, classpath)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{wl}-{args.seed}-t{args.trace}"

    run_dir = os.path.join(build_dir, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        catalog_path = ""
        if wl == "backup_cycle":
            catalog_path = os.path.join(run_dir, "catalog")
            shutil.copytree(seed_dir, catalog_path)
        launched, out = run_java(
            classpath, run_dir,
            [wl, str(args.seed), str(args.seconds), str(args.trace)],
            corpus_path, catalog_path)
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            shutil.move(out + ".spans.jsonl",
                        os.path.join(results, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    probe_msgs = self_checks(res)
    msgs = list(res["failures"]) + probe_msgs
    expected = {}
    if wl == "query_suite":
        got = digests(res)
        with open(EXPECTED) as fh:
            expected = json.load(fh)["queries"]
    else:
        got = {}
    attempted, failed, dmsgs = stats.count_failures(
        res["ops"], res["check_failures"], expected, got)
    attempted += res["checks"] + 2
    failed += len(probe_msgs)
    msgs += dmsgs

    facts = host_facts()
    e2e = end_to_end(wl, launched, res)
    named = named_metrics(wl, res)
    lat = [o[1] for o in res["ops"] if o[2]]
    p, t, n = stats.tail(lat)
    print(f"host: nproc={facts['nproc']} mem_total_mb={facts['mem_total_mb']} "
          f"cpu_probe_s={facts['cpu_probe_s']:.4f}")
    print(f"workload {wl} seed {args.seed} trace {args.trace}: "
          f"{len(res['ops'])} ops in {res['measured_s']:.2f} s measured; corpus "
          f"sf{WORKLOADS[wl]}, {sum(corpus.row_counts(WORKLOADS[wl]).values())} rows")
    for k, (v, unit) in named.items():
        print(f"  {k} = {v:.6g} {unit}" if v is not None else f"  {k} = n/a")
    print(f"  failed_frac = {stats.failed_frac(attempted, failed):.6g} ratio "
          f"({failed} of {attempted})")
    tail = f"p{p:g} = {t:.6g} ms" if p > 50 else "no tail with ten samples beyond it"
    print(f"  op latency: p50 = {stats.median(lat):.6g} ms, {tail}, n = {n}")
    for k, v in res["info"].items():
        if not k.startswith("digest."):
            print(f"  info {k} = {json.dumps(v)}")
    for m in msgs:
        print(f"  FAILED: {m}")

    units = dict(END_TO_END)
    key = build_key(build_dir)
    if args.trace:
        tracing_overhead(results, wl, key, e2e)
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump({"build_key": key, "host": facts, "end_to_end": e2e, "metrics": metrics,
                   "named": {k: v for k, (v, _) in named.items()},
                   "failures": msgs, "raw": res}, fh)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
