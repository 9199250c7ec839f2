#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one result line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--scale smoke]

Run from anywhere inside a checkout of the repository. The script
  1. compiles `src/main/scala` and `perfbench/scala` with the Scala
     compiler that ships in `$SPARK_HOME/jars` (cached by source hash
     under `.bench_build/`);
  2. generates the workload's inputs from the seed, over the shipped
     fixture of the workload (sf0.1 or sf0.01, unenlarged);
  3. runs the harness JVM: set-up, one untimed warm-up pass that also
     writes every result to parquet for verification, then timed passes
     for `--seconds`;
  4. compares every warm-up result with its DuckDB oracle on the same
     inputs, and prints the metrics as the last line of stdout.

`--trace 1` alternates untraced and traced passes, prints the per-layer
metrics and writes the span tree to `.bench_build/traces/`.
Every file it writes stays under `.bench_build/` in the checkout; the
work directory of the last run of each workload is kept in
`.bench_build/work/<workload>/` (harness log, raw result, spans).
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

WORKLOADS = ("scan_pushdown", "llm_pipeline", "ingest_mutate")
# Input fixture per workload. Passes are floor-bound below these sizes and
# set-up grows with them; these keep one run inside the time a run may take.
FIXTURE = {"scan_pushdown": "sf0.1", "llm_pipeline": "sf0.01", "ingest_mutate": "sf0.01"}
HEAP = "4g"
# Bench's measured posture; recorded in every result.
SPARK_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.streaming.minBatchesToRetain": "1",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.shuffle.compress": "false",
    "spark.broadcast.compress": "false",
    "spark.locality.wait": "0",
    "spark.cleaner.referenceTracking": "false",
    "spark.sql.codegen.cache.maxEntries": "2000",
    # shuffle blocks are read with read(2), never mmap, so /proc rchar
    # counts them and storage_read_mb can subtract them exactly
    "spark.storage.memoryMapThreshold": "1g",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def sha256_file(path, cache):
    st = os.stat(path)
    key = f"{path}|{st.st_size}|{st.st_mtime_ns}"
    if key not in cache:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        cache[key] = h.hexdigest()
    return cache[key]


class Env:
    """Toolchain and fixture locations; fails when the checkout is not a
    complete graft source tree."""

    def __init__(self, scale):
        self.sources = sorted((ROOT / "src/main/scala").rglob("*.scala"))
        if not (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file():
            fail(f"no graft sources under {ROOT}/src/main/scala; run from a checkout")
        spark_home = os.environ.get("SPARK_HOME")
        if not spark_home or not (Path(spark_home) / "jars").is_dir():
            fail("SPARK_HOME must point at a Spark 4 distribution")
        self.jars = Path(spark_home) / "jars"
        compilers = sorted(self.jars.glob("scala-compiler-2.13.*.jar"))
        if not compilers:
            fail(f"no scala-compiler jar in {self.jars}")
        self.scalac_cp = ":".join(str(self.jars / j.name.replace("compiler", n))
                                  for j in compilers[-1:]
                                  for n in ("compiler", "library", "reflect"))
        java_home = os.environ.get("JAVA_HOME")
        self.java = str(Path(java_home) / "bin/java") if java_home else "java"
        fixtures = Path(os.environ.get("PERFBENCH_TESTDATA", "~/testdata")).expanduser()
        self.smallest = fixtures / "sf0.001"
        self.sf = {w: self.smallest if scale == "smoke" else fixtures / sf
                   for w, sf in FIXTURE.items()}
        for sf in [*self.sf.values(), self.smallest]:
            if not (sf / "lineitem.parquet").exists():
                fail(f"fixture {sf} not found (set PERFBENCH_TESTDATA)")
        self.cores = len(os.sched_getaffinity(0))
        self.checksums = {}
        cache = BUILD / "cache" / "checksums.json"
        if cache.exists():
            self.checksums = json.loads(cache.read_text())

    def save(self):
        (BUILD / "cache").mkdir(parents=True, exist_ok=True)
        (BUILD / "cache" / "checksums.json").write_text(json.dumps(self.checksums))


def run_proc(cmd, log_path, timeout, env=None):
    """Runs a child in its own process group; kills the group on timeout
    and always waits for it."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(env):
    """Compiles the program and the harness into one jar, and trains its
    class-data-sharing archive, once per source hash."""
    srcs = env.sources + sorted((HERE / "scala").glob("*.scala"))
    resources = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = BUILD / "classes" / h.hexdigest()[:16]
    (BUILD / "classes").mkdir(parents=True, exist_ok=True)
    with open(BUILD / "classes.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / ".ok").exists():
            log(f"compiling {len(srcs)} sources")
            shutil.rmtree(out, ignore_errors=True)
            out.mkdir(parents=True)
            argfile = out / "sources.txt"
            argfile.write_text("\n".join(str(s) for s in srcs))
            rc = run_proc([env.java, "-Xss8m", "-Xmx2g", "-cp", env.scalac_cp,
                           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
                           "-cp", f"{env.jars}/*", f"@{argfile}"],
                          out / "compile.log", 850)
            if rc != 0:
                fail(f"compilation failed; see {out / 'compile.log'}")
            make_jar(out, resources)
            train(env, out)
            (out / ".ok").touch()
            for old in (BUILD / "classes").iterdir():
                if old != out:
                    shutil.rmtree(old, ignore_errors=True)
    return out


def make_jar(out, resources):
    """Packs the compiled classes and the program's resources into
    `graft.jar`: class-data sharing archives classes from jars only."""
    with zipfile.ZipFile(out / "graft.jar", "w", zipfile.ZIP_STORED) as z:
        for p in sorted(out.rglob("*.class")):
            z.write(p, str(p.relative_to(out)))
        for p in resources:
            z.write(p, str(p.relative_to(ROOT / "src/main/resources")))


def train(env, out):
    """Runs every workload once on the smallest fixture in one JVM that
    dumps the classes it loaded into a class-data-sharing archive. Runs
    map the archive instead of loading and verifying those classes again,
    which takes seconds off every JVM and Spark start."""
    import workloads as wl
    specs = []
    for w in ("llm_pipeline", "ingest_mutate", "scan_pushdown"):
        work = BUILD / "work" / f"train-{w}"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        plan = make_plan(wl, w, 0, env.smallest, work)
        specs.append(str(write_spec(env, w, plan, env.smallest, work, 0, False)))
    log("training the class-data-sharing archive")
    archive = out / "classes.jsa.tmp"
    rc = run_proc(java_cmd(env, out, "perfbench.Main", specs, BUILD / "work" / "train-ingest_mutate"
                           / "tmp", archive_out=archive), out / "train.log", 600)
    if rc == 0 and archive.exists():
        archive.replace(out / "classes.jsa")
    else:
        log(f"no class-data-sharing archive (see {out / 'train.log'}); runs start without it")
    for w in ("llm_pipeline", "ingest_mutate", "scan_pushdown"):
        shutil.rmtree(BUILD / "work" / f"train-{w}", ignore_errors=True)


def java_cmd(env, out, main, args, tmp, archive_out=None):
    if archive_out:
        cds = [f"-XX:ArchiveClassesAtExit={archive_out}"]
    elif (out / "classes.jsa").exists():
        cds = [f"-XX:SharedArchiveFile={out / 'classes.jsa'}"]
    else:
        cds = []
    return [env.java, *ADD_OPENS, *cds, f"-Xmx{HEAP}", f"-Xms{HEAP}",
            "-XX:MaxGCPauseMillis=50", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{out / 'graft.jar'}:{env.jars}/*", main, *args]


def make_plan(wl, workload, seed, data_dir, work):
    if workload == "scan_pushdown":
        return wl.scan_pushdown(seed, str(data_dir))
    if workload == "llm_pipeline":
        return wl.llm_pipeline(seed, str(data_dir))
    (work / "inputs").mkdir()
    return wl.ingest_mutate(seed, str(data_dir), str(work / "inputs"))


def write_spec(env, workload, plan, data_dir, work, seconds, trace):
    """The harness JVM's input: generated inputs and constants, the
    operation list and the measuring window; never the seed."""
    spec = {
        "workload": workload, "cores": env.cores, "work_dir": str(work),
        "data_dir": str(data_dir), "seconds": seconds, "trace": bool(trace),
        "spark_conf": SPARK_CONF, "verify_dir": str(work / "verify"),
        "out": str(work / "result.json"), "trace_out": str(work / "spans.json"),
        "ops": [{k: v for k, v in op.items() if k != "oracle"} for op in plan["ops"]],
        "layout": plan.get("layout", {}), "inputs": plan.get("inputs", {}),
        "warmup_passes": plan["warmup_passes"], "min_passes": plan["min_passes"],
    }
    path = work / "spec.json"
    path.write_text(json.dumps(spec))
    return path


def fixture_manifest(env, data_dir):
    """Byte size and checksum of every input file (cached by mtime)."""
    files = {}
    for p in sorted(Path(data_dir).rglob("*.parquet")):
        if p.is_file():
            files[str(p.relative_to(data_dir))] = {
                "bytes": p.stat().st_size, "sha256": sha256_file(str(p), env.checksums)}
    return {"dir": str(data_dir), "bytes": sum(f["bytes"] for f in files.values()),
            "files": files}


# ---------------------------------------------------------------- checking

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        import datetime
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def canonical(cursor):
    """Columns sorted by name, rows normalised and sorted: the canonical
    form of tools/compare.py, reduced to a digest."""
    cols = [d[0] for d in cursor.description]
    rows = cursor.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in idx) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    blob = repr(([cols[i] for i in idx], out)).encode()
    return {"digest": hashlib.sha256(blob).hexdigest(), "rows": len(out)}


class OracleCache:
    def __init__(self):
        self.path = BUILD / "cache" / "oracle.json"
        self.data = json.loads(self.path.read_text()) if self.path.exists() else {}

    def get(self, key, compute):
        if key not in self.data:
            self.data[key] = compute()
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.data))
            tmp.replace(self.path)
        return self.data[key]


def check_results(workload, plan, jvm, verify_dir, manifest):
    """Digest of every verified result against its oracle. Returns the set
    of failing op ids with reasons."""
    import duckdb
    import workloads as wl
    cache = OracleCache()
    spark_con = duckdb.connect()
    spark_con.execute("SET TimeZone = 'UTC'")
    fingerprint = hashlib.sha256(json.dumps(manifest["files"], sort_keys=True).encode()).hexdigest()
    oracle_con = None
    bad = {}
    for op in plan["ops"]:
        oid = op["id"]
        if workload == "ingest_mutate":
            if op["kind"] != "read":
                continue
            sql, con = plan["expected_sql"][oid], plan["expected_con"]
            key = None
        elif op["kind"] == "query":
            sql = jvm["oracle_sql"].get(op["name"])
            con, key = None, f"{fingerprint}|{sql}"
        else:
            sql, con, key = op["oracle"], None, f"{fingerprint}|{op['oracle']}"
        if sql is None:
            bad[oid] = "no oracle SQL"
            continue

        def compute(sql=sql, con=con):
            nonlocal oracle_con
            if con is None:
                if oracle_con is None:
                    oracle_con = wl.connect(manifest["dir"])
                con = oracle_con
            return canonical(con.execute(sql))
        try:
            want = cache.get(key, compute) if key else compute()
        except Exception as e:  # oracle error: the op cannot be verified
            bad[oid] = f"oracle error: {e}"
            continue
        out = Path(verify_dir) / oid
        if not out.is_dir():
            bad[oid] = "no result written"
            continue
        got = canonical(spark_con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
        if got != want:
            bad[oid] = f"mismatch: {got['rows']} rows vs oracle {want['rows']}"
    return bad


# ---------------------------------------------------------------- metrics

FAMILIES = {"q_dedup_": "dedup", "q_sim_": "sim", "q_text_": "text", "q_graph_": "graph"}
WRITE_KINDS = ("ingest", "append", "merge", "update", "delete", "delete_mor",
               "update_mor", "compact", "stream_batch")


def union_ms(intervals, lo, hi):
    total, cur = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def pct(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(p / 100 * len(v)) - 1))]


def per_pass(records, passes, fn):
    return {p: fn([r for r in records if r["pass"] == p]) for p in passes}


def compute_metrics(workload, plan, jvm, cores, popen_ms, trace):
    ops = jvm["ops"]["ops"]
    passes_info = {r["pass"]: r for r in jvm["ops"]["passes"]}
    tags = jvm["tags"]
    op_meta = {op["id"]: op for op in plan["ops"]}
    timed = sorted(p for p in passes_info if p >= 1)
    plain = [p for p in timed if not passes_info[p]["traced"]]
    traced = [p for p in timed if passes_info[p]["traced"]]

    def ctr(r, k):
        return tags.get(r["tag"], {}).get("counters", {}).get(k, 0.0)

    def pass_s(rs):
        return sum(r["wall_ms"] for r in rs) / 1000

    def storage_bytes(rs):
        return sum(r["rchar"] - ctr(r, "shuffle.local_read_bytes") for r in rs)

    def scan_ratio(rs):
        out = stored = 0
        for r in rs:
            meta = op_meta[r["op"]]
            if workload == "ingest_mutate" and meta["kind"] != "read":
                continue
            rows = meta.get("stored_rows") or plan["table_rows"]
            for s in tags.get(r["tag"], {}).get("scans", []):
                if s["table"] in rows:
                    out += s["rows_out"]
                    stored += rows[s["table"]]
        return out / stored if stored else 0.0

    # p90: a run holds 15 to 26 latencies, too few for a percentile with
    # ten samples beyond it
    tail_p = 90
    lat = [r["wall_ms"] for r in ops if r["pass"] in plain]
    e2e = {
        "setup_s": ((jvm["setup_end_ms"] - popen_ms) / 1000, "s"),
        "pass_s": (statistics.median(per_pass(ops, plain, pass_s).values()), "s"),
        "pass_cpu_s": (statistics.median(per_pass(
            ops, plain, lambda rs: sum(r["utime_s"] + r["stime_s"] for r in rs)).values()), "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (pct(lat, tail_p), "ms"),
        "storage_read_mb": (statistics.median(per_pass(
            ops, plain, storage_bytes).values()) / 2**20, "MB"),
        "scan_out_ratio": (statistics.median(per_pass(ops, plain, scan_ratio).values()), "ratio"),
        "heap_live_mb": (jvm["heap_live_bytes"] / 2**20, "MB"),
    }
    detail = {"samples": {"passes": len(plain), "ops": len(lat), "tail_percentile": tail_p},
              "per_op": {}}
    for oid in op_meta:
        rs = [r for r in ops if r["op"] == oid and r["pass"] in timed]
        detail["per_op"][oid] = {
            "latency_ms": [round(r["wall_ms"], 3) for r in rs],
            "read_bytes": [int(storage_bytes([r])) for r in rs],
            "rows_out": [sum(s["rows_out"] for s in tags.get(r["tag"], {}).get("scans", []))
                         for r in rs],
            "objects_scanned": [sum(s["scanned"] for s in tags.get(r["tag"], {}).get("scans", []))
                                for r in rs],
            "objects_pruned": [sum(s["listed"] - s["scanned"] for s in
                                   tags.get(r["tag"], {}).get("scans", [])) for r in rs],
            "footer_only": any(s.get("footer_only") for r in rs
                               for s in tags.get(r["tag"], {}).get("scans", []))}
    layer = None
    if trace:
        layer = per_layer(workload, plan, jvm, cores, traced, plain, storage_bytes, pass_s)
    return e2e, layer, detail


def per_layer(workload, plan, jvm, cores, traced, plain, storage_bytes, pass_s):
    ops = [r for r in jvm["ops"]["ops"] if r["pass"] in traced]
    passes_info = {r["pass"]: r for r in jvm["ops"]["passes"]}
    tags = jvm["tags"]
    op_meta = {op["id"]: op for op in plan["ops"]}

    def ctr(r, k):
        return tags.get(r["tag"], {}).get("counters", {}).get(k, 0.0)

    def scans(r):
        return tags.get(r["tag"], {}).get("scans", [])

    def med(fn):
        return statistics.median([fn([r for r in ops if r["pass"] == p]) for p in traced])

    def total(k):
        return med(lambda rs: sum(ctr(r, k) for r in rs))

    def kind_of(r):
        k = op_meta[r["op"]]["kind"]
        return "stream_batch" if k == "stream_merge" else k

    def driver_only(rs):
        return sum(max(0.0, r["wall_ms"] - union_ms(tags.get(r["tag"], {}).get("jobs", []),
                                                   r["start_ms"], r["end_ms"])) for r in rs)

    def user_rows(rs):
        return sum(op_meta[r["op"]].get("user_rows", 0) for r in rs)

    def write_ms(rs):
        return sum(r["wall_ms"] for r in rs if kind_of(r) in WRITE_KINDS)

    m = {
        "plan.analysis_ms": (total("plan.analysis_ms"), "ms"),
        "plan.optimize_ms": (total("plan.optimize_ms"), "ms"),
        "plan.physical_ms": (total("plan.physical_ms"), "ms"),
        "sched.jobs": (total("sched.jobs"), "count"),
        "sched.stages": (total("sched.stages"), "count"),
        "sched.tasks": (total("sched.tasks"), "count"),
        "sched.launch_delay_ms": (med(lambda rs: sum(ctr(r, "sched.launch_delay_ms") for r in rs)
                                      / max(1.0, sum(ctr(r, "sched.tasks") for r in rs))), "ms"),
        "sched.driver_only_ms": (med(driver_only), "ms"),
        "scan.objects_listed": (med(lambda rs: sum(s["listed"] for r in rs for s in scans(r))), "count"),
        "scan.objects_scanned": (med(lambda rs: sum(s["scanned"] for r in rs for s in scans(r))), "count"),
        "scan.objects_pruned": (med(lambda rs: sum(s["listed"] - s["scanned"]
                                                   for r in rs for s in scans(r))), "count"),
        "scan.read_bytes": (med(storage_bytes), "bytes"),
        "scan.rows_out": (med(lambda rs: sum(s["rows_out"] for r in rs for s in scans(r))), "count"),
        "scan.stage_cpu_ms": (total("scan.stage_cpu_ms"), "ms"),
        "scan.stage_run_ms": (total("scan.stage_run_ms"), "ms"),
    }
    for k in WRITE_KINDS:
        m[f"write.{k}_ms"] = (med(lambda rs, k=k: sum(r["wall_ms"] for r in rs if kind_of(r) == k)), "ms")
    m["write.bytes"] = (total("write.bytes"), "bytes")
    m["write.objects_created"] = (total("write.objects_created"), "count")
    m["write.versions"] = (total("write.versions"), "count")
    m["write.rows_per_s"] = (med(lambda rs: user_rows(rs) / (write_ms(rs) / 1000)
                                 if write_ms(rs) else 0.0), "1/s")
    amp = space = 0.0
    if workload == "ingest_mutate":
        # unit of user data: the table's own encoding as first ingested
        info = jvm["info"]
        row_bytes = {}
        for p in traced:
            pi = info.get(f"pass_{p}", {})
            for t in ("orders", "lineitem"):
                row_bytes.setdefault(t, []).append(pi["ingest_bytes"][t] / plan["table_rows"][t])
        bpr = {t: statistics.median(v) for t, v in row_bytes.items()}
        per_row = (bpr["orders"] + bpr["lineitem"]) / 2
        amp = med(lambda rs: sum(ctr(r, "write.bytes") for r in rs) / (user_rows(rs) * per_row))
        space = statistics.median(
            (info[f"pass_{p}"]["end_bytes"]["orders"] + info[f"pass_{p}"]["end_bytes"]["lineitem"])
            / sum(plan["live_rows"][t] * bpr[t] for t in ("orders", "lineitem")) for p in traced)
    m["write.amp"] = (amp, "ratio")
    m["space.amp"] = (space, "ratio")
    m["task.cpu_ms"] = (total("task.cpu_ms"), "ms")
    m["task.run_ms"] = (total("task.run_ms"), "ms")
    m["task.gc_ms"] = (total("task.gc_ms"), "ms")
    m["task.busy_ratio"] = (med(lambda rs: sum(ctr(r, "task.run_ms") for r in rs)
                                / (sum(r["wall_ms"] for r in rs) * cores)), "ratio")
    for prefix, fam in FAMILIES.items():
        m[f"family.{fam}.cpu_ms"] = (med(lambda rs, prefix=prefix: sum(
            ctr(r, "task.cpu_ms") for r in rs if r["op"].startswith(prefix))), "ms")
    m["shuffle.write_bytes"] = (total("shuffle.write_bytes"), "bytes")
    m["shuffle.read_bytes"] = (total("shuffle.read_bytes"), "bytes")
    m["shuffle.fetch_wait_ms"] = (total("shuffle.fetch_wait_ms"), "ms")
    m["spill.bytes"] = (total("spill.bytes"), "bytes")
    m["stream.batches"] = (total("stream.batches"), "count")
    m["stream.batch_ms"] = (total("stream.batch_ms"), "ms")
    m["stream.rows_per_s"] = (med(lambda rs: sum(ctr(r, "stream.rows") for r in rs)
                                  / (sum(ctr(r, "stream.batch_ms") for r in rs) / 1000)
                                  if sum(ctr(r, "stream.batch_ms") for r in rs) else 0.0), "1/s")
    m["cache.cached_scans"] = (total("cache.cached_scans"), "count")
    m["cache.stored_mb"] = (statistics.median(passes_info[p]["cache_stored_bytes"]
                                              for p in traced) / 2**20, "MB")
    m["jvm.gc_ms"] = (statistics.median(passes_info[p]["gc_ms"] for p in traced), "ms")
    m["host.stime_ratio"] = (statistics.median(
        passes_info[p]["stime_s"] / max(passes_info[p]["utime_s"], 0.01) for p in traced), "ratio")
    plain_s = statistics.median(pass_s([r for r in jvm["ops"]["ops"] if r["pass"] == p])
                                for p in plain)
    m["trace.overhead_ratio"] = (med(pass_s) / plain_s - 1, "ratio")
    return m


def self_times(spans):
    """Self time per layer: a span's duration minus the part of it that
    its children cover. Stages hang under their job; every other span
    under the innermost span of the same operation that contains it."""
    from collections import defaultdict
    by_tag = defaultdict(list)
    for s in spans:
        by_tag[s["tag"]].append(s)
    out = defaultdict(float)
    for tag, ss in by_tag.items():
        jobs = {s["attrs"].get("job"): s for s in ss if s["layer"] == "job"}
        children = defaultdict(list)
        ss.sort(key=lambda s: (s["start_ms"], -s["end_ms"]))
        for i, s in enumerate(ss):
            if s["layer"] == "op":
                continue
            parent = jobs.get(s["attrs"].get("job")) if s["layer"] == "stage" else None
            if parent is None:
                cands = [c for c in ss if c is not s and c["layer"] in ("op", "write", "stream")
                         and c["start_ms"] <= s["start_ms"] and s["end_ms"] <= c["end_ms"]
                         and (c["end_ms"] - c["start_ms"]) >= (s["end_ms"] - s["start_ms"])]
                parent = min(cands, key=lambda c: c["end_ms"] - c["start_ms"], default=None)
            if parent is not None:
                children[id(parent)].append(s)
            s["parent"] = parent["name"] if parent else None
        for s in ss:
            kids = [(c["start_ms"], c["end_ms"]) for c in children[id(s)]]
            out[s["layer"]] += (s["end_ms"] - s["start_ms"]) - union_ms(kids, s["start_ms"], s["end_ms"])
    return dict(out)


# ---------------------------------------------------------------- main

def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    t_start = time.time()
    # a terminated run still stops its JVM (run_proc's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: the smallest fixture, for the benchmark's own test")
    a = ap.parse_args()

    import workloads as wl
    env = Env(a.scale)
    classes = build(env)
    t_run = time.time()  # a build may take longer than a run
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data_dir = env.sf[a.workload]
    plan = make_plan(wl, a.workload, a.seed, data_dir, work)
    manifest = fixture_manifest(env, data_dir)
    env.save()
    traces = BUILD / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    spec = write_spec(env, a.workload, plan, data_dir, work, a.seconds, a.trace)
    popen_ms = time.time() * 1000
    rc = run_proc(java_cmd(env, classes, "perfbench.Main", [str(spec)], work / "tmp"),
                  work / "jvm.log", DEADLINE_S - (time.time() - t_run))
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    jvm_exit_ms = time.time() * 1000
    jvm = json.loads((work / "result.json").read_text())
    bad = check_results(a.workload, plan, jvm, work / "verify", manifest)
    for oid, why in sorted(bad.items()):
        log(f"FAILED {oid}: {why}")
    timed = [r for r in jvm["ops"]["ops"] if r["pass"] >= 1]
    failed = sum(1 for r in timed if not r["ok"] or r["op"] in bad)
    e2e, layer, detail = compute_metrics(a.workload, plan, jvm, env.cores, popen_ms, a.trace)
    spans = None
    if a.trace:
        spans = json.loads((work / "spans.json").read_text())
        st = self_times(spans)
        n_traced = max(1, sum(1 for p in jvm["ops"]["passes"] if p["traced"]))
        for k in ("op", "plan", "job", "stage", "write", "stream"):
            layer[f"self.{k}_ms"] = (st.get(k, 0.0) / n_traced, "ms")
    metrics = layer if a.trace else e2e
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "attempted": len(timed), "failed": failed,
        "error_rate": failed / max(1, len(timed)), "failures": bad,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in (layer or {}).items()},
        "posture": {"cores": env.cores, "heap": HEAP, "spark": jvm["spark_version"],
                    "conf": jvm["conf"],
                    "fixture": manifest, "commit": git_commit(),
                    "source_hash": classes.name},
        "info": jvm["info"], "detail": detail,
        "timeline_s": {
            "session_ready": (jvm["session_ready_ms"] - popen_ms) / 1000,
            "setup_end": (jvm["setup_end_ms"] - popen_ms) / 1000,
            "timed_window": jvm["window_s"],
            "jvm_exit": (jvm_exit_ms - popen_ms) / 1000,
            "run_end": time.time() - t_start},
    }
    out_dir = BUILD / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{run_id}.json").write_text(json.dumps(result, indent=1, default=str))
    if spans is not None:
        (traces / f"{run_id}.json").write_text(json.dumps(spans))
    log(f"{a.workload}: {len(detail['per_op'])} ops, {detail['samples']['passes']} passes; "
        f"error_rate {result['error_rate']:.3f}; detail in "
        f"{(out_dir / (run_id + '.json')).relative_to(ROOT)}")
    for k, (v, u) in sorted(metrics.items()):
        log(f"  {k:28s} {v:14.4f} {u}")
    print(json.dumps({"correct": not bad and failed == 0, "attempted": len(timed),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
