#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Steps, each outside every timed pass:

1. build: compile the program and the harness (perfbench/harness, an sbt
   build that depends on the repository root) and export the runtime
   classpath with the program's javaOptions. Later runs skip sbt while the
   sources are unchanged, so the JVM is started directly.
2. inputs: the seeded input tables, cached under
   .bench_build/perfbench/inputs/<scale>-s<seed> and verified against their
   recorded SHA-256 before every run. Seed 0 is the base tables as-is.
3. the run, one fresh JVM: setup, one cold pass, then warm passes until
   --seconds is used.
4. correctness, after the timed passes: the query workload dumps each
   query in graft.Verify's format and tools/check_oracles.py compares the
   dump with the DuckDB oracle (cached per workload, seed, op list and
   program sources); the store workload compares its read-back with a full
   recompute on the final corpus.

Prints a table of every metric with its sample count, then one JSON line.
Results and spans are kept under .bench_build/perfbench/results/.
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
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
HEAP = "7g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

E2E = [("setup_s", "s"), ("cold_pass_s", "s"), ("write_amp", "ratio"), ("space_amp", "ratio")]

LAYER_UNITS = {
    "engine.session_s": "s", "sources.input_mb": "MB", "sources.input_rows": "count",
    "entry.build_s": "s", "entry.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms", "codegen.source_kb": "KB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.deser_s": "s",
    "exec.launch_overhead_s": "s", "exec.empty_task_frac": "ratio",
    "exec.failed_tasks": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "mem.spill_mb": "MB", "mem.spill_disk_mb": "MB", "mem.peak_exec_mb": "MB",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "store.bootstrap_s": "s", "store.publish_s": "s", "store.compact_s": "s",
    "store.read_s": "s", "trace.overhead_frac": "ratio", "warm.pass_s": "s",
    "warm.input_mb_per_s": "MB/s", "warm.op_p50_s": "s", "warm.op_tail_s": "s",
}

# Every path the benchmark needs from the checkout besides its own files.
REQUIRED = ["build.sbt", "project/build.properties", "src/main/scala/graft/SparkEntry.scala",
            "tools/check_oracles.py", "perfbench/harness/build.sbt"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def call(cmd, logfile, deadline, env=None, cwd=ROOT):
    """Run cmd to completion in its own process group, output to logfile.
    The whole group is killed if the run's deadline passes."""
    timeout = deadline - time.time()
    if timeout <= 0:
        raise BenchError(f"no time left for {cmd[0]}")
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out; see {logfile}")
    if rc != 0:
        tail = Path(logfile).read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"{' '.join(cmd[:4])}... exited {rc}:\n" + "\n".join(tail))


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def fingerprint():
    """Hash of everything the build compiles (program + harness)."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project/build.properties"]
    for d in (ROOT / "src/main", HERE / "harness"):
        files += [p for p in d.rglob("*") if p.is_file()
                  and "target" not in p.relative_to(d).parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    return os.environ.get("SPARK_DRIVER_MEM", HEAP)


def knobs():
    return {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}


def build(fp, deadline):
    spec = WORK / "launch.json"
    if spec.exists():
        cached = json.loads(spec.read_text())
        if cached.get("fingerprint") == fp:
            return cached
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=heap())
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building program and harness with sbt")
    call(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
          "writeLaunch"], WORK / "build.log", deadline, env=env, cwd=HERE / "harness")
    spec_out = json.loads((HERE / "harness" / "target" / "launch.json").read_text())
    spec_out["fingerprint"] = fp
    spec.write_text(json.dumps(spec_out))
    return spec_out


def java(spec, main, args):
    opts = [o for o in spec["java_options"] if not o.startswith("-Xmx")]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *opts, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(spec["classpath"]), main, *args])


def read_classpath(spec):
    """Read every file of the classpath once, so that setup_s times class
    loading from the page cache, not from whatever the disk returns after
    another process evicted part of the 400 MB of jars."""
    for entry in spec["classpath"]:
        p = Path(entry)
        for f in ([p] if p.is_file() else p.rglob("*") if p.is_dir() else []):
            if f.is_file():
                with open(f, "rb") as h:
                    while h.read(1 << 20):
                        pass


def base_dir(scale):
    """The base tables (TESTDATA.md) the seeded replicas derive from."""
    return Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata")) / scale


# graft.ScaleData's key columns: each replica shifts them by its key offset
KEYS = {"customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"], "documents": ["doc_id"], "embeddings": ["vec_id"]}


def transform(src, dst, t, params):
    """Write table t of replica `params` with the writer settings of src."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    f = pq.ParquetFile(src)
    table = f.read()
    for k in KEYS.get(t, []):
        i = table.schema.get_field_index(k)
        table = table.set_column(i, table.schema.field(i),
                                 pc.add(table[k], pa.scalar(params["key_offset"], table[k].type)))
    if t == "documents":
        tr = str.maketrans(params["letters_from"], params["letters_to"])
        i = table.schema.get_field_index("text")
        text = [None if x is None else x.translate(tr) for x in table["text"].to_pylist()]
        table = table.set_column(i, table.schema.field(i), pa.array(text, type=table["text"].type))
    if t == "embeddings":
        i = table.schema.get_field_index("embedding")
        col = table["embedding"].combine_chunks()
        assert col.null_count == 0, "null embedding"
        dim = len(params["perm"])
        vals = col.flatten().to_numpy().reshape(-1, dim)
        rot = vals[:, params["perm"]] * np.asarray(params["signs"], dtype=vals.dtype)
        arr = pa.ListArray.from_arrays(col.offsets, pa.array(rot.ravel(), type=col.type.value_type))
        table = table.set_column(i, table.schema.field(i), arr)
    md = f.metadata
    pq.write_table(table, dst, row_group_size=max(md.row_group(0).num_rows, 1),
                   compression=md.row_group(0).column(0).compression.lower())


def inputs(spec, scale, seed, deadline):
    """Seeded input tables, cached by (scale, seed) and checksum-verified.
    Seed 0 is the base directory as-is; any other seed is one of ScaleData's
    replicas (perfbench.Inputs.replicaOf)."""
    out = WORK / "inputs" / f"{scale}-s{seed}"
    manifest = out / "sha256.json"
    if manifest.exists():
        sums = json.loads(manifest.read_text())
        if all((out / f).exists() and sha256(out / f) == s for f, s in sums.items()):
            return out
        log(f"input checksum mismatch under {out}; regenerating")
    base = base_dir(scale)
    if not base.is_dir():
        raise BenchError(f"base tables not found: {base} (set PERFBENCH_TESTDATA)")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    log(f"generating inputs {scale} seed {seed}")
    if seed == 0:
        for p in sorted(base.glob("*.parquet")):
            shutil.copyfile(p, out / p.name)
    else:
        import pyarrow.parquet as pq
        emb = pq.read_table(base / "embeddings.parquet", columns=["embedding"])
        pfile = out / "params.json"
        call(java(spec, "perfbench.Main", ["params", "--seed", str(seed), "--dim",
                                           str(len(emb["embedding"][0])), "--out", str(pfile)]),
             WORK / "gen.log", deadline)
        params = json.loads(pfile.read_text())
        pfile.unlink()
        for p in sorted(base.glob("*.parquet")):
            transform(p, out / p.name, p.name[:-len(".parquet")], params)
    sums = {p.name: sha256(p) for p in sorted(out.glob("*.parquet"))}
    manifest.write_text(json.dumps(sums, indent=1))
    return out


def gate_file(name, wl, seed, fp):
    key = hashlib.sha256((fp + " ".join(wl["ops"])).encode()).hexdigest()[:16]
    return WORK / "gate" / f"{name}-s{seed}-{key}.json"


def check(wl, data, dump, cache, deadline):
    """DuckDB-oracle verdict per query of a dump (tools/check_oracles.py)."""
    t0 = time.time()
    call([sys.executable, str(ROOT / "tools" / "check_oracles.py"), str(dump), str(data)],
         WORK / "oracle.log", deadline)
    bad = {}
    for line in (WORK / "oracle.log").read_text().splitlines():
        parts = line.split(" ", 2)
        if parts[0] in ("FAIL", "no_oracle") and len(parts) > 1:
            bad[parts[1]] = parts[0]
    verdict = {q: ("missing" if not (dump / q).is_dir() else bad.get(q, "pass"))
               for q in wl["ops"]}
    res = {"queries": verdict, "oracle_s": time.time() - t0}
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(res, indent=1))
    return res


def untraced_warm(res):
    return [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]


def op_medians(passes):
    """Each op's median time over the passes."""
    times = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"]:
                times.setdefault(o["name"], []).append(o["s"])
    return [median(v) for v in times.values()]


def end_to_end(res, wl):
    warm = untraced_warm(res)
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    store = wl["kind"] == "store"
    return {
        "setup_s": (res["setup"]["setup_s"], 1),
        "cold_pass_s": (cold["wall_s"], 1),
        # a read workload writes nothing: no amplification, ratio 1
        "write_amp": (median([p["write_amp"] for p in warm]) if store else 1.0,
                      len(warm) if store else 0),
        "space_amp": (median([p["space_amp"] for p in warm]) if store else 1.0,
                      len(warm) if store else 0),
    }


def layer_metrics(res, wl, data):
    """The harness's per-layer metrics, plus the figures that did not repeat
    run to run closely enough for an end-to-end bound: the JVM's VmHWM
    (it follows G1's heap sizing) and the warm-pass timings of the traced
    run's untraced measured passes."""
    warm = untraced_warm(res)
    walls = [p["wall_s"] for p in warm]
    per_op = op_medians(warm)
    input_mb = sum((data / f"{t_}.parquet").stat().st_size for t_ in wl["tables"]) / 2 ** 20
    return dict(res["layers"], **{
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "warm.pass_s": median(walls), "warm.input_mb_per_s": input_mb / median(walls),
        "warm.op_p50_s": median(per_op), "warm.op_tail_s": max(per_op)})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [r for r in REQUIRED if not (ROOT / r).exists()]
    if missing:
        log("not a checkout of the program; missing: " + ", ".join(missing))
        return 2
    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        log(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
        return 2
    wl = workloads[a.workload]
    scale = a.workload.rsplit("_", 1)[1]

    WORK.mkdir(parents=True, exist_ok=True)
    fp = fingerprint()
    first = not (WORK / "launch.json").exists()
    deadline = time.time() + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    spec = build(fp, deadline)
    data = inputs(spec, scale, a.seed, deadline)

    n = cpus()
    for d in ("tmp", "run"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "run").mkdir(parents=True)
    cache = gate_file(a.workload, wl, a.seed, fp)
    dump = WORK / "run" / "dump"
    needs_gate = wl["kind"] == "query" and not cache.exists()
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    raw = WORK / "run" / "result.json"
    spans = results / f"{tag}.spans.jsonl"
    read_classpath(spec)
    call(java(spec, "perfbench.Main",
              ["run", "--workload", a.workload, "--kind", wl["kind"], "--data", str(data),
               "--ops", ",".join(wl["ops"]), "--tables", ",".join(wl["tables"]),
               "--seconds", str(a.seconds), "--warmup", str(wl["warmup"]),
               "--min-warm", str(wl["min_warm"]),
               "--trace", str(a.trace), "--cpus", str(n),
               "--work", str(WORK / "run"), "--out", str(raw), "--spans", str(spans),
               *(["--dump", str(dump)] if needs_gate else [])]),
         WORK / "run.log", deadline)
    res = json.loads(raw.read_text())
    verdicts = {}
    if wl["kind"] == "query":
        gate = (check(wl, data, dump, cache, deadline) if needs_gate
                else json.loads(cache.read_text()))
        verdicts = gate["queries"]
    shutil.rmtree(WORK / "run", ignore_errors=True)

    # an execution failed if its op threw, or if the op's output failed the
    # correctness gate (the store gate checks the final state, which the
    # whole store.* chain produces)
    wrong = {q for q, v in verdicts.items() if v != "pass"}
    if wl["kind"] == "store" and any(res["gate"]["store_mismatch_rows"].values()):
        wrong |= {o for o in wl["ops"] if o.startswith("store.")}
    failed = sum(1 for p in res["passes"] for o in p["ops"]
                 if not o["ok"] or o["name"] in wrong)
    attempted = res["attempted"]

    e2e = end_to_end(res, wl)
    env = {"cpus": n, "heap": heap(), "knobs": knobs(), "max_heap_mb": res["max_heap_mb"]}
    env["baseline"] = not env["knobs"] and heap() == HEAP
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": env, "fingerprint": fp, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "wrong": sorted(wrong),
        "end_to_end": {k: {"value": e2e[k][0], "unit": u, "n": e2e[k][1]} for k, u in E2E},
        "layers": layer_metrics(res, wl, data) if a.trace else None, "harness": res,
    }
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1))

    if a.trace:
        metrics = {k: {"value": record["layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in E2E}
    print(f"workload {a.workload} seed {a.seed} cpus {n} heap {heap()} "
          f"baseline {env['baseline']} attempted {attempted} failed {failed} "
          f"failed_frac {failed / attempted:.4f}")
    for k, v in metrics.items():
        n_s = f"n={e2e[k][1]}" if k in e2e else ""
        print(f"  {k:28s} {v['value']:14.4f} {v['unit']:6s} {n_s}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(str(e))
        sys.exit(1)
