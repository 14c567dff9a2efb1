#!/usr/bin/env python3
"""graft benchmark: times the converter and the query layer end to end.

    python3 perfbench/run.py --workload convert|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and this
harness from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed; every op's output is checked. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the spans are written to `.bench_build/perfbench/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("convert", "analytics")
SCALE = 0.01  # 60k lineitems, 500 documents, 500 embeddings
RUN_LIMIT_S = 170  # a run (after any build) must finish within 180 s
JVM_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file whose content the build depends on, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base, exts in ((os.path.join(ROOT, "project"), (".sbt", ".properties", ".scala")),
                       (os.path.join(HERE, "project"), (".properties",)),
                       (os.path.join(ROOT, "src", "main"), None),
                       (os.path.join(HERE, "src"), None)):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names) if exts is None or n.endswith(exts)]
    return files


def build(work):
    """Compiles the program and the harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(work, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, run_dir, args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}"]
    for pkg in JVM_ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {rc}")


def end_to_end(res, timed):
    """The end-to-end metrics, from untraced timed ops only."""
    passes = [sum(r["wall_s"] for r in p) for p in stats.per_pass(timed)]
    by_name = {}
    for r in timed:
        by_name.setdefault(r["name"], []).append(r["wall_s"])
    return {
        "setup_s": res["setup"]["session_s"],
        "pass_s": stats.median(passes),
        "op_geomean_s": stats.geomean([stats.median(v) for v in by_name.values()]),
    }


SUMMED = ("excel.plan_s", "excel.split_tasks", "convert.out_bytes", "convert.row_groups",
          "queries.plan_s", "queries.plan_jobs", "exec.wall_s", "exec.jobs", "exec.stages",
          "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
          "exec.shuffle_read_mb", "exec.spill_mb", "plans.nodes", "plans.exchanges",
          "storage.materialized_mb", "storage.released_mb", "streaming.triggers")
MAXED = ("exec.peak_mem_mb", "storage.pinned_mb", "streaming.state_rows", "streaming.state_mem_mb")


def per_layer(res, timed, traced, n_cores):
    """Per-layer metrics: per traced pass sums (ratios from sums, peaks as
    maxima), the median over traced passes, plus set-up and trace health."""
    rows = []
    for p in stats.per_pass(traced):
        v = {k: sum(r["layers"].get(k, 0) for r in p) for k in SUMMED}
        v.update({k: max([r["layers"].get(k, 0) for r in p] + [0]) for k in MAXED})
        conv = [r["layers"] for r in p if "prefix.full_s" in r["layers"]]
        selfs = [stats.self_times({k: lay[f"prefix.{k}_s"] for k in
                                   ("inflate", "scan", "rows", "dsv2", "full", "readback")})
                 for lay in conv]
        for k in ("excel.inflate_s", "excel.scan_s", "excel.rows_s", "excel.dsv2_s",
                  "convert.write_s", "convert.readback_s"):
            v[k] = sum(s[k] for s in selfs)
        scan_s = sum(lay["prefix.scan_s"] for lay in conv)
        cells = sum(lay["excel.scan_cells"] for lay in conv)
        out_cells = sum(lay["convert.cells"] for lay in conv)
        v["excel.scan_mcells_per_s"] = cells / scan_s / 1e6 if scan_s else 0.0
        v["excel.scan_alloc_b_per_cell"] = (sum(lay["excel.scan_alloc_b"] for lay in conv) / cells
                                            if cells else 0.0)
        v["convert.out_bytes_per_cell"] = v["convert.out_bytes"] / out_cells if out_cells else 0.0
        op_wall = sum(r["layers"]["trace.op_s"] for r in p)
        v["exec.core_busy"] = v["exec.run_s"] / (op_wall * n_cores) if op_wall else 0.0
        rows.append(v)
    out = {k: stats.median([v[k] for v in rows]) for k in rows[0]}
    trig = [ms for r in traced for ms in r["layers"].get("streaming.trigger_ms", [])]
    out["streaming.trigger_p50_ms"] = stats.median(trig)
    out["storage.retained_mb"] = res["retained_storage_mb"]
    corpus_cells = sum(c["cells"] for c in res["extra"].get("corpus", []))
    untraced_passes = [sum(r["wall_s"] for r in p) for p in stats.per_pass(timed)]
    out["convert.cells_per_s"] = corpus_cells / stats.median(untraced_passes) if corpus_cells else 0.0
    setup = res["setup"]
    out["setup.session_s"] = setup["session_s"]
    out["setup.warmup_s"] = setup["warmup_s"]
    out["setup.cold_pass_s"] = sum(r["wall_s"] for r in res["records"] if r["kind"] == "cold")
    ratios = []
    for name in {r["name"] for r in traced}:
        on = [r["layers"]["trace.op_s"] for r in traced if r["name"] == name]
        off = [r["wall_s"] for r in timed if r["name"] == name]
        if on and off:
            ratios.append(stats.median(on) / stats.median(off))
    out["trace.overhead_pct"] = 100.0 * (stats.geomean(ratios) - 1.0)
    out["trace.span_cover"] = min(r["layers"]["trace.child_span_s"] / r["layers"]["trace.op_span_s"]
                                  for r in traced)
    return out


def per_name(records):
    """Per op name: sample count, median wall, and (traced) median layer values."""
    out = {}
    for r in records:
        out.setdefault(r["name"], []).append(r)
    summary = {}
    for name, rs in sorted(out.items()):
        layers = {}
        for k in rs[0]["layers"]:
            vals = [r["layers"][k] for r in rs if isinstance(r["layers"].get(k), (int, float))]
            if vals:
                layers[k] = stats.median(vals)
        summary[name] = {"n": len(rs), "wall_p50_s": stats.median([r["wall_s"] for r in rs]),
                         "layers": layers}
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("program sources not found: run from a checkout of the repository")
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = build(work)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(work, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        os.makedirs(data)
        if a.workload != "convert":
            gen_tables.write(data, a.seed, SCALE)
        out = os.path.join(run_dir, "result.json")
        run_jvm(classpath, run_dir, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": data, "work": run_dir, "out": out, "cores": cores()}, deadline)
        with open(out) as fh:
            res = json.load(fh)
        records = res["records"]
        failed = {r["id"]: r["err"] for r in records if not r["ok"]}
        for i in stats.fingerprint_mismatches(records):
            failed.setdefault(i, "output fingerprint differs from the first op's")
        if a.workload != "convert":
            for name, err in oracle.compare(data, res["extra"]["oracle"]).items():
                if err:  # the checked op and every later op of that query
                    for r in records:
                        if r["name"] == name:
                            failed.setdefault(r["id"], f"oracle: {err}")
        for i, err in sorted(failed.items()):
            name = next(r["name"] for r in records if r["id"] == i)
            print(f"perfbench: FAIL op {i} {name}: {err}", file=sys.stderr)
        timed = [r for r in records if r["kind"] == "timed" and not r["traced"]]
        traced = [r for r in records if r["kind"] == "timed" and r["traced"]]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in declared}
        if a.trace:
            values = per_layer(res, timed, traced, res["cores"])
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            with open(os.path.join(work, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "setup": res["setup"],
                           "per_name": per_name(traced), "spans": res["spans"]}, fh)
        else:
            values = end_to_end(res, timed)
        if set(values) != set(units):
            fail(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        walls = [r["wall_s"] for r in timed]
        tail = stats.tail_percentile(len(walls))
        print(f"perfbench: {a.workload} seed={a.seed}: {len(walls)} timed ops, "
              f"op_p50_s={stats.median(walls):.4f}"
              + (f", op_p{tail:g}_s={stats.percentile(walls, tail):.4f}" if tail else "")
              + f", op_fail_ratio={len(failed) / len(records):.4f}, "
              f"retained_storage_mb={res['retained_storage_mb']:.3f}", file=sys.stderr)
        print(json.dumps({"correct": not failed, "attempted": len(records), "failed": len(failed),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)



if __name__ == "__main__":
    main()
