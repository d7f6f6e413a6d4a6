#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py) into a private directory under .bench_build/runs,
runs one JVM (local[nproc]) that drives the program's public entry
points (perfbench/harness), checks the outputs (perfbench/checks.py) and
prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, measured untraced; with --trace 1 they are the
per-layer ones from a traced pass, plus the tracing overhead. A full
record of the run, with per-operation profiles, is written to
.bench_build/artifacts. Workload sizes and query lists are in
perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

import numpy as np  # noqa: E402

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def generate(w, name, seed, run_dir):
    """Writes the workload's inputs; returns the harness params and the
    facts the checks need."""
    rng = np.random.default_rng([seed, sum(map(ord, name))])
    s = w["sizes"]
    if w["kind"] == "queries":
        data = os.path.join(run_dir, "data")
        gen.sf_tables(data, rng, s["scale"])
        return {"data_dir": data, "queries": w["queries"],
                "check_dir": os.path.join(run_dir, "check")}, {"data_dir": data}
    if w["kind"] == "etl":
        manifest = gen.geodata(os.path.join(run_dir, "geo"), rng, s["sources"], s["largest"],
                               s["smallest"], s["page_size"])
        path = os.path.join(run_dir, "geo", "manifest.json")
        with open(path, "w") as f:
            json.dump(manifest, f)
        return {"manifest": path, "served_dir": os.path.join(run_dir, "geo", "served"),
                "landing_dir": os.path.join(run_dir, "landing")}, {"manifest": manifest}
    data = os.path.join(run_dir, "corpus")
    gen.corpora(data, rng, s["vectors"], s["documents"], s["batch"], s["batches"],
                s["queries"], s["clusters"])
    return {"data_dir": data, "k": w["k"], "n_probe": w["n_probe"],
            "query_batch": w["query_batch"], "batches": s["batches"]}, {"data_dir": data}


def run_jvm(conf, classes, run_dir, heap, timeout, log_copy):
    jars = build.spark_jars()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: peak RSS then tracks native memory and the heap the
    # run touches, not the collector's resizing decisions
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    conf_path = os.path.join(run_dir, "harness.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Harness", conf_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        # few malloc arenas keep native memory, and so peak RSS, steady;
        # Spark's scratch space stays in the run directory (spark.local.dir)
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        env.pop("SPARK_LOCAL_DIRS", None)
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    shutil.copy(log_path, log_copy)
    if code != 0 or not os.path.isfile(conf["out"]):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({code})")
    with open(conf["out"]) as f:
        return json.load(f)


def layer_metrics(w, rec, facts, config, n_cores, names):
    """Every per-layer metric; layers a workload leaves idle read 0."""
    trace = rec["trace"]
    n = len(rec["traced_passes"])
    out = {k: 0.0 for k in names}
    out.update(metrics.engine_layers(trace, n_cores, n))
    totals = metrics.span_totals(trace["spans"])
    per = lambda key, self_time=False: totals.get(key, (0.0, 0.0))[1 if self_time else 0] / n
    traced = metrics.median([p["wall_ms"] for p in rec["traced_passes"]])
    if "passes" in rec:
        untraced = metrics.median([p["wall_ms"] for p in rec["passes"]])
        out["trace.overhead_frac"] = traced / untraced - 1.0
    else:
        # the churn run compares its traced closing probe with the untraced
        # reference probe: the same queries against the same live set
        out["trace.overhead_frac"] = per("probe.purged") / rec["reference_probe_ms"] - 1.0
    # one pass split into driver time outside jobs, idle cores inside
    # jobs and task compute (task time spread over the cores)
    outside = out["driver.outside_jobs_ms"]
    compute = out["task.run_ms"] / n_cores
    detail = {"span_self_ms_per_pass": {k: v[1] / n for k, v in totals.items()},
              "span_total_ms_per_pass": {k: v[0] / n for k, v in totals.items()},
              "pass_split_ms": {"outside_jobs": outside, "in_job_idle": traced - outside - compute,
                                "task_compute": compute},
              "per_op": metrics.per_op_profile(trace)}
    if w["kind"] == "queries":
        fam_of = {q: f for f, qs in config["families"].items() for q in qs}
        families = {f: 0.0 for f in config["families"]}
        for p in rec["traced_passes"]:
            for q, ms in p["ops"]:
                families[fam_of[q]] += ms / 1000.0 / n
        detail["family_s"] = families
    elif w["kind"] == "etl":
        out["sources.extract_ms"] = per("extract")
        out["pipeline.stage_ms"] = per("stage", self_time=True)
        out["geo.geoprocess_ms"] = per("geoprocess")
        out["pipeline.publish_ms"] = per("publish")
        calls = rec["calls"][-n:]
        out["util.http_requests"] = sum(c["http_requests"] for cs in calls for c in cs) / n
        out["util.http_bytes"] = sum(c["http_bytes"] for cs in calls for c in cs) / n
        ledgers = rec["ledgers"][-n:]
        staged = sum(r["rows"] for l in ledgers for r in l if r["phase"] == "stage" and r["status"] == "done")
        kept = sum(r["rows"] for l in ledgers for r in l if r["phase"] == "geoprocess" and r["status"] == "done")
        out["pipeline.rows_staged"] = staged / n
        out["geo.clip_keep_ratio"] = kept / staged if staged else 0.0
    else:
        for step in ("ivf.fold", "band.fold", "ivf.delete", "band.delete", "ivf.compact",
                     "band.compact"):
            out[f"{step}_ms"] = per(step)
        for phase in ("intact", "tombstoned", "purged"):
            out[f"probe.{phase}_ms"] = per(f"probe.{phase}")
        cyc = rec["cycles"][-n:]
        live = facts["live_vector_bytes"]
        out["store.cell_files_before_compact"] = sum(c["cell_files_before_compact"] for c in cyc) / n
        out["store.cell_files_after_compact"] = sum(c["cell_files_after_compact"] for c in cyc) / n
        out["compact.bytes_rewritten_per_live_byte"] = sum(c["ivf_active_bytes"] for c in cyc) / n / live
        out["store.bytes_per_live_byte"] = rec["cycles"][-1]["ivf_bytes"] / live
        out["ann.recall_at_10"] = facts["recall"]
    return out, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}")
    w = config["workloads"][args.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    classes = build.build(root)
    # the deadline starts after the build, which only a checkout's first run pays
    deadline = time.time() + config["run_deadline_s"]

    art_dir = os.path.join(root, build.BUILD_DIR, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art_path = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        params, facts = generate(w, args.workload, args.seed, run_dir)
        gen_s = time.time() - t0
        share = 0.5 if args.trace else 1.0
        passes = max(1, int(round(args.seconds * share / w["nominal_pass_s"])))
        dirs = {d: os.path.join(run_dir, d) for d in ("warehouse", "local", "checkpoint")}
        for d in dirs.values():
            os.makedirs(d)
        n_cores = cores()
        conf = {"workload_kind": w["kind"], "trace": bool(args.trace), "cores": n_cores,
                "passes": passes, "dirs": dirs,
                "params": params, "out": os.path.join(run_dir, "record.json")}
        # the JVM gets what is left of the run's deadline, less time for the checks
        rec = run_jvm(conf, classes, run_dir, config["jvm_heap"],
                      deadline - time.time() - config["check_reserve_s"],
                      art_path[:-len(".json")] + ".jvm.log")

        attempted, failures = rec["attempted"], list(rec["errors"])
        if w["kind"] == "queries":
            c, f = checks.queries(params["check_dir"], facts["data_dir"], w["queries"])
        elif w["kind"] == "etl":
            c, f = checks.etl(rec["ledgers"], facts["manifest"])
        else:
            r, c, f = checks.recall(facts["data_dir"], rec["reference_ivf"], w["k"], w["min_recall"])
            facts["recall"] = r
            facts["live_vector_bytes"] = w["sizes"]["vectors"] * 64 * 4
        attempted += c
        failures += f

        artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cores": n_cores, "passes": passes, "input_gen_s": gen_s,
                    "failures": failures}
        if w["kind"] == "etl":
            artifact["setup_calls"] = rec["setup_calls"]
            artifact["calls"] = rec["calls"]
        if args.trace:
            values, artifact["layers"] = layer_metrics(w, rec, facts, config, n_cores, list(units))
        else:
            values, artifact["end_to_end"] = metrics.end_to_end(rec)
        out_metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        artifact["metrics"] = out_metrics
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1)
        for msg in failures[:20]:
            print(f"FAILED {msg}")
        print(f"artifact: {os.path.relpath(art_path, root)}")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": out_metrics}))
        return 1 if failures else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
