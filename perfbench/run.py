"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark (`build.py`, cached), generates the
workload's inputs from the seed (`gen.py`), runs the workload in one JVM
with Spark as `local[nproc]`, checks every output against an independent
recomputation (`check.py`) and prints, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The
line before it carries details: sample counts, the tail percentile
used, the exact plan-shape counts and the input content hash.

Each run works in a fresh directory under `perfbench/.run/` (warehouse,
Spark local dirs, inputs, outputs) and removes it at exit. A traced run
also keeps its spans and counters in `perfbench/.results/`.
"""

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("api_serve", "corpus_curate")
# full loads timed in set-up; a traced run reports no set-up time and loads once
SETUP_REPS = 2
TRACED_SETUP_REPS = 1
# untimed operations over the cold load, before the full loads: the first
# operations of a JVM run slower as the JIT and Spark's caches warm
WARMUP_S = 4
HEAP = "3g"
DEADLINE_S = 170
# api_serve request kinds grouped the way the per-type latencies report them
API_GROUPS = {"point": ("point", "detail"), "range": ("range", "period_keys", "agg_types"),
              "search": ("search", "report_list"), "page": ("paginate",)}


def tail(values):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 20 samples."""
    s = sorted(values)
    if len(s) < 20:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def self_times(spans):
    """Self time per module: each span's duration minus the part of it
    its child spans cover; module = the span name's first component."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        mod = s["name"].split(".")[0]
        out[mod] = out.get(mod, 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def end_to_end(res, phase):
    ops = res[phase]["ops"]
    ok = [o[1] for o in ops if o[2]]
    batch = statistics.median(res["setup_reps_s"])
    t, pct = tail(ok) if ok else (0.0, 0.0)
    m = {
        "setup_s": (res["session_s"] + batch + res["warm_s"], "s"),
        "batch_s": (batch, "s"),
        "op_p50_ms": (statistics.median(ok) if ok else 0.0, "ms"),
        "op_tail_ms": (t, "ms"),
        "ops_per_s": (len(ok) / res[phase]["wall_s"], "1/s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    return m, {"ops": len(ops), "ok_ops": len(ok), "tail_pct": pct}


def _categories(spans):
    """Span id → 'load' (the traced set-up), 'ops' (timed operations) or 'probe'."""
    by_id = {s["id"]: s for s in spans if isinstance(s["id"], int)}
    cat = {}
    for sid, s in by_id.items():
        r = s
        while r["parent"] in by_id:
            r = by_id[r["parent"]]
        cat[sid] = ("probe" if r["tag"] == "probe"
                    else "load" if r["name"] == "bench.setup" else "ops")
    return by_id, cat


def per_layer(res, spans, recall, truth):
    by_id, cat = _categories(spans)
    tot = {"load": {}, "ops": {}, "probe": {}}
    for sid, c in res["traced_counters"].items():
        k = cat.get(int(sid))
        for key, v in c.items():
            if k and key != "first_job_ns":
                tot[k][key] = tot[k].get(key, 0) + v
    load = lambda k: tot["load"].get(k, 0)  # noqa: E731
    ops = lambda k: tot["ops"].get(k, 0)  # noqa: E731
    traced = res["traced"]
    n_ops = len(traced["ops"]) or 1
    st = self_times(spans)

    def dur(pred):
        return [(s["end_ns"] - s["start_ns"]) for s in by_id.values() if pred(s)]

    load_wall = sum(dur(lambda s: s["name"] == "bench.setup")) / 1e9
    plan_ms = [(c["first_job_ns"] - by_id[int(i)]["start_ns"]) / 1e6
               for i, c in res["traced_counters"].items()
               if c["jobs"] > 0 and cat.get(int(i)) == "ops"]
    calls = dur(lambda s: cat[s["id"]] == "ops" and s["name"].startswith("operators."))
    append = dur(lambda s: s["name"] == "operators.Dedup.appendToMinhashIndex")
    sink = dur(lambda s: cat[s["id"]] == "load" and s["name"].startswith("sources.Sinks."))
    probe = res.get("probe") or {}
    exec_ = probe.get("exec", {})
    kern = probe.get("kernels", {})
    op_exec = [v for k, v in exec_.items() if k.startswith("operators.")]
    fn_exec = [v for k, v in exec_.items() if k.startswith("functions.")]
    qf = exec_.get("functions.TextAnalysis.qualityFilter")
    stored = res["checks"]["stored"].values()
    returned = sum(o[3] for o in traced["ops"])
    shapes = list(res["shapes"].values())
    u_ops = res["untraced"]["ops"]

    def p50(kinds):
        xs = [o[1] for o in u_ops if o[2] and o[0] in kinds]
        return statistics.median(xs) if xs else 0.0

    u50 = statistics.mean(end_to_end(res, p)[0]["op_p50_ms"][0]
                          for p in ("untraced", "untraced_after"))
    t50 = end_to_end(res, "traced")[0]["op_p50_ms"][0]
    return {
        "sources.self_s": st.get("sources", 0.0),
        "sources.sink_write_s": sum(sink) / 1e9,
        "sources.bytes_written": load("output_bytes"),
        "sources.files_written": sum(v["files"] for v in stored),
        "sources.stored_bytes_per_input_byte": sum(v["bytes"] for v in stored) / truth["input_bytes"],
        "sources.files_read_per_req": ops("scan_files") / n_ops,
        "sources.bytes_read_per_req": ops("scan_bytes") / n_ops,
        "sources.rows_scanned_per_row_returned": ops("scan_rows") / max(1, returned),
        "sources.index_append_ms": statistics.median(append) / 1e6 if append else 0.0,
        "operators.self_s": st.get("operators", 0.0),
        "operators.call_ms": sum(calls) / len(calls) / 1e6 if calls else 0.0,
        "operators.exec_s": sum(v["exec_s"] for v in op_exec),
        "operators.rows_out_per_row_in": (sum(v["rows_out"] for v in op_exec)
                                          / max(1, sum(v["rows_in"] for v in op_exec))),
        "operators.dedup.candidate_pairs": load("lsh_candidates"),
        "operators.dedup.verify_yield": (load("lsh_verified") / load("lsh_candidates")
                                         if load("lsh_candidates") else 0.0),
        "operators.dedup.recall": recall,
        "functions.self_s": st.get("functions", 0.0),
        "functions.textanalysis.exec_s": sum(v["exec_s"] for v in fn_exec),
        "functions.kept_ratio": qf["rows_out"] / qf["rows_in"] if qf and qf["rows_in"] else 0.0,
        "plans.self_s": st.get("plans", 0.0),
        "plans.minhash_rows_per_s": kern.get("minhash", {}).get("rows_per_s", 0.0),
        "plans.cosine_rows_per_s": kern.get("cosine", {}).get("rows_per_s", 0.0),
        "plans.xml_rows_per_s": kern.get("xml", {}).get("rows_per_s", 0.0),
        "plans.exchanges": sum(s["exchanges"] for s in shapes),
        "plans.sort_aggregates": sum(s["sort_aggregates"] for s in shapes),
        "plans.codegen_fallback_exprs": sum(s["codegen_fallback_exprs"] for s in shapes),
        "spark.self_s": st.get("spark", 0.0),
        "spark.plan_ms": statistics.median(plan_ms) if plan_ms else 0.0,
        "spark.jobs_per_op": ops("jobs") / n_ops,
        "spark.tasks_per_op": ops("tasks") / n_ops,
        "spark.scheduler_delay_ms": ops("sched_delay_ms") / max(1, ops("tasks")),
        "spark.task_busy_share": load("run_ms") / (load_wall * 1000 * res["cores"])
        if load_wall else 0.0,
        "spark.shuffle_write_bytes": load("shuffle_write"),
        "spark.shuffle_read_bytes": load("shuffle_read"),
        "spark.spill_bytes": load("spill"),
        "spark.gc_s": ops("gc_ms") / 1000 / n_ops,
        "spark.failed_tasks": sum(t.get("failed_tasks", 0) for t in tot.values()),
        "api.point_p50_ms": p50(API_GROUPS["point"]),
        "api.range_p50_ms": p50(API_GROUPS["range"]),
        "api.search_p50_ms": p50(API_GROUPS["search"]),
        "api.page_p50_ms": p50(API_GROUPS["page"]),
        # traced op_p50 against the mean of the untraced phases before and after it
        "trace.overhead_ms": t50 - u50,
        "trace.overhead_share": (t50 - u50) / u50 if u50 else 0.0,
        "trace.spans": len(spans),
    }


def load_units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bj = json.load(f)
    return ({m["name"]: m["unit"] for m in bj["end_to_end"]},
            {m["name"]: m["unit"] for m in bj["per_layer"]})


def _stale_runs(run_root):
    """Remove run directories whose run has ended without cleaning up:
    a live run holds the lock on its directory's `lock` file."""
    for name in os.listdir(run_root):
        path = os.path.join(run_root, name)
        try:
            fd = os.open(os.path.join(path, "lock"), os.O_RDWR)
        except OSError:
            # no lock file: a run that died while creating its directory
            # (or one being created right now, hence the age)
            try:
                if time.time() - os.path.getmtime(path) > 60:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            continue
        finally:
            os.close(fd)
        shutil.rmtree(path, ignore_errors=True)


def _die_with_parent():
    """In the JVM's child process before exec: SIGKILL it when this
    process ends, however it ends (PR_SET_PDEATHSIG)."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)


def run(args):
    cp = build.classpath()
    # the run's time limit starts after a build, which only a checkout's first run pays
    start = time.time()
    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(HERE, ".run")
    os.makedirs(run_root, exist_ok=True)
    _stale_runs(run_root)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=run_root)
    lock = os.open(os.path.join(run_dir, "lock"), os.O_RDWR | os.O_CREAT)
    fcntl.flock(lock, fcntl.LOCK_EX)
    proc = None
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")] + build.jvm_opens()
               + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                  "--run-dir", run_dir, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--cores", str(cores),
                  "--setup-reps", str(TRACED_SETUP_REPS if args.trace else SETUP_REPS),
                  "--warmup-seconds", str(WARMUP_S)])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            # the JVM starts its session while the inputs are generated
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    preexec_fn=_die_with_parent)
            t0 = time.time()
            truth = gen.generate(args.workload, args.seed, run_dir)
            gen_s = time.time() - t0
            open(os.path.join(run_dir, "inputs.ready"), "w").close()
            try:
                proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: workload timed out")
        if proc.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        res["cores"] = cores
        jvm_s = time.time() - t0
        recall = 0.0
        if args.workload == "api_serve":
            errs = check.check_market(run_dir, res, truth) + check.check_api(run_dir, res, truth)
        else:
            errs, recall = check.check_corpus(run_dir, res, truth)
        check_s = time.time() - t0 - jvm_s
        e2e_units, layer_units = load_units()
        e2e, detail = end_to_end(res, "untraced")
        attempted = detail["ops"]
        failed = min(attempted, attempted - detail["ok_ops"] + len(errs))
        if args.trace:
            with open(os.path.join(run_dir, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            layer = per_layer(res, spans, recall, truth)
            layer["error_rate"] = failed / attempted
            metrics = {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}
            keep = os.path.join(HERE, ".results")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{args.workload}-spans.jsonl"))
            with open(os.path.join(keep, f"{args.workload}-result.json"), "w") as f:
                json.dump(res, f)
        else:
            metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in e2e_units.items()}
        detail.update(workload=args.workload, seed=args.seed, content_hash=truth["content_hash"],
                      input_bytes=truth["input_bytes"], gen_s=round(gen_s, 3),
                      jvm_s=round(jvm_s, 3), check_s=round(check_s, 3),
                      plan_shapes=res["shapes"], dup_recall=recall, errors=errs[:10],
                      responses_checked=len(res["checks"].get("samples", [])),
                      wall_s=round(time.time() - start, 3))
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": not errs and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if not errs and failed == 0 else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os.close(lock)


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
