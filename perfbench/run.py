"""Rule-engine benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --heap 3g --workload serve_rules --seed 1 --seconds 10 --trace 0

Builds the program from source (`build.py`), generates the workload's
inputs from the seed (`gen.py`), computes the expected outputs with DuckDB
(`check.py`), runs the workload in a fresh JVM, checks every output, and
prints each metric by name with its unit. The last line of stdout is one
JSON object: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones from a traced run. Workload names, metric names and
units come from `BENCHMARK.json`. See `README.md`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
YOUNG = "1g"
JVM_TIMEOUT_S = 170

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    MANIFEST = json.load(f)
WORKLOADS = [w["name"] for w in MANIFEST["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in MANIFEST["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in MANIFEST["per_layer"]}

# span name -> per-layer metric (times in ms unless the metric is in s)
SPAN_METRICS = {
    "api.infer": "api.infer_ms", "api.respond": "api.respond_ms", "model.parse": "model.parse_ms",
    "rules.build": "rules.build_ms", "plans.tvf_analyze": "plans.tvf_analyze_ms",
    "catalyst.plan": "catalyst.plan_ms", "exec.run.filter": "exec.run_ms.filter",
    "exec.run.argext": "exec.run_ms.argext", "exec.run.count": "exec.run_ms.count",
    "exec.run.ruleset": "exec.run_ms.ruleset", "exec.run.tvf": "exec.run_ms.tvf",
    "operators.graph": "operators.graph_s", "streaming.change_feed": "streaming.change_feed_s",
}


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(4, n or 1))


def say(name, value, unit, note=""):
    print(f"{name} {value:.6g} {unit}" + (f"  ({note})" if note else ""))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def items_meta(workload, inputs):
    """Per pool item: nodes in its condition tree(s) and rows of its table."""
    name = {"serve_rules": "requests.jsonl", "batch_rules": "queries.jsonl"}.get(workload)
    if name is None:
        return {}
    out = {}
    for line in open(os.path.join(inputs, name)):
        it = json.loads(line)
        out[it["id"]] = {"nodes": it.get("nodes", 0), "table_rows": it.get("table_rows", 0)}
    return out


def expectations(workload, inputs):
    if workload == "serve_rules":
        return check.expect_serve(inputs)
    if workload == "batch_rules":
        return check.expect_batch(inputs)
    return check.expect_pipeline(inputs, json.load(open(build.ORACLES)))


def run_jvm(args, run_dir, inputs, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the collector then touches the
    # same memory from run to run, so peak RSS measures what the program
    # retains rather than how the collector sized itself
    cmd = (["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + build.ADD_OPENS + ["-cp", build.runtime_classpath(), "perfbench.Main",
           "--workload", args.workload, "--inputs", inputs, "--out", run_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores())])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish in time; see {os.path.join(run_dir, 'jvm.log')}")
    if code != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"JVM exited with {code}:\n{tail}")
    return json.load(open(os.path.join(run_dir, "result.json")))


def failures(workload, expected, phases):
    """Every op that failed or returned a wrong output, with the reason.

    Serve replies are each checked. Batch queries and pipeline rows are
    checked in the untimed check pass; a timed op fails if it errored or if
    its query (for a pipeline pass: any row) failed the check."""
    bad_items, out = set(), []
    for ph in phases:  # the check pass comes first
        for o in ph["ops"]:
            if workload == "serve_rules" or ph["name"] == "check":
                why = check.mismatch(expected.get(o["item"]), o)
                if why and ph["name"] == "check":
                    bad_items.add(o["item"])
            elif o["error"]:
                why = o["error"]
            elif o["item"] in bad_items or (o["item"] == -1 and bad_items):
                why = f"its output failed the check ({sorted(bad_items)})"
            else:
                why = None
            if why:
                out.append((ph["name"], o["item"], why))
    return out


def typical(workload, lat):
    """The workload's typical latency. Batch queries differ by orders of
    magnitude, and the median of such a mix jumps between clusters from run
    to run; the geometric mean weighs every query alike and moves smoothly."""
    return (statistics.geometric_mean if workload == "batch_rules" else statistics.median)(lat)


def end_to_end(workload, rec, meta, timed):
    ops = timed["ops"]
    lat = [o["lat_ms"] for o in ops]
    wall = timed["wall_s"]
    m = {
        "latency_ms": typical(workload, lat),
        "ops_per_s": len(ops) / wall,
        "peak_rss_mb": rec["peak_rss_mb"],
        # one real start: JVM start to the first timed op
        "setup_s": (timed["start_epoch_ms"] - rec["jvm_start_epoch_ms"]) / 1e3,
    }
    lines = []
    prefix = {"serve_rules": "serve", "batch_rules": "batch", "pipeline_heavy": "pipeline"}[workload]
    if workload == "pipeline_heavy":
        lines.append(("pipeline.pass_s", m["latency_ms"] / 1e3, "s", f"median of {len(lat)} passes"))
        for row in rec["rows"]:
            parts = [o["parts"][row] for o in ops if row in o.get("parts", {})]
            if parts:
                lines.append((f"pipeline.{row}_s", statistics.median(parts) / 1e3, "s",
                              f"median of {len(parts)}"))
    else:
        lines.append((f"{prefix}.p50_ms", statistics.median(lat), "ms", f"n={len(lat)}"))
        if workload == "batch_rules":
            lines.append(("batch.geomean_ms", m["latency_ms"], "ms", f"n={len(lat)}"))
        named = 99 if workload == "serve_rules" else 90
        highest = next((p for p in (99.9, 99, 95, 90, 75) if stats.supported(len(lat), p)), None)
        for p in sorted({named, highest} - {None}, reverse=True):
            if stats.supported(len(lat), p):
                lines.append((f"{prefix}.p{p:g}_ms", stats.percentile(lat, p), "ms",
                              f"n={len(lat)}, {stats.beyond(len(lat), p)} beyond"))
            else:
                print(f"{prefix}.p{p:g}_ms unsupported (n={len(lat)}: fewer than "
                      f"{stats.MIN_BEYOND} samples beyond it)")
        if workload == "serve_rules":
            lines.append(("serve.rps", m["ops_per_s"], "1/s", f"{len(ops)} requests in {wall:.2f} s"))
        else:
            rows = sum(meta.get(o["item"], {}).get("table_rows", 0) for o in ops)
            lines.append(("batch.rows_per_s", rows / wall, "1/s", f"{len(ops)} queries in {wall:.2f} s"))
    lines += [("peak_rss_mb", m["peak_rss_mb"], "MB", "VmHWM"),
              ("setup_s", m["setup_s"], "s",
               f"session ready at {rec['session_s']:.3f} s, then inputs, check pass and warm-up")]
    return m, lines


def per_layer(workload, rec, meta):
    """Per-layer metrics from the `compared` phase, in which every op ran
    once per kind (`untraced`, `traced`; serve also `http`) back to back."""
    phase = next(ph for ph in rec["phases"] if ph["name"] == "compared")
    kinds = {}
    for o in phase["ops"]:
        kinds.setdefault(o["kind"], []).append(o)
    ops, base = kinds["traced"], kinds["untraced"]
    n = len(ops)
    m = {name: 0.0 for name in PER_LAYER}
    for span, mean_ms in stats.layer_means(phase["spans"]).items():
        metric = SPAN_METRICS.get(span)
        if metric:
            m[metric] = mean_ms / 1e3 if metric.endswith("_s") else mean_ms
    if workload == "serve_rules":
        # the same request over HTTP and in-process, back to back: the
        # median of the differences leaves out how requests differ
        inproc = {o["op"].rsplit("-", 1)[0]: o["lat_ms"] for o in base}
        m["api.http_ms"] = statistics.median(o["lat_ms"] - inproc[o["op"].rsplit("-", 1)[0]]
                                             for o in kinds["http"])
    if meta:
        m["rules.predicate_nodes"] = statistics.mean(meta[o["item"]]["nodes"] for o in ops)
    ex = list(phase["exec"].values())
    for key, metric in [("jobs", "exec.jobs_per_op"), ("stages", "exec.stages_per_op"),
                        ("tasks", "exec.tasks_per_op"), ("driver_gap_ms", "exec.driver_gap_ms"),
                        ("task_cpu_ms", "exec.task_cpu_ms"),
                        ("shuffle_write_bytes", "exec.shuffle_write_bytes"),
                        ("spill_bytes", "exec.spill_bytes")]:
        m[metric] = sum(e[key] for e in ex) / n
    m["exec.peak_exec_mem_bytes"] = float(max([e["peak_exec_mem_bytes"] for e in ex] or [0]))
    if workload == "batch_rules":
        table_rows = sum(meta[o["item"]]["table_rows"] for o in ops)
        m["exec.scan_rows_ratio"] = sum(e["records_read"] for e in ex) / max(1, table_rows)
    m["jvm.gc_ms"] = phase["host"]["gc_ms"] / len(phase["ops"])
    lat_traced = typical(workload, [o["lat_ms"] for o in ops])
    lat_base = typical(workload, [o["lat_ms"] for o in base])
    m["trace.overhead_ms"] = lat_traced - lat_base
    lines = [(name, m[name], unit, "") for name, unit in PER_LAYER.items()]
    lines.append(("trace.overhead_pct", 100 * m["trace.overhead_ms"] / lat_base, "%",
                  f"traced {lat_traced:.4g} ms vs untraced {lat_base:.4g} ms, {n} ops each"))
    if workload == "serve_rules":
        lines += serve_anchor(phase, ops)
    return m, lines


def serve_anchor(phase, ops):
    """Jobs per filter-rule request and the share of request time spent in
    schema inference plus the response (ROADMAP D3's hand measurement)."""
    selfs = stats.self_times(phase["spans"])
    by_op = {}
    for s in phase["spans"]:
        by_op.setdefault(s["op"], {}).setdefault(s["name"], 0.0)
        by_op[s["op"]][s["name"]] += selfs[s["id"]] if s["name"] != "op" else s["end_ms"] - s["start_ms"]
    filt = [o["op"] for o in ops if o["shape"] == "filter" and o["status"] == 200]
    if not filt:
        return []
    jobs = statistics.mean(phase["exec"][op]["jobs"] for op in filt)
    share = statistics.mean((by_op[op].get("api.infer", 0) + by_op[op].get("api.respond", 0))
                            / by_op[op]["op"] for op in filt)
    return [("anchor.filter_jobs_per_request", jobs, "count", f"{len(filt)} filter requests"),
            ("anchor.filter_infer_respond_share", share, "ratio", "of request time")]


def main():
    ap = argparse.ArgumentParser(description="rule-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=MANIFEST["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--heap", required=True,
                    help="JVM heap (-Xms, -Xmx) of the workload's JVM, as BENCHMARK.json's command gives it")
    args = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}; run from a checkout of the repository")
    try:
        build.build()
    except build.BuildError as e:
        fail(str(e))
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)  # the first run may build

    run_dir = os.path.join(build.BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    mix = gen.generate(args.workload, args.seed, inputs)
    print("mix " + json.dumps(mix, sort_keys=True))
    meta = items_meta(args.workload, inputs)
    expected = expectations(args.workload, inputs)

    rec = run_jvm(args, run_dir, inputs, deadline)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    phases = rec["phases"]
    failed = failures(args.workload, expected, phases)
    for ph, item, why in failed[:10]:
        print(f"check[{ph}]: item {item}: {why}", file=sys.stderr)
    measured = [ph for ph in phases if ph["name"] not in ("check", "warm")]
    attempted = sum(len(ph["ops"]) for ph in phases)

    if args.trace:
        metrics, lines = per_layer(args.workload, rec, meta)
        units = PER_LAYER
    else:
        metrics, lines = end_to_end(args.workload, rec, meta, measured[0])
        units = END_TO_END
    for name, value, unit, note in lines:
        say(name, value, unit, note)
    say("fail_ratio", len(failed) / attempted, "ratio", f"{len(failed)} of {attempted} ops failed or wrong")
    for ph in measured:
        h = ph["host"]
        print(f"host[{ph['name']}] steal {h['steal_pct']:.2f}% busy {h['busy_pct']:.1f}% "
              f"psi {h['psi_ms']:.0f} ms jvm_cpu {h['jvm_cpu_s']:.2f} s gc {h['gc_ms']:.0f} ms "
              f"over {ph['wall_s']:.2f} s")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
