"""Per-layer metrics of a traced run, derived from its trace file.

The harness records spans around each call into a layer (see
perfbench/harness/Tracer.scala) plus Spark's job, stage, query-planning and
streaming records. Spark records are joined to an operation by time: a job,
planning phase or stream belongs to the operation whose span contains its
start. See perfbench/README.md for each metric's definition.
"""
import json
import statistics
from collections import defaultdict

MODULES = ("Relational", "Temporal", "Portfolio", "Similarity", "StreamingQueries")
RECONCILE_TOLERANCE = 0.10
REAL_WORK_MS = 50  # a stage below this much executor time is not "real work"


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def load(path):
    recs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["kind"]].append(r)
    return recs


def per_layer(report, trace_path):
    """Returns ({metric: (value, unit)}, [reconciliation failures])."""
    recs = load(trace_path)
    spans = recs["span"]
    ops = [s for s in spans if s["name"] == "op"]
    for s in spans:
        s["t0"], s["t1"] = s["t0_us"] / 1000.0, s["t1_us"] / 1000.0
        s["ms"] = s["t1"] - s["t0"]
    children = defaultdict(list)
    for s in spans:
        children[s["op"]].append(s)

    def op_of(t_ms):
        for o in ops:
            if o["t0"] - 1 <= t_ms <= o["t1"] + 1:
                return o["id"]
        return None

    ends = {r["job"]: r["t_ms"] for r in recs["job_end"]}
    stage_job, jobs = {}, defaultdict(list)
    for r in recs["job_start"]:
        op = op_of(r["t_ms"])
        if op is None:
            continue
        jobs[op].append((r["t_ms"], ends.get(r["job"], r["t_ms"])))
        for st in r["stages"]:
            stage_job[st] = op
    stages = defaultdict(list)
    for st in recs["stage"]:
        if st["stage"] in stage_job:
            stages[stage_job[st["stage"]]].append(st)
    phases = defaultdict(list)
    for r in recs["qe"]:
        for name, (a, b) in r["phases"].items():
            op = op_of(a)
            if op is not None:
                phases[op].append((name, a, b))

    def span_ms(name):
        return sum(s["ms"] for s in spans if s["name"] == name)

    def counter(name, agg=sum):
        vals = [c["value"] for c in recs["counter"] if c["name"] == name]
        return agg(vals) if vals else 0.0

    all_stages = [st for sts in stages.values() for st in sts]
    m = {}
    m["cli.transform_ms"] = (span_ms("cli.transform"), "ms")
    m["cli.detect_ms"] = (span_ms("cli.detect"), "ms")
    m["detect.sniff_ms"] = (span_ms("detect.sniff"), "ms")
    m["detect.resolve_ms"] = (span_ms("detect.resolve"), "ms")
    rows_good = counter("decode.rows_good")
    m["decode.rows_in"] = (counter("decode.rows_in"), "count")
    m["decode.rows_good"] = (rows_good, "count")
    m["decode.rows_rejected"] = (counter("decode.rows_rejected"), "count")
    m["decode.exec_ms"] = (span_ms("decode.reject_sink"), "ms")
    scans = []
    for o in ops:
        size = [c["value"] for c in recs["counter"]
                if c["op"] == o["id"] and c["name"] == "decode.input_file_bytes"]
        if size and size[0] > 0:
            scans.append(sum(st["input_bytes"] for st in stages[o["id"]]) / size[0])
    m["decode.input_scans"] = (sum(scans) / len(scans) if scans else 0.0, "scans")
    m["io.csv_write_ms"] = (span_ms("io.csv_write"), "ms")
    m["io.json_write_ms"] = (span_ms("io.json_write"), "ms")
    export = 0.0
    for s in spans:
        if s["name"] == "cli.transform":
            starts = [a for a, _ in jobs[s["op"]] if s["t0"] <= a <= s["t1"]]
            if starts:
                export += s["t1"] - max(starts)
    m["io.driver_export_ms"] = (export, "ms")
    written = counter("io.bytes_written")
    m["io.bytes_written"] = (written, "bytes")
    m["io.bytes_per_good_row"] = (written / rows_good if rows_good else 0.0, "bytes")
    m["operators.construct_ms"] = (span_ms("operators.construct"), "ms")
    for mod in MODULES:
        m[f"operators.{mod}.wall_ms"] = (
            sum(o["ms"] for o in ops if o["attrs"].get("module") == mod), "ms")

    # artifacts: a query's build time is its cold-pass time minus its
    # serve time (median over the cycle's serve passes), billed to the query that built
    cold = {(o["attrs"]["pass"], o["attrs"]["name"]): o for o in ops
            if o["attrs"].get("phase") == "cold"}
    serve = defaultdict(list)
    for o in ops:
        if o["attrs"].get("phase") == "serve":
            serve[(o["attrs"]["pass"], o["attrs"]["name"])].append(o["ms"])
    serve_ms = {k: statistics.median(v) for k, v in serve.items()}
    build_ms, failures = 0.0, []
    for key, o in cold.items():
        if o["attrs"].get("artifacts.builds", 0) > 0 and key in serve_ms:
            build_ms += o["ms"] - serve_ms[key]
    pq = sorted((o for o in cold.values()
                 if o["attrs"]["name"].startswith(("q106_", "q107_"))), key=lambda o: o["t0"])
    if pq:
        first = pq[0]
        billed = first["ms"] - serve_ms[(first["attrs"]["pass"], first["attrs"]["name"])]
        if first["attrs"].get("artifacts.builds", 0) < 1 or billed <= 0:
            failures.append(f"PQ build not billed to {first['attrs']['name']} "
                            f"(builds={first['attrs'].get('artifacts.builds')}, "
                            f"cold-serve={billed:.1f} ms)")
    m["artifacts.builds"] = (sum(o["attrs"].get("artifacts.builds", 0) for o in ops), "count")
    m["artifacts.build_ms"] = (build_ms, "ms")
    m["artifacts.serve_ms"] = (sum(sum(v) for v in serve.values()), "ms")
    m["artifacts.entries"] = (counter("artifacts.entries", max), "count")
    m["artifacts.storage_bytes"] = (counter("artifacts.storage_bytes", max), "bytes")
    m["artifacts.release_ms"] = (span_ms("artifacts.release"), "ms")

    starts = {r["run"]: r["t_ms"] for r in recs["stream_start"] if op_of(r["t_ms"]) is not None}
    batches = defaultdict(list)
    for r in recs["stream_batch"]:
        if r["run"] in starts:
            batches[r["run"]].append(r)
    first_batch = 0.0
    for run, bs in batches.items():
        b0 = min(bs, key=lambda b: b["batch"])
        first_batch += b0["t_ms"] + b0["trigger_ms"] - starts[run]
    m["streaming.start_to_first_batch_ms"] = (first_batch, "ms")
    m["streaming.batches"] = (sum(len(bs) for bs in batches.values()), "count")
    m["streaming.trigger_ms"] = (sum(b["trigger_ms"] for bs in batches.values() for b in bs), "ms")
    m["streaming.state_rows"] = (sum(max(b["state_rows"] for b in bs)
                                     for bs in batches.values()), "count")

    phase_ms = defaultdict(float)
    for ph in phases.values():
        for name, a, b in ph:
            phase_ms[name] += b - a
    m["plan.analysis_ms"] = (phase_ms["analysis"], "ms")
    m["plan.optimization_ms"] = (phase_ms["optimization"], "ms")
    m["plan.physical_ms"] = (phase_ms["planning"], "ms")
    jvm = defaultdict(float)
    for o in ops:
        for k, v in o.get("jvm", {}).items():
            jvm[k] += v
    m["codegen.compile_ms"] = (jvm["codegen_compile_ns"] / 1e6, "ms")
    m["codegen.classes"] = (jvm["codegen_classes"], "count")

    # the ledger: each query's wall time, read by the harness's own clock
    # around the operation (report.json), against parts observed
    # separately:
    #   construct   the fn span;
    #   plan        planning phases (QueryPlanningTracker) that start in the
    #               timed action, as the tracker timed them;
    #   exec        union of the action's job intervals (job listener);
    #   driver gap  action time outside its jobs, from the job listener's
    #               points (action start to first job start, job end to next
    #               job start, last job end to action end), less the
    #               planning inside those segments.
    # Inside the action the gap takes whatever the jobs leave, so the check
    # cannot see time missing there; it sees time of the operation outside
    # both spans, planning that overlaps a job or lies outside the action,
    # and jobs joined to the wrong operation or running past its action.
    runner_wall = defaultdict(list)
    for r in report["ops"]:
        runner_wall[(str(r["pass"]), r["phase"], r["name"])].append(r["wall_s"] * 1000.0)
    gap_total, worst = 0.0, 0.0
    for o in sorted(ops, key=lambda o: o["t0"]):
        a = o["attrs"]
        wall = runner_wall[(a["pass"], a["phase"], a["name"])].pop(0)
        kids = {s["name"]: s for s in children[o["id"]] if s["parent"] == o["id"]}
        act = kids.get("action")
        if act is None:
            continue
        lo, hi = act["t0"], act["t1"]

        def inside(t):
            return lo - 1 <= t <= hi + 1
        plan = [(a0, b0) for _, a0, b0 in phases[o["id"]] if inside(a0)]
        job_iv = sorted(iv for iv in jobs[o["id"]] if inside(iv[0]))
        exec_ms = _union(job_iv)
        segments, cursor = [], lo
        for j0, j1 in job_iv:
            if j0 > cursor:
                segments.append((cursor, j0))
            cursor = max(cursor, j1)
        if hi > cursor:
            segments.append((cursor, hi))
        gap = sum(b0 - a0 for a0, b0 in segments) - sum(
            _union(_clip(plan, a0, b0)) for a0, b0 in segments)
        gap_total += gap
        parts = kids["operators.construct"]["ms"] + sum(b0 - a0 for a0, b0 in plan) + \
            exec_ms + gap
        err = abs(parts - wall) / wall if wall > 0 else 0.0
        worst = max(worst, err)
        if err > RECONCILE_TOLERANCE:
            failures.append(f"ledger of {a['name']} off by {err:.1%} "
                            f"({parts:.1f} ms of parts vs {wall:.1f} ms wall)")
    m["exec.jobs"] = (sum(len(v) for v in jobs.values()), "count")
    m["exec.stages"] = (len(all_stages), "count")
    m["exec.tasks"] = (sum(st["tasks"] for st in all_stages), "count")
    m["exec.job_wall_ms"] = (sum(_union(_clip(jobs[o["id"]], o["t0"], o["t1"])) for o in ops),
                             "ms")
    m["exec.driver_gap_ms"] = (gap_total, "ms")
    m["exec.executor_run_ms"] = (sum(st["run_ms"] for st in all_stages), "ms")
    m["exec.executor_cpu_ms"] = (sum(st["cpu_ms"] for st in all_stages), "ms")
    shares = [st["max_task_ms"] / st["run_ms"] for st in all_stages
              if st["tasks"] >= 2 and st["run_ms"] >= REAL_WORK_MS]
    m["exec.max_task_share"] = (max(shares) if shares else 0.0, "ratio")
    m["exec.single_task_stages"] = (
        sum(1 for st in all_stages if st["tasks"] == 1 and st["run_ms"] >= REAL_WORK_MS), "count")
    m["shuffle.write_bytes"] = (sum(st["shuffle_write_bytes"] for st in all_stages), "bytes")
    m["shuffle.read_bytes"] = (sum(st["shuffle_read_bytes"] for st in all_stages), "bytes")
    m["shuffle.fetch_wait_ms"] = (sum(st["fetch_wait_ms"] for st in all_stages), "ms")
    m["spill.disk_bytes"] = (sum(st["spill_disk_bytes"] for st in all_stages), "bytes")
    m["input.bytes_read"] = (sum(st["input_bytes"] for st in all_stages), "bytes")
    m["jvm.gc_ms"] = (jvm["gc_ms"], "ms")
    m["jvm.jit_ms"] = (jvm["jit_ms"], "ms")
    m["jvm.code_cache_bytes"] = (max((o.get("code_cache_bytes", 0) for o in ops), default=0),
                                 "bytes")
    m["trace.overhead_s"] = (statistics.mean(report["traced_passes"]) -
                             statistics.mean(report["untraced_passes"]), "s")
    m["ledger.max_residual"] = (worst, "ratio")
    return m, failures
