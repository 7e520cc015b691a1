"""Benchmark of the Nomad → webhook pipeline and the batch query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each workload runs, in one pipeline JVM: repeated set-ups of the streaming
daemon, a stream phase against a fake Nomad agent, and a batch mix of
`SparkEntry.queries` at sf0.1. The fake agent and the stub webhook receiver
run in a second JVM (perfbench.LoadGen). The stream's bytes and the exact set
of notifications to expect come from gen.py and the seed.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer metrics (derived
from the spans of a traced run) with --trace 1. The line before it holds
facts a reader needs to judge the run: sample counts, the percentile each
tail figure stands for, generator lateness, failure breakdown.

The harness self-tests (selftest.py) run first; a failing one ends the run
without a result.

See perfbench/README.md for the metric definitions and why each workload
exists.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import struct
import subprocess
import sys
import time
import unittest
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen    # noqa: E402

ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_sf0.1.json")

# Two workloads, each a stream phase plus a batch mix. They split along one
# axis: per-unit fixed cost (micro-batch overhead, Spark job latency) versus
# per-row work (decode, explode, state, payloads, row kernels, shuffle).
# `reps` is the number of timed runs per query, after one digest run: a
# many-job query keeps speeding up over its first runs in a JVM, so the
# iterative mix takes the median of more.
WORKLOADS = {
    "nomad-live.batch-iterative": {
        "stream": "live",
        "mix": ["q_adc_rerank"],
        "reps": 7,
    },
    "nomad-backlog.batch-rowwise": {
        "stream": "backlog",
        "mix": ["q_ndjson_decode", "q_slack_payload"],
        "reps": 3,
    },
}
SETUPS = 3           # set-ups per run; setup_s is their median
LATE_LIMIT_MS = 250  # a live write later than this behind schedule voids the run
LIVE_SETTLE_S = 3    # live notifications due earlier are checked but not timed
DEADLINE_S = 170     # whole run, processes included

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# End-to-end metrics (trace 0) and per-layer metrics (trace 1), with units.
END_TO_END = {
    "setup_s": "s", "notify_p50_ms": "ms", "notify_p99_ms": "ms",
    "notify_events_per_s": "1/s", "batch_total_s": "s", "peak_live_mb": "MB"}
PER_LAYER = {
    "sources.lines_in": "count", "sources.lag_lines_max": "count",
    "sources.ndjson_ms_per_mb": "ms/MB", "sources.lines_dropped": "count",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms", "streaming.commit_offsets_ms_p50": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms", "streaming.decode_ms": "ms",
    "streaming.task_events_ms": "ms", "streaming.dedup_ms": "ms",
    "streaming.notifications_ms": "ms", "streaming.dedup_pass_ratio": "ratio",
    "streaming.batch_compute_ms_p50": "ms", "streaming.drain_events_per_s_1core": "1/s",
    "sink.deliver_ms_p50": "ms", "sink.posts": "count", "sink.posts_per_event": "ratio",
    "batch.plan_ms": "ms", "batch.jobs": "count", "batch.stages": "count",
    "batch.tasks": "count", "batch.sched_gap_ms": "ms", "batch.sched_gap_share": "ratio",
    "batch.executor_run_ms": "ms", "batch.executor_cpu_ms": "ms",
    "batch.shuffle_write_bytes": "bytes", "batch.shuffle_read_bytes": "bytes",
    "traced.setup_s": "s", "traced.notify_p50_ms": "ms",
    "traced.notify_events_per_s": "1/s", "traced.batch_total_s": "s"}


# ------------------------------------------------------------------ stats

PERCENTILES = (99.9, 99, 95, 90, 75)


def tail(samples, want=99):
    """The highest percentile (at most `want`) with at least ten samples
    beyond it, by nearest rank. Returns (percentile, value); the median when
    no higher percentile qualifies."""
    s = sorted(samples)
    n = len(s)
    for p in PERCENTILES:
        if p > want:
            continue
        rank = math.ceil(p / 100.0 * n)
        if n - rank >= 10:
            return p, s[rank - 1]
    return 50, statistics.median(s)


def med(xs):
    return statistics.median(xs) if xs else float("nan")


# ------------------------------------------------------------- processes

def start_loadgen(cp, out, plans):
    log = open(os.path.join(out, "loadgen.log"), "w")
    p = subprocess.Popen(
        ["java", "-Xmx768m", "-XX:+UseSerialGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
         "-cp", cp, "perfbench.LoadGen", out] + ["%s=%s" % kv for kv in plans],
        stdout=subprocess.PIPE, stderr=log, text=True)
    line = p.stdout.readline().split()
    if not line or line[0] != "PORTS":
        raise RuntimeError("load generator did not start")
    ports = dict(kv.split("=") for kv in line[1:])
    return p, "http://127.0.0.1:%s" % ports["agent"], "http://127.0.0.1:%s" % ports["http"]


def start_pipeline(cp, out, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    log = open(os.path.join(out, "pipeline.log"), "w")
    return subprocess.Popen(
        ["java"] + opens + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
                            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                            "-cp", cp, "perfbench.Pipeline"]
        + ["%s=%s" % kv for kv in args.items()],
        stdout=log, stderr=subprocess.STDOUT)


def stop(p):
    if p and p.poll() is None:
        p.kill()
        p.wait()


# ---------------------------------------------------------- verification

def read_posts(path):
    posts = []
    with open(path, "rb") as f:
        data = f.read()
    i = 0
    while i < len(data):
        t, dest, n = struct.unpack_from(">qbi", data, i)
        i += 13
        posts.append((t, chr(dest), data[i:i + n]))
        i += n
    return posts


def check_stream(plan, expected, posts, settle_us):
    """Match every POST to its expected notification by the event id in its
    body. Returns the latencies of notifications due at or after `settle_us`,
    their last POST time, the failure count and its breakdown."""
    by_id = {eid: (ln, d, s) for ln, eid, d, s in expected}
    seen = {}
    unexpected = invalid = 0
    for t, dest, body in posts:
        try:
            doc = json.loads(body.decode("utf-8"))
            text = (doc["embeds"][0]["description"] if dest == "d"
                    else doc["attachments"][0]["text"])
        except (ValueError, KeyError, IndexError, TypeError):
            invalid += 1
            continue
        m = gen.ID_RE.search(text)
        if not m or m.group(1) not in by_id:
            unexpected += 1   # a POST for an input the rules drop
            continue
        seen.setdefault((m.group(1), dest), []).append((t, doc))
    lat, missing, dup, wrong, last = [], 0, 0, 0, 0
    for eid, (ln, d, s) in by_id.items():
        got_d, got_s = seen.get((eid, "d"), []), seen.get((eid, "s"), [])
        if not got_d or not got_s:
            missing += 1
            continue
        if len(got_d) > 1 or len(got_s) > 1:
            dup += 1
            continue
        if got_d[0][1] != d or got_s[0][1] != s:
            wrong += 1
            continue
        if plan.line_due[ln] >= settle_us:
            first = min(got_d[0][0], got_s[0][0])
            last = max(last, got_d[0][0], got_s[0][0])
            lat.append((first - plan.line_due[ln] * 1000) / 1e6)
    facts = {"expected": len(by_id), "missing": missing, "duplicated": dup, "wrong": wrong,
             "unexpected_posts": unexpected, "invalid_json_posts": invalid}
    failures = missing + dup + wrong + unexpected + invalid
    return lat, last, failures, facts


def stream_figures(plan, expected, out, name, settle_s=0):
    """Latency, rate and checks of one replayed stream. Notifications due in
    the first `settle_s` seconds are checked but not timed."""
    posts = read_posts(os.path.join(out, name + ".posts"))
    genj = json.load(open(os.path.join(out, name + ".gen.json")))
    settle_us = settle_s * 1_000_000
    lat, last, failures, facts = check_stream(plan, expected, posts, settle_us)
    first_due_ns = min(d for d in (plan.line_due[ln] for ln, *_ in expected) if d >= settle_us) * 1000
    p_hi, v_hi = tail(lat) if lat else (None, float("nan"))
    return {
        "p50_ms": med(lat), "tail_pct": p_hi, "tail_ms": v_hi, "n": len(lat),
        "events_per_s": len(lat) / ((last - first_due_ns) / 1e9) if last > first_due_ns else 0.0,
        "posts": len(posts), "failures": failures,
        "delivered": len(expected) - facts["missing"] - facts["duplicated"] - facts["wrong"],
        "facts": facts, "late_ms_max": genj["late_ms_max"], "write_log": genj["write_log"]}


def check_batch(batch, reps):
    """Each query's row count and digest against expected_sf0.1.json. A
    mismatch is reported with the actual values."""
    expected = json.load(open(EXPECTED))
    failures, facts = 0, {}
    for q, r in batch.items():
        want = expected.get(q)
        if r["error"] or len(r["times"]) != reps or want != {"rows": r["rows"], "digest": r["digest"]}:
            failures += 1
            facts[q] = {"error": r["error"], "rows": r["rows"], "digest": r["digest"],
                        "expected": want}
    return failures, facts


# ------------------------------------------------------------ per-layer

def layer_metrics(spans, main, solo, counts):
    """Every per-layer metric, from the spans of a traced run (plus the load
    generator's write log for lag and the 1-core run's deliveries)."""
    by_id = {s["id"]: s for s in spans}

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000.0

    def within(name, outer):
        return [s for s in spans if s["name"] == name
                and outer["start_us"] <= s["start_us"] <= outer["end_us"]]

    phase = next(s for s in spans if s["name"] == "stream.main")
    trig = within("streaming.trigger", phase)
    kids = {}
    for s in spans:
        if s["parent"] in {t["id"] for t in trig}:
            kids.setdefault(s["name"], []).append(dur_ms(s))
    log = main["write_log"]

    def written_at(ms):
        n = 1
        for wall, lines in log:
            if wall > ms:
                break
            n = lines
        return n

    lag = [written_at(t["end_us"] / 1000.0) - t["attrs"]["end_offset"] for t in trig]
    nd = [s for s in spans if s["name"] == "sources.ndjson_replay"]
    nd_ms = med([dur_ms(s) for s in nd])
    replay = {}
    for stage in ("decode", "task_events", "dedup", "notifications"):
        ss = [s for s in spans if s["name"] == "streaming.replay." + stage]
        replay[stage] = (med([dur_ms(s) for s in ss]), ss[0]["attrs"]["rows"])
    trig_ms = [dur_ms(t) for t in trig]
    m = {
        "sources.lines_in": sum(t["attrs"]["rows"] for t in trig),
        "sources.lag_lines_max": max(lag),
        "sources.ndjson_ms_per_mb": nd_ms / (nd[0]["attrs"]["bytes"] / 1e6),
        "sources.lines_dropped": nd[0]["attrs"]["lines"] - nd[0]["attrs"]["lines_out"],
        "streaming.batches": len(trig),
        "streaming.rows_per_batch_p50": med([t["attrs"]["rows"] for t in trig]),
        "streaming.trigger_ms_p50": med(trig_ms),
        "streaming.planning_ms_p50": med(kids.get("streaming.planning", [])),
        "streaming.wal_commit_ms_p50": med(kids.get("streaming.wal_commit", [])),
        "streaming.commit_offsets_ms_p50": med(kids.get("streaming.commit_offsets", [])),
        "streaming.state_rows": max(t["attrs"]["state_rows"] for t in trig),
        "streaming.state_bytes": max(t["attrs"]["state_bytes"] for t in trig),
        "streaming.state_commit_ms_p50": med([t["attrs"]["state_commit_ms"] for t in trig]),
        "streaming.decode_ms": replay["decode"][0],
        "streaming.task_events_ms": replay["task_events"][0],
        "streaming.dedup_ms": replay["dedup"][0],
        "streaming.notifications_ms": replay["notifications"][0],
        "streaming.dedup_pass_ratio": replay["dedup"][1] / replay["task_events"][1],
        "streaming.batch_compute_ms_p50": med([dur_ms(s) for s in within("streaming.batch_compute", phase)]),
        "streaming.drain_events_per_s_1core": solo["events_per_s"],
        "sink.deliver_ms_p50": med([dur_ms(s) for s in within("sink.deliver", phase)]),
        "sink.posts": main["posts"],
        "sink.posts_per_event": main["posts"] / max(1, main["delivered"]),
    }
    # whole-millisecond phases that read 0 on this source, and the trigger
    # tail (too few micro-batches per run for a percentile above the median)
    facts = {"latest_offset_ms_p50": med(kids.get("sources.latest_offset", [])),
             "get_batch_ms_p50": med(kids.get("sources.get_batch", [])),
             "trigger_tail": tail(trig_ms), "batches": len(trig),
             "replay_rows": {k: v[1] for k, v in replay.items()},
             "lines_dropped_expected": counts["malformed"]}

    # batch: each timed query run with the jobs and stages under it
    def ancestor_query(s):
        while s is not None:
            if s["name"].startswith("batch.query:"):
                return s
            s = by_id.get(s["parent"])
        return None

    runs = {}
    for s in spans:
        if s["name"].startswith("batch.query:"):
            runs[s["id"]] = {"q": s["name"].split(":", 1)[1], "wall_ms": dur_ms(s), "span": s,
                             "jobs": 0, "stages": [], "plan_ms": 0.0}
    for s in spans:
        if s["name"] in ("spark.job", "spark.stage", "batch.plan"):
            q = ancestor_query(by_id.get(s["parent"]))
            if q is None:
                continue
            r = runs[q["id"]]
            if s["name"] == "spark.job":
                r["jobs"] += 1
            elif s["name"] == "spark.stage":
                r["stages"].append(s)
            else:
                r["plan_ms"] += dur_ms(s)
    per_q = {}
    for r in runs.values():
        st, sp = r["stages"], r["span"]
        iv = sorted((max(s["start_us"], sp["start_us"]), min(s["end_us"], sp["end_us"]))
                    for s in st if s["start_us"] > 0)
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        vals = {"wall_ms": r["wall_ms"], "plan_ms": r["plan_ms"], "jobs": r["jobs"],
                "stages": len(st), "sched_gap_ms": r["wall_ms"] - covered / 1000.0}
        for k in ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            vals[k] = sum(s["attrs"][k] for s in st)
        per_q.setdefault(r["q"], []).append(vals)
    keys = ("plan_ms", "jobs", "stages", "tasks", "sched_gap_ms", "executor_run_ms",
            "executor_cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes")
    qmed = {q: {k: med([v[k] for v in vs]) for k in keys + ("wall_ms",)} for q, vs in per_q.items()}
    for k in keys:
        m["batch." + k] = sum(v[k] for v in qmed.values())
    m["batch.sched_gap_share"] = m["batch.sched_gap_ms"] / sum(v["wall_ms"] for v in qmed.values())
    facts["batch_per_query"] = {q: {"wall_s": v["wall_ms"] / 1000, "jobs": v["jobs"],
                                    "sched_gap_ms": v["sched_gap_ms"]} for q, v in qmed.items()}
    # often 0 at sf0.1 with a 3 GB heap, so reported here rather than as metrics
    for k in ("gc_ms", "spill_bytes"):
        facts["batch_" + k] = sum(med([v[k] for v in vs]) for vs in per_q.values())
    return m, facts


# ------------------------------------------------------------------ main

def selftest():
    import selftest as tests
    suite = unittest.defaultTestLoader.loadTestsFromModule(tests)
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=0).run(suite).wasSuccessful():
        raise SystemExit("perfbench: harness self-tests failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    selftest()
    if not os.path.isdir(DATA):
        raise SystemExit("perfbench: batch data missing at %s" % DATA)
    cp = build.build()
    t_start = time.time()

    out = os.path.join(ROOT, ".bench_out", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    plan = gen.build(w["stream"], a.seed, a.seconds)
    expected = gen.expected_notifications(plan.lines)
    plan_path = os.path.join(out, "stream.plan")
    gen.write_plan(plan, plan_path, 2 * len(expected))

    warm = gen.build("warmup", a.seed + 1_000_000, a.seconds)
    warm_expected = gen.expected_notifications(warm.lines)
    warm_path = os.path.join(out, "warm.plan")
    gen.write_plan(warm, warm_path, 2 * len(warm_expected))
    runs = [("main", plan_path), ("warm", warm_path)] + ([("solo", plan_path)] if a.trace else [])
    loadgen = pipeline = None
    try:
        loadgen, agent, http = start_loadgen(cp, out, runs)
        pipeline = start_pipeline(cp, out, {
            "out": out, "agent": agent, "http": http, "sf": DATA, "mix": ",".join(w["mix"]),
            "reps": w["reps"], "setups": SETUPS, "trace": a.trace, "plan": plan_path,
            "wm0": gen.WATERMARK0_NS, "run": "%s-s%d" % (a.workload, a.seed)})
        rc = pipeline.wait(timeout=max(1, DEADLINE_S - (time.time() - t_start)))
        urllib.request.urlopen(urllib.request.Request(http + "/control/quit", method="POST"),
                               timeout=10).read()
        loadgen.wait(timeout=30)
        if rc != 0:
            sys.stderr.write(open(os.path.join(out, "pipeline.log")).read()[-4000:])
            raise SystemExit("perfbench: pipeline exited with %d" % rc)
    finally:
        stop(pipeline)
        stop(loadgen)

    pipe = json.load(open(os.path.join(out, "pipeline.json")))
    settle = LIVE_SETTLE_S if w["stream"] == "live" else 0
    main_fig = stream_figures(plan, expected, out, "main", settle)
    batch_fail, batch_facts = check_batch(pipe["batch"], w["reps"])
    batch_total = sum(med(r["times"]) for r in pipe["batch"].values() if r["times"])
    # a backlog is due all at once and written as fast as the socket takes
    # it, so only the live schedule can fall behind
    late = main_fig["late_ms_max"] if w["stream"] == "live" else 0.0
    attempted = len(expected) + len(warm_expected) + len(pipe["batch"])
    failed = (main_fig["failures"] + batch_fail
              + stream_figures(warm, warm_expected, out, "warm")["failures"])
    info = {
        "notify": {"n": main_fig["n"], "tail_pct": main_fig["tail_pct"],
                   "failed_ratio": main_fig["failures"] / len(expected), **main_fig["facts"]},
        "batch": {"failed_ratio": batch_fail / len(pipe["batch"]),
                  "per_query_s": {q: r["times"] for q, r in pipe["batch"].items()},
                  "mismatches": batch_facts},
        "generator": {"gen_late_ms_max": main_fig["late_ms_max"], "valid": late <= LATE_LIMIT_MS,
                      "utf8_splits": plan.utf8_splits, "lines": len(plan.lines),
                      "inputs": plan.counts},
        "setup_s": pipe["setup_s"],
    }

    if a.trace:
        solo = stream_figures(plan, expected, out, "solo", settle)
        failed += solo["failures"]
        attempted += len(expected)
        spans = json.load(open(os.path.join(out, "spans.json")))
        metrics, facts = layer_metrics(spans, main_fig, solo, plan.counts)
        if metrics["sources.lines_dropped"] != plan.counts["malformed"]:
            failed += 1
        if facts["replay_rows"]["notifications"] != len(expected):
            failed += 1
        metrics.update({
            "traced.setup_s": med(pipe["setup_s"]),
            "traced.notify_p50_ms": main_fig["p50_ms"],
            "traced.notify_events_per_s": main_fig["events_per_s"],
            "traced.batch_total_s": batch_total})
        info["layers"] = facts
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": med(pipe["setup_s"]),
            "notify_p50_ms": main_fig["p50_ms"],
            "notify_p99_ms": main_fig["tail_ms"],
            "notify_events_per_s": main_fig["events_per_s"],
            "batch_total_s": batch_total,
            "peak_live_mb": max(pipe["live_mb"]),
        }
        units = END_TO_END

    correct = failed == 0 and late <= LATE_LIMIT_MS
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    for f in os.listdir(out):
        if f.endswith((".plan", ".posts")):
            os.remove(os.path.join(out, f))
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
