"""Turns the harness's raw record (ops, set-up, spans, listener events) into
the benchmark's metrics. Pure arithmetic, covered by test_reduce.py. The
metric names and units are those of BENCHMARK.json."""
import json
import math
import os


# ---------------------------------------------------------------- arithmetic

def percentile(values, p):
    """(p-th percentile by linear interpolation between closest ranks,
    sample count). (nan, 0) when there are no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(t0, t1, intervals):
    """Time in [t0, t1) that none of the intervals covers: an op's driver
    gap (intervals = its stages and planning phases) or a request's
    front-door self time (intervals = its SQL executions)."""
    return max(0.0, (t1 - t0) - union_length(intervals, t0, t1))


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: uncovered(s["start"], s["end"], kids.get(s["id"], []))
            for s in spans}


def amplification(numerator_bytes, denominator_bytes):
    """write_amp (bytes written / parquet bytes submitted) and space_amp
    (bytes stored / parquet bytes of the live rows)."""
    return numerator_bytes / denominator_bytes if denominator_bytes > 0 else math.nan


def mean(values):
    return sum(values) / len(values) if values else 0.0


# --------------------------------------------------------------- metrics

def _metrics(kind):
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


END_TO_END = _metrics("end_to_end")
PER_LAYER = _metrics("per_layer")


# ------------------------------------------------------------ end to end

def rate(ops, clients):
    """Completed ops per second of client busy time, times the clients."""
    busy = sum(o["t1"] - o["t0"] for o in ops)
    return clients * len(ops) / busy if busy > 0 else 0.0


def end_to_end(raw, gen_s):
    ok = [o for o in raw["ops"] if o["ok"]]
    lat = [o["t1"] - o["t0"] for o in ok]
    last = max((o["t1"] for o in ok), default=raw["end"])
    return {
        # from the start of the set-up to the first op it can run
        "setup_s": gen_s + sum(raw["setup"][k] for k in ("boot_s", "session_s", "warmup_s")),
        "ops_per_s": len(ok) / (last - raw["start"]) if ok else 0.0,
        "latency_p50_s": percentile(lat, 50)[0],
        "peak_rss_mb": raw["peak_rss_mb"],
    }


# ------------------------------------------------------------- per layer

def attribute(raw):
    """Maps executions (by QueryExecution id), jobs and stage attempts to op
    ids. An op id arrives as a tag in front-door SQL or as a local property
    on client threads; it spreads from an execution to its jobs through the
    SQL execution id and the job group. Anything left is placed by time,
    which is exact for single-client workloads."""
    ops, execs, jobs = raw["ops"], raw.get("execs", []), raw.get("jobs", [])
    single = raw["clients"] == 1

    def by_time(t):
        if single:
            for o in ops:
                if o["t0"] <= t <= o["t1"]:
                    return o["id"]
        return -1

    sid_op = {j["exec"]: j["op"] for j in jobs if j["op"] >= 0 and j["exec"] >= 0}
    exec_op, group_op = {}, {}
    for e in execs:
        op = e.get("tag_op", -1)
        if op < 0:
            op = sid_op.get(e.get("exec"), -1)
        if op < 0:
            op = by_time(e.get("end", e.get("analysis_start", -1.0)))
        exec_op[e["id"]] = op
        if op >= 0:
            sid_op.setdefault(e.get("exec"), op)
            if e.get("group"):
                group_op[e["group"]] = op
    job_op = {}
    for j in jobs:
        op = j["op"]
        if op < 0:
            op = sid_op.get(j["exec"], group_op.get(j["group"], -1))
        job_op[j["id"]] = op if op >= 0 else by_time(j["start"])
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for s in j["stage_ids"]:
            stage_job.setdefault(s, []).append(j)
    stage_op = {}
    for s in raw.get("stages", []):
        owners = [j for j in stage_job.get(s["id"], []) if j["start"] <= s["start"] + 1e-3]
        stage_op[(s["id"], s["attempt"])] = job_op[owners[-1]["id"]] if owners else by_time(s["start"])
    return exec_op, job_op, stage_op


def per_layer(raw, gen_s):
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]] or ops
    ids = {o["id"] for o in traced}
    exec_op, job_op, stage_op = attribute(raw)
    per = {o["id"]: {} for o in traced}

    def add(op, key, v):
        if op in per:
            per[op][key] = per[op].get(key, 0.0) + v

    # planning (QueryPlanningTracker) and SQL-execution intervals
    intervals = {i: [] for i in ids}
    exec_iv = {i: [] for i in ids}
    for e in raw.get("execs", []):
        op = exec_op.get(e["id"], -1)
        if op not in ids:
            continue
        add(op, "plan.executions", 1)
        for k in ("analysis", "optimization", "physical"):
            if f"{k}_s" in e:
                add(op, f"plan.{k}_s", e[f"{k}_s"])
                intervals[op].append((e[f"{k}_start"], e[f"{k}_start"] + e[f"{k}_s"]))
        if "start" in e and "end" in e:
            exec_iv[op].append((e["start"], e["end"]))
        if "candidate_pairs" in e:
            add(op, "cand", e["candidate_pairs"])
            add(op, "verified", e["verified_pairs"])
    # scheduling
    submitted = {}
    for s in raw.get("stages", []):
        submitted.setdefault(s["id"], []).append(s["start"])
    for j in raw.get("jobs", []):
        op = job_op.get(j["id"], -1)
        add(op, "sched.jobs", 1)
        if op in ids and j["end"] > 0:
            exec_iv[op].append((j["start"], j["end"]))
        # a stage of the job that no attempt ran during the job (its output was reused)
        add(op, "sched.stages_skipped", sum(
            1 for s in j["stage_ids"] if not any(t >= j["start"] - 1e-3 for t in submitted.get(s, []))))
    for s in raw.get("stages", []):
        op = stage_op.get((s["id"], s["attempt"]), -1)
        if op not in ids:
            continue
        add(op, "sched.stages", 1)
        add(op, "sched.tasks", s["tasks"])
        if s["end"] > 0:
            intervals[op].append((s["start"], s["end"]))
        for k, out in (("cpu_s", "exec.cpu_s"), ("run_s", "exec.run_s"), ("gc_s", "exec.gc_s"),
                       ("input_bytes", "exec.input_bytes"),
                       ("shuffle_write_bytes", "shuffle.write_bytes"),
                       ("shuffle_read_bytes", "shuffle.read_bytes"),
                       ("fetch_wait_s", "shuffle.fetch_wait_s"),
                       ("spill_bytes", "shuffle.spill_bytes")):
            add(op, out, s[k])
        per[op]["exec.peak_mem_bytes"] = max(per[op].get("exec.peak_mem_bytes", 0), s["peak_mem_bytes"])
    # spans around the program's entry points
    span_metric = {"sources.snapshot": "sources.snapshot_s", "sources.commit": "sources.commit_s",
                   "sources.checkpoint": "sources.checkpoint_s", "sources.table": "sources.table_s"}
    spans = raw.get("spans", [])
    own = self_times(spans)
    for sp in spans:
        if sp["name"] in span_metric:
            add(sp["op"], span_metric[sp["name"]], sp["end"] - sp["start"])
        elif sp["name"] == "op":
            add(sp["op"], "trace.harness_self_s", own[sp["id"]])
    frontdoor = any("response_bytes" in o["sub"] for o in ops)
    for o in traced:
        p, wall = per[o["id"]], o["t1"] - o["t0"]
        p["sched.driver_gap_s"] = uncovered(o["t0"], o["t1"], intervals[o["id"]])
        p["exec.eff_par"] = p.get("exec.run_s", 0.0) / wall if wall > 0 else 0.0
        if frontdoor:
            # the request span's self time; its SQL executions and jobs are the children
            req = [sp for sp in spans if sp["op"] == o["id"] and sp["name"] == "frontdoor.request"]
            kids = [{"id": -1 - k, "parent": r["id"], "start": s0, "end": s1}
                    for r in req for k, (s0, s1) in enumerate(exec_iv[o["id"]])]
            st = self_times(req + kids)
            p["frontdoor.self_s"] = sum(st[r["id"]] for r in req)
            p["frontdoor.response_bytes"] = o["sub"].get("response_bytes", 0)
            p["frontdoor.rejected"] = 1 if o["sub"].get("status", 200) != 200 else 0
        for k in ("log_entries", "live_files", "bytes_written"):
            if k in o["sub"]:
                p[f"sources.{k}"] = o["sub"][k]

    summed = [n for n in PER_LAYER if n.split(".")[0] in
              ("frontdoor", "plan", "sources", "sched", "exec", "shuffle")] + ["trace.harness_self_s"]
    out = {n: mean([per[i].get(n, 0.0) for i in per]) for n in summed}
    out["pipeline.candidate_pairs"] = mean([per[i].get("cand", 0) for i in per])
    cand = sum(per[i].get("cand", 0) for i in per)
    out["pipeline.pair_yield"] = sum(per[i].get("verified", 0) for i in per) / cand if cand else 0.0

    out["setup.session_s"] = raw["setup"]["session_s"]
    out["setup.data_s"] = gen_s
    out["setup.warmup_s"] = raw["setup"]["warmup_s"]

    # workload-level figures, over the run's untraced ops
    ok_plain = [o for o in plain if o["ok"]]
    lat = [o["t1"] - o["t0"] for o in ok_plain]
    out["latency_p90_s"], out["latency_samples"] = percentile(lat, 90)
    out["failed_ratio"] = sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0
    docs = sum(o["sub"].get("docs", 0) for o in ok_plain)
    out["docs_per_s"] = docs / sum(lat) if docs and lat else 0.0
    out["commit_p50_s"] = percentile([o["sub"]["commit_s"] for o in ok_plain if "commit_s" in o["sub"]], 50)[0]
    out["read_p50_s"] = percentile([o["sub"]["read_s"] for o in ok_plain if "read_s" in o["sub"]], 50)[0]
    lake = raw.get("lake")
    written = sum(o["sub"].get("bytes_written", 0) for o in ops)
    out["write_amp"] = amplification(written, sum(o["sub"].get("submitted_bytes", 0) for o in ops)) \
        if lake else 0.0
    out["space_amp"] = amplification(lake["dir_bytes"], lake["live_bytes"]) if lake else 0.0
    for k in ("commit_p50_s", "read_p50_s"):
        if math.isnan(out[k]):
            out[k] = 0.0

    # tracing overhead: traced minus untraced ops of the same run
    t_ok = [o for o in traced if o["ok"]]
    u_ok = [o for o in ops if not o["traced"] and o["ok"]]
    t_lat = [o["t1"] - o["t0"] for o in t_ok]
    u_lat = [o["t1"] - o["t0"] for o in u_ok]
    out["trace.overhead_latency_p50_s"] = (percentile(t_lat, 50)[0] - percentile(u_lat, 50)[0]
                                           if t_lat and u_lat else 0.0)
    out["trace.overhead_ops_per_s"] = (rate(t_ok, raw["clients"]) - rate(u_ok, raw["clients"])
                                       if t_ok and u_ok else 0.0)
    return {n: out[n] for n in PER_LAYER}
