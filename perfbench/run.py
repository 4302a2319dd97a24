#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload ingest_agg|ingest_fresh|query_mix \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the program and the harness
(once per source change) into $CARGO_TARGET_DIR or `.bench_build`, starts
the Spark JVM (`perfbench/scala/Harness.scala`) and, for the ingest
workloads, the load generator (`perfbench/lib/gen.py`) as a separate
process, checks the outputs, and prints one JSON object as its last line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "lib"))
import build  # noqa: E402
import stats  # noqa: E402
import frames as framelib  # noqa: E402

CONF = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
WORKLOADS = ("ingest_agg", "ingest_fresh", "query_mix")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
W1, W2 = "graft-dnstap-agg", "graft-dnstap-samples"
# micro-batch phases in the order MicroBatchExecution runs them
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def log(msg):
    print(msg, flush=True)


def load1m():
    return float(open("/proc/loadavg").read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f)


def iso_s(ts):
    """Progress timestamps (`2026-01-01T00:00:00.123Z`) to epoch seconds."""
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


class Proc:
    """A child process whose stdout is read line by line on a thread."""

    def __init__(self, argv, err_path, cwd):
        self.err = open(err_path, "w")
        self.p = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.err, text=True, bufsize=1, cwd=cwd)
        self.lines = []
        self.cv = threading.Condition()
        self.t = threading.Thread(target=self._pump, daemon=True)
        self.t.start()

    def _pump(self):
        for line in self.p.stdout:
            with self.cv:
                self.lines.append(line.rstrip("\n"))
                self.cv.notify_all()
        with self.cv:
            self.lines.append(None)
            self.cv.notify_all()

    def next(self, want=lambda line: True, timeout=170):
        """Next stdout line accepted by `want` (others are dropped)."""
        deadline = time.time() + timeout
        with self.cv:
            while True:
                while self.lines:
                    line = self.lines.pop(0)
                    if line is None:
                        self.lines.append(None)
                        self.err.flush()
                        with open(self.err.name) as f:
                            tail = f.read()[-3000:]
                        raise RuntimeError(f"process exited ({self.p.poll()}); its stderr ends:\n"
                                           f"{tail}")
                    if want(line):
                        return line
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"no reply within {timeout}s, see {self.err.name}")
                self.cv.wait(left)

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def stop(self, timeout=30):
        try:
            self.p.stdin.close()
        except OSError:
            pass
        try:
            self.p.wait(timeout)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.t.join(5)
        self.err.close()


class Gen(Proc):
    def __init__(self, run, kind, seed, n, pool_file=None):
        argv = [sys.executable, os.path.join(HERE, "lib", "gen.py"), "--seed", str(seed),
                "--pool", kind, "--frames", str(n)]
        if pool_file:
            argv += ["--pool-file", pool_file]
        super().__init__(argv, os.path.join(run, f"gen-{kind}.err"), os.getcwd())
        self.info = None

    def pool(self):
        if self.info is None:
            self.info = json.loads(self.next())
        return self.info

    def cmd(self, **kw):
        self.pool()
        self.send(json.dumps(kw))
        return json.loads(self.next(timeout=170))


class Jvm(Proc):
    def __init__(self, run, classes, plan):
        path = os.path.join(run, "plan.json")
        json.dump(plan, open(path, "w"))
        cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
        argv = (["java"] + ADD_OPENS +
                [f"-Xmx{CONF['jvm_heap']}", f"-Djava.io.tmpdir={run}/tmp",
                 "-cp", cp, "perfbench.Harness", path])
        os.makedirs(f"{run}/tmp", exist_ok=True)
        super().__init__(argv, os.path.join(run, "jvm.err"), os.getcwd())

    def event(self, timeout=170):
        return self.next(lambda line: line.startswith("@@ "), timeout)[3:].split()


# ------------------------------------------------------------------ phases

def stream_plan(run, kind, readers):
    # a relative socket path keeps within the 108-byte unix socket limit
    return {"kind": kind, "sock": os.path.relpath(f"{run}/{kind}.sock"),
            "readers": readers, "out": f"{run}/out-{kind}",
            "max_frames_per_trigger": CONF[f"ingest_{kind}"].get("max_frames_per_trigger", 0),
            "drain_timeout_s": CONF[f"ingest_{kind}"]["drain_timeout_s"]}


def drive_stream(jvm, gen, ph, feeds):
    """READY → each feed into the socket (all but the last are untimed warm
    feeds, committed before the next starts) → DRAIN. Returns the reports."""
    ev = jvm.event()
    assert ev == ["READY", ph["kind"]], ev
    reps, sent = [], 0
    for k, feed in enumerate(feeds):
        reps.append(gen.cmd(**feed))
        sent += reps[-1]["sent"]
        if k < len(feeds) - 1:
            jvm.send(f"WAIT {sent}")
            assert jvm.event() == ["COMMITTED"]
    jvm.send(f"DRAIN {sent}")
    ev = jvm.event()
    assert ev == ["DONE", ph["kind"]], ev
    return reps


def parse_progress(raw):
    out = []
    for j in raw:
        p = json.loads(j)
        src = p["sources"][0] if p.get("sources") else {}
        d = p.get("durationMs", {})
        start = iso_s(p["timestamp"])
        out.append({"batch": p["batchId"], "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1e3,
                    "rows": p.get("numInputRows", 0), "d": d,
                    "s_off": int(src.get("startOffset") or 0),
                    "e_off": int(src.get("endOffset") or 0),
                    "latest": int(src.get("latestOffset") or 0),
                    "state": p.get("stateOperators", [])})
    return out


def commit_times(writes, legs):
    """Per batch: when the last of `legs` returned from its sink write (s)."""
    out = {}
    for w in writes:
        if w["leg"] in legs:
            out[w["batch"]] = max(out.get(w["batch"], 0), w["t1"] / 1e6)
    return out


def window_batches(prog, w0, w1):
    return [b for b in prog if b["rows"] > 0 and b["start"] >= w0 and b["end"] <= w1]


def pct(vals, q):
    return stats.percentile(vals, q) if vals else 0.0


def ingest_metrics(res, due, w0, w1, lo, hi, streams):
    """End-to-end numbers shared by both ingest workloads."""
    prog = {q: parse_progress(v) for q, v in res["progress"].items()}
    w1_prog = prog[W1]
    fps, n_fps = stats.steady_fps([(b["start"], b["end"], b["rows"]) for b in w1_prog
                                   if b["rows"] > 0], w0, w1)
    commits = commit_times(res["sink_writes"], ("queries", "responses"))
    bt = [(b["s_off"], b["e_off"], commits[b["batch"]]) for b in w1_prog
          if b["rows"] > 0 and b["batch"] in commits]
    fresh, owner = stats.freshness(bt, due, lo, hi)
    per_query = [pct([b["d"].get("triggerExecution", 0) / 1e3
                      for b in window_batches(prog[q], w0, w1)], 50) for q in streams]
    m = {"ingest_fps": fps,
         "fresh_p50_ms": float(np.percentile(fresh, 50)) if len(fresh) else 0.0,
         "fresh_p90_ms": float(np.percentile(fresh, 90)) if len(fresh) else 0.0,
         "query_total_s": sum(per_query), "query_p50_s": stats.median(per_query)}
    counts = {"fps_batches": n_fps, "fresh_frames": int(len(fresh)),
              "fresh_batches": int(len(set(owner.tolist()))),
              "batches_beyond_p90": stats.batches_beyond(fresh, owner, 90),
              "committed": w1_prog[-1]["e_off"] if w1_prog else 0}
    return m, counts, prog, fresh


def run_agg(ph, jvm, gen, seconds):
    """One continuous saturating feed; its first `warm_s` seconds are the
    untimed warm-up (JIT, and the source buffer filling to its bound)."""
    warm = ph["warm_s"]
    rep, = drive_stream(jvm, gen, ph, [{"cmd": "saturate", "sock": ph["sock"],
                                        "conns": ph["readers"],
                                        "seconds": warm + seconds + CONF["ingest_agg"]["tail_s"]}])
    rep["warm_sent"] = 0
    return rep, rep["t0"] + warm


def run_fresh(ph, jvm, gen, seconds):
    """An untimed warm burst on one connection, then the open-loop feed at
    the fixed rate; the window opens `settle_s` into it."""
    c = CONF["ingest_fresh"]
    n = int(c["rate_fps"] * (c["settle_s"] + seconds + c["tail_s"]))
    warm, rep = drive_stream(jvm, gen, ph, [
        {"cmd": "saturate", "sock": ph["sock"], "conns": 1, "seconds": 60,
         "frames": c["warm_frames"]},
        {"cmd": "schedule", "sock": ph["sock"], "rate": c["rate_fps"], "frames": n,
         "start": c["warm_frames"]}])
    assert warm["sent"] == c["warm_frames"], warm["sent"]
    rep["warm_sent"] = warm["sent"]
    rep["sent"] += warm["sent"]
    for k in ("truth_query_rows", "truth_nonok_rows"):
        rep[k] += warm[k]
    return rep, rep["t0"] + c["settle_s"]


def agg_result(res, rep, w0, seconds):
    """Metrics and checks of an ingest_agg phase."""
    w1 = w0 + seconds
    log_t = np.array([t for t, _ in rep["log"]] or [rep["t0"]])
    log_n = np.array([n for _, n in rep["log"]] or [0]) + rep["warm_sent"]

    def due(offs):  # send time: when the generator had written offs+1 frames
        return np.interp(offs + 1, log_n, log_t)
    lo, hi = (int(np.interp(w, log_t, log_n)) for w in (w0, w1))
    m, counts, prog, _ = ingest_metrics(res, due, w0, w1, lo, hi, [W1])
    truth = {"queries": rep["truth_query_rows"], "responses": rep["truth_nonok_rows"]}
    sums = res["sums"]
    fails = stats.conservation(rep["sent"], counts["committed"], truth, sums)
    if not res["drain_ok"]:
        fails.append("stream did not commit every frame before the drain timeout")
    failed = stats.unaccounted(rep["sent"], counts["committed"], truth, sums)
    return m, counts, prog, fails, rep["sent"], failed


def read_fresh_outputs(out_dir):
    """Σcounter per grouping set of the W1 parquet legs, and the W2 rows."""
    import duckdb
    con = duckdb.connect()
    sums = {}
    for leg in ("queries", "responses"):
        g = f"{out_dir}/{leg}/**/*.parquet"
        r = con.execute(
            f"SELECT sum(CASE WHEN queryAddress <> '__ANY__' AND questionName <> '__ANY__' "
            f"THEN counter ELSE 0 END), sum(CASE WHEN questionName = '__ANY__' THEN counter "
            f"ELSE 0 END), sum(CASE WHEN queryAddress = '__ANY__' THEN counter ELSE 0 END), "
            f"count(*) FROM read_parquet('{g}', hive_partitioning=true)").fetchone()
        sums[leg] = [int(x or 0) for x in r]
    samples = con.execute(
        f"SELECT identity, responseTimeMicroSec FROM read_parquet("
        f"'{out_dir}/samples/**/*.parquet', hive_partitioning=true)").fetchall()
    size = sum(os.path.getsize(os.path.join(d, f)) for leg in ("queries", "responses")
               for d, _, fs in os.walk(f"{out_dir}/{leg}") for f in fs if f.endswith(".parquet"))
    return sums, samples, size


def fresh_result(res, rep, ph, w0, seconds):
    """Metrics and checks of an ingest_fresh phase."""
    c = CONF["ingest_fresh"]
    rate = rep["rate"]
    base = rep["warm_sent"]
    lo = base + int(np.ceil(c["settle_s"] * rate))
    hi = base + int(np.ceil((c["settle_s"] + seconds) * rate))

    def due(offs):  # the timed feed's frame i is due at t0 + i/R
        return rep["t0"] + (offs - base) / rate
    m, counts, prog, fresh = ingest_metrics(res, due, w0, w0 + seconds, lo, hi, [W1, W2])
    sums, samples, size = read_fresh_outputs(ph["out"])
    truth = {"queries": rep["truth_query_rows"], "responses": rep["truth_nonok_rows"]}
    fails = stats.conservation(rep["sent"], counts["committed"], truth, sums)
    if not res["drain_ok"]:
        fails.append("stream did not commit every frame before the drain timeout")
    bad = [(i, d) for i, d in samples
           if d != framelib.FRESH_DELAY_US[framelib.IDENTITIES.index(i.encode())]]
    if bad:
        fails.append(f"{len(bad)} of {len(samples)} W2 rows off their identity's delay, "
                     f"e.g. {bad[:3]}")
    if not samples:
        fails.append("W2 wrote no latency samples")
    late = int((fresh > c["latency_limit_ms"]).sum())
    if late:
        fails.append(f"{late} frames fresher than the {c['latency_limit_ms']} ms limit failed it")
    failed = min(rep["sent"], stats.unaccounted(rep["sent"], counts["committed"], truth, sums)
                 + late + len(bad))
    counts["w2_rows"] = len(samples)
    counts["bytes_on_disk"] = size
    counts["rows_written"] = sums["queries"][3] + sums["responses"][3]
    return m, counts, prog, fails, rep["sent"], failed


def query_plan(run, data_dir, seconds, min_execs):
    return {"kind": "query", "data_dir": data_dir,
            "queries": CONF["query_mix"]["queries"], "seconds": seconds,
            "min_execs": min_execs, "result_dir": f"{run}/results",
            "warm_threads": len(os.sched_getaffinity(0))}


def timed_calls(res):
    """The timed registry calls; a phase that ran only its warm pass (the
    query phase of a traced ingest run) falls back to the warm calls, which
    run cold and nproc at a time."""
    return res["execs"] or res["warm"]


def query_result(res, ph, cache_dir):
    """Metrics of the timed executions, and the oracle compare."""
    import tables
    execs = {}
    errors = {}
    for e in timed_calls(res):
        execs.setdefault(e["name"], []).append((e["t1"] - e["t0"]) / 1e6)
        if e["error"]:
            errors[e["name"]] = e["error"]
    for w in res["warm"]:
        if w["error"]:
            errors[w["name"]] = w["error"]
    med = {n: stats.median(v) for n, v in execs.items()}
    all_ms = [t * 1e3 for v in execs.values() for t in v]
    m = {"query_total_s": sum(med.values()), "query_p50_s": stats.median(list(med.values())),
         "fresh_p50_ms": stats.percentile(all_ms, 50), "fresh_p90_ms": stats.percentile(all_ms, 90),
         "ingest_fps": tables.N_EVENTS / med["q25_dnstap_pipeline"]}
    verdict, oracle_s = tables.compare(ph["data_dir"], ph["result_dir"], res["oracle_sql"],
                                       cache_dir)
    fails = [f"{n}: {e}" for n, e in sorted(errors.items())]
    fails += [f"{n}: {v}" for n, v in sorted(verdict.items()) if v]
    missing = set(CONF["query_mix"]["queries"]) - set(verdict)
    fails += [f"{n}: no oracle" for n in sorted(missing)]
    failed = len(set(errors) | {n for n, v in verdict.items() if v} | missing)
    counts = {"executions": len(timed_calls(res)), "oracle_s": round(oracle_s, 2),
              "per_query_s": {n: round(v, 4) for n, v in sorted(med.items())}}
    return m, counts, fails, len(CONF["query_mix"]["queries"]), failed


# ------------------------------------------------------------------ layers

def stream_layers(prog, res, jobs, w0, w1, sent_at, missing):
    """Source, micro-batch and operator numbers of one ingest phase's W1
    query. `sent_at(t)` is how many frames the generator had sent by t."""
    wb = window_batches(prog[W1], w0, w1)
    ids = {str(b["batch"]) for b in wb}
    bj = [j for j in jobs if j["t1"] >= 0 and j["query_id"] == res["query_ids"][W1]
          and j["batch"] in ids]
    n = max(1, len(wb))
    # frames sent but not yet committed, at each commit in the window
    backlog = [sent_at(b["end"]) - b["e_off"] for b in wb]
    # JVM GC time between the first and the last W1 commit in the window
    commits = sorted((w["t1"], w["gc_ms"]) for w in res["sink_writes"]
                     if w["leg"] == "responses" and str(w["batch"]) in ids)

    def d(*keys):
        return [sum(b["d"].get(k, 0) for k in keys) for b in wb]
    L = {"sources.backlog_frames_p50": pct(backlog, 50),
         "sources.backlog_frames_max": max(backlog, default=0),
         "sources.get_batch_ms_p50": pct(d("latestOffset", "getBatch"), 50),
         "streaming.batch_ms_p50": pct(d("triggerExecution"), 50),
         "streaming.batch_ms_p90": pct(d("triggerExecution"), 90),
         "streaming.add_batch_ms_p50": pct(d("addBatch"), 50),
         "streaming.planning_ms_p50": pct(d("queryPlanning"), 50),
         "streaming.commit_ms_p50": pct(d("walCommit", "commitOffsets"), 50),
         "streaming.frames_per_batch_p50": pct([b["rows"] for b in wb], 50),
         "streaming.batches": len(wb),
         "streaming.jobs_per_batch": len(bj) / n,
         "streaming.tasks_per_batch": sum(j["tasks"] for j in bj) / n,
         "streaming.gc_share": (commits[-1][1] - commits[0][1]) * 1e3
         / (commits[-1][0] - commits[0][0]) if len(commits) > 1 else 0.0,
         "operators.shuffle_write_bytes_per_batch": sum(j["shuffle_write"] for j in bj) / n}
    if not wb:
        missing.update({k: "no W1 batch with frames in the window" for k in L
                        if k != "streaming.batches"})
    elif len(commits) < 2:
        missing["streaming.gc_share"] = "fewer than two W1 commits in the window"
    return L


def fresh_layers(prog, res, jobs, counts, w0, w1, missing):
    """Matcher state and parquet sink numbers of the W1+W2 phase."""
    wb = window_batches(prog[W1], w0, w1)
    ids = {b["batch"] for b in wb}
    writes = [w for w in res["sink_writes"] if w["leg"] != "samples" and w["batch"] in ids]
    write_ms = [(w["t1"] - w["t0"]) / 1e3 for w in writes]
    batch_ms = sum(b["d"].get("triggerExecution", 0) for b in wb)
    st = [s for b in prog[W2] if b["rows"] > 0 for s in b["state"]]
    updated = sum(s.get("numRowsUpdated", 0) for s in st)
    masks = [j["mask"] for j in sorted(jobs, key=lambda j: j["id"])
             if j["query_id"] == res["query_ids"][W2] and j.get("mask", "") != ""]
    rows = counts["rows_written"]
    if not writes:
        missing.update({k: "no W1 sink write in the ingest_fresh window"
                        for k in ("sinks.write_ms_p50", "sinks.write_share")})
    if not st:
        missing.update({k: "no W2 batch reported a state operator" for k in (
            "streaming.state_rows_max", "streaming.state_bytes_max",
            "streaming.state_commit_ms_p50")})
    if not updated:
        missing["streaming.match_ratio"] = "the matcher parked no entry"
    if not masks:
        missing["streaming.mask_bits_final"] = "no W2 job carried the sampler's mask"
    if not rows:
        missing["sinks.bytes_per_row"] = "no parquet row was written"
    return {"streaming.state_rows_max": max((s.get("numRowsTotal", 0) for s in st), default=0),
            "streaming.state_bytes_max": max((s.get("memoryUsedBytes", 0) for s in st), default=0),
            "streaming.state_commit_ms_p50": pct([s.get("commitTimeMs", 0) for s in st], 50),
            "streaming.match_ratio": sum(s.get("numRowsRemoved", 0) for s in st) / updated
            if updated else 0.0,
            "streaming.mask_bits_final": int(masks[-1]) if masks else 0,
            "sinks.write_ms_p50": pct(write_ms, 50),
            "sinks.write_share": sum(write_ms) / batch_ms if batch_ms else 0.0,
            "sinks.bytes_per_row": counts["bytes_on_disk"] / rows if rows else 0.0}, \
        {"fresh_w1_batches": len(wb), "fresh_sink_writes": len(writes), "w2_state_reports": len(st)}


def registry_layers(res, jobs, missing):
    """Per registry query: median wall, jobs and driver gap (wall minus the
    union of its job spans); totals of GC, shuffle bytes and executor CPU."""
    L, per, alljobs = {}, {}, []
    for e in timed_calls(res):
        js = [j for j in jobs if j["t1"] >= 0 and j["tag"] == e["tag"]]
        alljobs += js
        covered = stats.union_length([(max(j["t0"], e["t0"]), min(j["t1"], e["t1"]))
                                      for j in js if j["t1"] > e["t0"]])
        per.setdefault(e["name"], []).append(
            ((e["t1"] - e["t0"]) / 1e6, len(js), (e["t1"] - e["t0"] - covered) / 1e3))
    for name in CONF["query_mix"]["queries"]:
        rows = per.get(name, [])
        short = name.split("_")[0]
        for k, key in enumerate(("s", "jobs", "driver_gap_ms")):
            L[f"registry.{short}.{key}"] = stats.median([r[k] for r in rows]) if rows else 0.0
            if not rows:
                missing[f"registry.{short}.{key}"] = "the query never ran"
    L["registry.gc_ms"] = sum(j["gc_ms"] for j in alljobs)
    L["registry.shuffle_bytes"] = sum(j["shuffle_write"] + j["shuffle_read"] for j in alljobs)
    L["registry.executor_cpu_ms"] = sum(j["cpu_ns"] for j in alljobs) / 1e6
    return L


def probe_layers(res):
    return {"sources.reader_ns_per_frame": res["reader_ns_per_frame"],
            "sources.intake_fps": res["intake_fps"],
            "codec.decode_ns_per_frame": res["decode_ns_per_frame"],
            "codec.dnswire_ns_per_msg": res["dnswire_ns_per_msg"],
            "codec.damaged_share": res["frames_without_rows"] / res["pool_frames"],
            "dns.rows_ns_per_frame": res["rows_ns_per_frame"],
            "dns.rows_per_frame": res["rows_per_frame"],
            "streaming.noop_fps": res["noop_fps"],
            "streaming.memsource_fps": res["memsource_fps"],
            "operators.groupingsets_rows_per_s": res["groupingsets_rows_per_s"],
            "operators.combine_ratio": res["groupingsets_out_rows"] / res["groupingsets_in_rows"]}


def batch_spans(prog, res, jobs, w0, w1):
    """Spans of each W1 micro-batch in the window: the batch (from
    progress), its durationMs phases laid end to end in execution order,
    the sink writes inside addBatch, and the jobs inside those."""
    spans = []
    qid = res["query_ids"][W1]
    for b in window_batches(prog[W1], w0, w1):
        bid = f"b{b['batch']}"
        spans.append({"id": bid, "parent": None, "name": "streaming.batch",
                      "t0": b["start"], "t1": b["end"]})
        t = b["start"]
        for ph in PHASES:
            d = b["d"].get(ph, 0) / 1e3
            spans.append({"id": f"{bid}.{ph}", "parent": bid, "name": f"streaming.{ph}",
                          "t0": t, "t1": t + d})
            t += d
        writes = [w for w in res["sink_writes"] if w["batch"] == b["batch"]]
        for k, w in enumerate(writes):
            spans.append({"id": f"{bid}.sink{k}", "parent": f"{bid}.addBatch",
                          "name": "sinks.write", "t0": w["t0"] / 1e6, "t1": w["t1"] / 1e6})
        for j in jobs:
            if j["t1"] >= 0 and j["query_id"] == qid and j["batch"] == str(b["batch"]):
                t0 = j["t0"] / 1e6
                par = next((f"{bid}.sink{k}" for k, w in enumerate(writes)
                            if w["t0"] / 1e6 <= t0 <= w["t1"] / 1e6), f"{bid}.addBatch")
                spans.append({"id": f"job{j['id']}", "parent": par, "name": "job",
                              "t0": t0, "t1": j["t1"] / 1e6})
    return spans


def query_spans(res, jobs):
    """One span per timed registry call, its jobs as children."""
    spans = []
    for e in timed_calls(res):
        qid = e["tag"]
        spans.append({"id": qid, "parent": None, "name": "registry.query",
                      "t0": e["t0"] / 1e6, "t1": e["t1"] / 1e6})
        spans += [{"id": f"job{j['id']}", "parent": qid, "name": "job",
                   "t0": j["t0"] / 1e6, "t1": j["t1"] / 1e6}
                  for j in jobs if j["t1"] >= 0 and j["tag"] == qid]
    return spans


def self_time_layers(spans):
    """Mean self time per batch of the batch, addBatch, sink and job
    layers, plus every layer's total self time for the printout."""
    st = stats.self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(st[s["id"]] * 1e3)
    nb = max(1, len(by.get("streaming.batch", [])))
    L = {f"trace.self_ms_per_batch.{n}": sum(by.get(n, [])) / nb
         for n in ("streaming.batch", "streaming.addBatch", "sinks.write", "job")}
    return L, {n: sum(v) for n, v in by.items()}


# ------------------------------------------------------------------ driver

OWN = {"ingest_agg": "agg", "ingest_fresh": "fresh", "query_mix": "query"}


def sent_fn(kind, rep):
    """Frames the generator had sent by time t, in source offsets."""
    if kind == "agg":
        t = np.array([x for x, _ in rep["log"]] or [rep["t0"]])
        n = np.array([x for _, x in rep["log"]] or [0]) + rep["warm_sent"]
        return lambda at: float(np.interp(at, t, n))
    return lambda at: rep["warm_sent"] + min(rep["sent"] - rep["warm_sent"],
                                             max(0.0, (at - rep["t0"]) * rep["rate"]))


def run_workload(ctx, workload, seed, seconds, trace):
    """Run the workload's phase (and, traced, every other phase and the
    probes) in one JVM; returns the raw reports and the JVM's records."""
    run, nproc, t = ctx["run"], ctx["nproc"], CONF["traced"]
    own = OWN[workload]
    order = [own] + ([k for k in ("agg", "fresh", "query") if k != own] + ["probes"]
                     if trace else [])
    secs = {k: seconds if k == own else t["other_phase_seconds"] for k in order}
    phases = []
    for k in order:
        if k in ("agg", "fresh"):
            phases.append(stream_plan(run, k, nproc))
            if k == "agg":  # a traced run's other phases only need a rough warm-up
                phases[-1]["warm_s"] = CONF["ingest_agg"]["warm_s"] if k == own \
                    else t["other_phase_warm_s"]
        elif k == "query":
            # a traced run of another workload times only the warm pass
            phases.append(query_plan(run, f"{run}/data", seconds if k == own else 0,
                                     CONF["query_mix"]["min_execs"] if k == own else 0))
        else:
            phases.append({"kind": "probes", "pool": f"{run}/pool-agg.bin",
                           "intake_sock": os.path.relpath(f"{run}/intake.sock"),
                           "noop_sock": os.path.relpath(f"{run}/noop.sock"), "readers": nproc,
                           "probe_seconds": t["probe_seconds"], "agg_frames": t["agg_frames"]})
    procs = []  # every child process, stopped on the way out
    raw = {"reps": {}, "w0": {}, "secs": secs, "order": order, "phases": phases}
    try:
        gens = {}
        if "agg" in order:
            gens["agg"] = Gen(run, "agg", seed, CONF["ingest_agg"]["pool_frames"],
                              f"{run}/pool-agg.bin" if trace else None)
            procs.append(gens["agg"])
        if "fresh" in order:
            c = CONF["ingest_fresh"]
            gens["fresh"] = Gen(run, "fresh", seed, c["warm_frames"] +
                                int(c["rate_fps"] * (c["settle_s"] + secs["fresh"] + c["tail_s"])))
            procs.append(gens["fresh"])
        jvm = Jvm(run, ctx["classes"], {"run_dir": run, "nproc": nproc, "phases": phases})
        procs.insert(0, jvm)
        if "query" in order:  # while the JVM starts
            import tables
            tables.make_tables(seed, f"{run}/data",
                               os.path.join(ctx["build_dir"], "fixed-tables"))
        for ph in phases:
            k = ph["kind"]
            if k in ("agg", "fresh"):
                fn = run_agg if k == "agg" else run_fresh
                raw["reps"][k], raw["w0"][k] = fn(ph, jvm, gens[k], secs[k])
            elif k == "query":
                assert jvm.event() == ["READY", "query"]
                jvm.send("GO")
                assert jvm.event(timeout=175) == ["WARM_DONE"]
                raw["w0"][k] = time.time()
                assert jvm.event(timeout=175) == ["DONE", "query"]
            else:
                for _ in range(2):
                    ev = jvm.event()
                    assert ev[0] == "FEED", ev
                    feed_s = t["intake_feed_s"] if ev[1] == "intake" else t["noop_feed_s"]
                    rep = gens["agg"].cmd(cmd="saturate", sock=ev[2], conns=nproc,
                                          seconds=feed_s)
                    jvm.send(f"SENT {rep['sent']}")
                assert jvm.event() == ["DONE", "probes"]
        assert jvm.event(timeout=60) == ["EXIT"]
        if trace:
            raw["gen_drain"] = gens["agg"].cmd(cmd="drain", seconds=t["gen_drain_s"])
        raw["finish"] = {k: g.cmd(cmd="exit")["finish_ok"] for k, g in gens.items()}
        raw["pools"] = {k: g.pool() for k, g in gens.items()}
        raw["jvm"] = json.load(open(f"{run}/jvm.json"))
    finally:
        for p in procs:
            p.stop()
    return raw


def evaluate(raw, cache_dir):
    """End-to-end metrics and checks of every phase that ran."""
    res = raw["jvm"]["phases"]
    out = {}
    for k, ph in zip(raw["order"], raw["phases"]):
        if k == "agg":
            m, counts, prog, fails, att, failed = agg_result(res[k], raw["reps"][k],
                                                             raw["w0"][k], raw["secs"][k])
        elif k == "fresh":
            m, counts, prog, fails, att, failed = fresh_result(res[k], raw["reps"][k], ph,
                                                               raw["w0"][k], raw["secs"][k])
        elif k == "query":
            m, counts, fails, att, failed = query_result(res[k], ph, cache_dir)
            prog = None
        else:
            continue
        if k in raw["finish"] and not raw["finish"][k]:
            fails.append("the generator did not get FINISH on every connection")
        out[k] = {"metrics": m, "counts": counts, "prog": prog, "fails": fails,
                  "attempted": att, "failed": failed}
    return out


def layer_windows(raw):
    """Per ingest phase, the batches its layer metrics are taken over: the
    timed window of the named workload's own phase; for the short phases a
    traced run adds, every batch from the end of warm-up to the drain."""
    own = raw["order"][0]
    return {k: (raw["w0"][k], raw["w0"][k] + raw["secs"][k] if k == own else float("inf"))
            for k in ("agg", "fresh")}


def layers(raw, ev):
    """Every per-layer metric of a traced run; `missing` names each metric
    that had nothing to measure (reported as 0) and why."""
    jr = raw["jvm"]
    res, jobs = jr["phases"], jr["jobs"]
    own = raw["order"][0]
    primary = own if own in ("agg", "fresh") else "agg"
    win = layer_windows(raw)
    missing = {}
    L = stream_layers(ev[primary]["prog"], res[primary], jobs, *win[primary],
                      sent_at=sent_fn(primary, raw["reps"][primary]), missing=missing)
    fl, counts = fresh_layers(ev["fresh"]["prog"], res["fresh"], jobs, ev["fresh"]["counts"],
                              *win["fresh"], missing=missing)
    L.update(fl)
    counts[f"{primary}_w1_batches"] = L["streaming.batches"]
    # the ingest_agg rate the generator's headroom is judged against
    counts["agg_fps"], _ = stats.steady_fps([(b["start"], b["end"], b["rows"])
                                             for b in ev["agg"]["prog"][W1]], *win["agg"])
    L.update(registry_layers(res["query"], jobs, missing))
    L.update(probe_layers(res["probes"]))
    late = raw["reps"]["fresh"]["late"]
    L["gen.late_ms_p99"] = pct([x for _, x in late], 99)
    if not late:
        missing["gen.late_ms_p99"] = "the scheduled feed sent nothing"
    L["gen.cpu_s"] = raw["reps"][primary]["cpu_s"]
    L["gen.max_fps"] = raw["gen_drain"]["max_fps"]
    spans = batch_spans(ev[primary]["prog"], res[primary], jobs, *win[primary])
    st, _ = self_time_layers(spans)
    L.update(st)
    if not L["streaming.batches"]:
        missing.update({k: "no W1 batch span" for k in st})
    L["jvm.peak_rss_mb"] = jr["vm_hwm_kb"] / 1024.0
    spans += query_spans(res["query"], jobs)
    spans += [{"id": f"probe{k}", "parent": None, "name": p["name"], "t0": p["t0"] / 1e6,
               "t1": p["t1"] / 1e6} for k, p in enumerate(res["probes"]["spans"])]
    return L, spans, missing, counts


def prepare_oracles(build_dir, classes):
    """Once per build: the oracle answers over the fixed tables, which take
    DuckDB about a minute, so that no run pays for them."""
    queries = CONF["query_mix"]["queries"]
    stamp = os.path.join(build_dir, "oracle-cache.stamp")
    key = open(os.path.join(build_dir, "classes.stamp")).read() + json.dumps(queries)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    import tables
    sql_path = os.path.join(build_dir, "oracle_sql.json")
    cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
    subprocess.run(["java"] + ADD_OPENS + ["-cp", cp, "perfbench.Harness", "--oracle-sql",
                                           sql_path] + queries, check=True)
    secs = tables.warm_oracle_cache(os.path.join(build_dir, "fixed-tables"),
                                    json.load(open(sql_path)), os.path.join(build_dir, "oracle-cache"))
    log(f"oracle cache of the fixed tables built in {secs:.1f} s")
    with open(stamp, "w") as f:
        f.write(key)


def history_path(build_dir, workload):
    return os.path.join(build_dir, f"history-{workload}.jsonl")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(os.getcwd(), build_dir, os.path.join(build_dir, "compile.log"))
    prepare_oracles(build_dir, classes)
    t_launch = time.time()
    env = {"nproc": len(os.sched_getaffinity(0)), "load1m_start": load1m()}
    steal0 = cpu_ticks()
    run = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    ctx = {"run": run, "nproc": env["nproc"], "classes": classes, "build_dir": build_dir}
    try:
        raw = run_workload(ctx, a.workload, a.seed, a.seconds, a.trace)
        ev = evaluate(raw, os.path.join(build_dir, "oracle-cache"))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    own = OWN[a.workload]
    steal1 = cpu_ticks()
    env.update(load1m_end=load1m(), jdk=raw["jvm"]["java_version"],
               spark=raw["jvm"]["spark_version"],
               cpu_steal_share=round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4))
    m = dict(ev[own]["metrics"])
    m["setup_s"] = raw["w0"][own] - t_launch
    log(json.dumps({"env": env, "workload": a.workload, "seed": a.seed, "trace": a.trace,
                    "pools": {k: {x: p[x] for x in ("pool_sha256", "frames", "damaged")}
                              for k, p in raw["pools"].items()},
                    "counts": {k: e["counts"] for k, e in ev.items()}}))
    fails = [f"[{k}] {f}" for k, e in ev.items() for f in e["fails"]]
    for f in fails:
        log(f"FAIL {f}")
    att, failed = ev[own]["attempted"], ev[own]["failed"]
    log(f"correct={not fails} attempted={att} failed={failed} error_rate={failed / att:.6g}")
    jr = raw["jvm"]
    log(f"setup: launch to JVM start {jr['t_jvm_start_us'] / 1e6 - t_launch:.2f} s, to Spark "
        f"ready {jr['t_spark_ready_us'] / 1e6 - t_launch:.2f} s, to first timed work "
        f"{m['setup_s']:.2f} s")
    units = {x["name"]: x["unit"] for x in BENCH["end_to_end"] + BENCH["per_layer"]}
    for k in sorted(m):
        log(f"{a.workload} {k} = {m[k]:.6g} {units[k]}")
    hist = history_path(build_dir, a.workload)
    if a.trace:
        L, spans, missing, counts = layers(raw, ev)
        log(f"layer sample counts: {json.dumps(counts)}")
        for name, why in sorted(missing.items()):
            log(f"missing {name}: {why} (reported as 0)")
        _, totals = self_time_layers(spans)
        for name, ms in sorted(totals.items()):
            log(f"self time {name}: {ms:.1f} ms")
        trace_file = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump(spans, f)
        log(f"{len(spans)} spans written to {trace_file}")
        if os.path.exists(hist):
            past = [json.loads(x) for x in open(hist)][-10:]
            for k in sorted(m):
                base = stats.median([p[k] for p in past])
                log(f"tracing overhead {k}: {m[k] - base:+.6g} {units[k]} "
                    f"(traced {m[k]:.6g} vs untraced median {base:.6g} of {len(past)})")
        else:
            log("tracing overhead: no untraced run of this workload in this checkout yet")
        if counts["agg_fps"]:
            ratio = L["gen.max_fps"] / counts["agg_fps"]
            log(f"generator headroom: gen.max_fps is {ratio:.1f}x ingest_fps on ingest_agg "
                f"({'valid' if ratio >= 2 else 'INVALID: below 2x'})")
        else:
            log("generator headroom: unknown, no whole ingest_agg batch to compare with")
        metrics = {x["name"]: {"value": L[x["name"]], "unit": x["unit"]} for x in BENCH["per_layer"]}
    else:
        with open(hist, "a") as f:
            f.write(json.dumps(m) + "\n")
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                   for x in BENCH["end_to_end"]}
    print(json.dumps({"correct": not fails, "attempted": int(att), "failed": int(failed),
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
