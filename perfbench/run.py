#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload ingest_derby --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the launch line under
perfbench/.build/; every run works in its own directory under
perfbench/.work/ and deletes it at the end. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
carries the run's context (nproc, load average, seed, source revision).
See perfbench/README.md for the workloads, metrics and trace format.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_derby", "query_sweep")

# ingest: open-loop rate; a warm-in before the timed steady phase and a
# cool-down after it (still paced, so no steady line shares a burst's
# first micro-batch); then the bursts
RATE = 5000
WARM_S = 8
COOL_S = 1
BURST = 100_000
BURSTS = 2
# commit_p99_ms is taken per window of this many steady seconds (about five
# micro-batches at the 1 s trigger) and the median over the windows is
# reported: a line's latency is set by its batch, so a p99 over the whole
# phase is the one slowest batch, and one batch slowed by another process
# on the host would move it by that batch's delay
P99_WINDOW_S = 5

# query sweep: the fixed key list and the SBS-1 corpus size
KEYS = [
    "q_agg_hash", "q_join_salted", "q_win_frame", "q_session_stats",
    "q_sbs1_flights", "q_sbs1_grid", "q_dedup_minhash", "q_sim_ann",
    "q_text_bm25", "q_stats_ks", "q_pipeline_corpus",
]
CORPUS_LINES = 250_000
# the *Queries modules the keys above come from
MODULES = ["Relational", "Window", "EventTime", "Text", "Similarity", "Dedup",
           "Sbs1", "Stats", "Pipeline"]
HEAP = "-Xmx3g"
JVM_TIMEOUT_S = 160


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, _, fs in os.walk(p):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """sbt-compile the engine and harness once per source digest; returns
    the java argument list (engine JVM flags + classpath)."""
    out = os.path.join(HERE, ".build")
    launch, stamp = os.path.join(out, "launch.txt"), os.path.join(out, "digest")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not (os.path.exists(stamp) and open(stamp).read() == digest):
            env = dict(os.environ, COURSIER_MODE="offline")
            repos = os.path.expanduser("~/.sbt/repositories")
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            log("building engine + harness with sbt")
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLaunch"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=800)
            if r.returncode != 0 or not os.path.exists(launch):
                sys.stderr.write(r.stdout[-4000:])
                raise SystemExit("perfbench: build failed")
            with open(stamp, "w") as f:
                f.write(digest)
        with open(launch) as f:
            return f.read().split("\n")[:-1]


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def hd_quantile(xs, q):
    """The Harrell-Davis estimate of quantile `q` (0 < q < 1, with
    (n + 1) q and (n + 1)(1 - q) at least 1): a Beta-weighted mean of all
    order statistics, so a sample crossing its neighbour in the order moves
    it smoothly, where a plain percentile of a few gapped values jumps."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 20001)
    pdf = t ** (a - 1) * (1 - t) ** (b - 1)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(w @ x)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


# --- ingest ----------------------------------------------------------------

class Feed:
    """One generator thread on one TCP connection: the warm-in and steady
    lines open-loop at RATE lines/s (each line due at t0 + i / RATE, t0 =
    when the connection is accepted), then each burst as fast as the socket
    takes it, a burst once the previous one is committed (the harness
    writes the committed offset to `committed`). The connection then stays
    open until `close`."""

    def __init__(self, data, offsets, n_paced, bursts, committed):
        self.data, self.offsets, self.n_paced = data, offsets, n_paced
        self.bursts, self.committed = bursts, committed
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.t0 = None
        self.sent = []  # when each burst's first byte went out
        self.lag_ms = 0.0
        self.done = threading.Event()
        self.error = None
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.thread.start()

    def _committed(self):
        try:
            with open(self.committed) as f:
                return int(f.read() or 0)
        except (OSError, ValueError):
            return 0

    def _serve(self):
        try:
            self.srv.settimeout(120)
            conn, _ = self.srv.accept()
            with conn:
                self.t0 = time.time()
                i, off = 0, self.offsets
                while i < self.n_paced:
                    now = time.time()
                    due = min(self.n_paced, int((now - self.t0) * RATE) + 1)
                    if due > i:
                        self.lag_ms = max(self.lag_ms, (now - self.t0 - i / RATE) * 1000)
                        conn.sendall(self.data[off[i]:off[due]])
                        i = due
                    time.sleep(max(0.0005, self.t0 + i / RATE - time.time()))
                for lo, hi in self.bursts:
                    deadline = time.time() + 60
                    while self._committed() < lo and time.time() < deadline:
                        if self.done.wait(0.02):
                            return
                    # the 1 s trigger fires on whole wall-clock seconds;
                    # starting a burst just after one lets it be framed
                    # before the next, so it is not split at a random point
                    # between two batches
                    time.sleep(1.02 - time.time() % 1.0)
                    self.sent.append(time.time())
                    conn.sendall(self.data[off[lo]:off[hi]])
                self.done.wait()
        except Exception as e:  # surfaced by the caller
            self.error = e

    def close(self):
        self.done.set()
        self.srv.close()
        self.thread.join(10)


def ingest(args, launch, work, trace):
    n_steady = RATE * (WARM_S + args.seconds)
    n_paced = n_steady + RATE * COOL_S
    bursts = [(n_paced + k * BURST, n_paced + (k + 1) * BURST) for k in range(BURSTS)]
    total = bursts[-1][1]
    lines, bad = gen.sbs1_lines(args.seed, total, malformed=True)
    data = gen.feed_bytes(lines)
    with open(os.path.join(work, "feed.txt"), "wb") as f:
        f.write(data)
    offsets = np.concatenate([[0], np.cumsum([len(x) + 1 for x in lines])])
    feed = Feed(data, offsets, n_paced, bursts, os.path.join(work, "committed"))
    try:
        rec = harness(launch, work, args, trace, {
            "port": feed.port, "lines": total, "settle-at": n_steady,
            "burst-lines": BURST})
    finally:
        feed.close()
    if feed.error:
        raise feed.error

    bad = np.asarray(bad, dtype=np.int64)
    valid = np.setdiff1d(np.arange(total), bad)
    batches = sorted(rec["batches"], key=lambda b: b["batch"])
    ends = np.array([b["end_offset"] for b in batches])
    b_end = np.array([b["start_ms"] + b["trigger_ms"] for b in batches])
    b_start = np.array([b["start_ms"] for b in batches])

    # correctness of what landed
    got = rec["landed"]
    want = {"rows": len(valid), "distinct": len(valid), "min": int(valid.min()),
            "max": int(valid.max()), "sum": int(valid.sum())}
    failed = abs(got["rows"] - want["rows"]) + (got["rows"] - got["distinct"])
    if failed == 0 and got != want:
        failed = 1
    rejected = sum(b["input_rows"] for b in batches) - got["rows"]

    # arrival -> commit, steady-phase valid lines, from each line's due time
    t0_ms = feed.t0 * 1000
    steady = valid[(valid >= RATE * WARM_S) & (valid < n_steady)]
    due = t0_ms + steady * 1000.0 / RATE
    idx = np.searchsorted(ends, steady, side="right")
    lat = b_end[idx] - due
    n_win = max(1, args.seconds // P99_WINDOW_S)
    win = np.minimum((steady - RATE * WARM_S) // (RATE * P99_WINDOW_S), n_win - 1)
    wait = b_start[idx] - due
    first = next(b for b in batches if b["end_offset"] > 0)
    # each burst: from its first byte going out to the end of the
    # micro-batch that commits its last line, so framing and the spill log
    # count whenever the batches wait for them
    drain_s = sum(b_end[np.searchsorted(ends, hi - 1, side="right")] - sent * 1000
                  for (_, hi), sent in zip(bursts, feed.sent)) / 1000
    e2e = {
        # JVM start to the feed's connection, plus the first data
        # micro-batch (session, query start, first-batch codegen); the wait
        # for that batch's trigger slot on the 1 s grid is idle, not set-up
        "setup_s": (t0_ms - rec["jvm_start_ms"] + first["trigger_ms"]) / 1000,
        "commit_p50_ms": pct(lat, 50),
        "commit_p99_ms": median([pct(lat[win == w], 99) for w in range(n_win)]),
        "drain_lps": BURST * len(bursts) / drain_s,
        "sweep_s": drain_s / len(bursts),
        "heap_peak_mb": rec["heap_peak_mb"],
    }
    layer = {}
    if trace:
        steady_b = [b for b in batches if RATE * WARM_S <= b["end_offset"] <= n_steady]
        spans = rec["spans"]

        def span_ms(name):
            return [s["end"] - s["start"] for s in spans if s["name"] == name]

        # lines due but not yet offset-visible when a steady batch polled
        polled = {s["group"]: s["start"] for s in spans if s["name"] == "sources.latest_offset"}
        backlog = [(polled[str(b["batch"])] - t0_ms) * RATE / 1000 - b["end_offset"]
                   for b in steady_b if str(b["batch"]) in polled]
        trig = [b["trigger_ms"] for b in batches]
        sp = rec["spark"]
        src_ms = sum(span_ms("sources.plan") + span_ms("sources.commit")
                     + span_ms("sources.latest_offset"))
        sink_ms = sum(span_ms("streaming.write_batch") + span_ms("streaming.prune"))
        layer = {
            "sources.frame_lps": rec["frame_lps"],
            "sources.parse_rps": rec["parse_rps"],
            "sources.plan_ms_p50": median(span_ms("sources.plan")),
            "sources.plan_ms_sum": sum(span_ms("sources.plan")),
            "sources.commit_ms_p50": median(span_ms("sources.commit")),
            "sources.commit_ms_sum": sum(span_ms("sources.commit")),
            "sources.latest_offset_ms_p50": median(span_ms("sources.latest_offset")),
            "sources.backlog_lines_max": max(backlog) if backlog else 0.0,
            "sources.rejected_lines": rejected,
            "streaming.add_batch_ms_p50": median([b["add_batch_ms"] for b in steady_b]),
            "streaming.write_batch_ms_p50": median(span_ms("streaming.write_batch")),
            "streaming.write_batch_ms_sum": sum(span_ms("streaming.write_batch")),
            "streaming.prune_ms_p50": median(span_ms("streaming.prune")),
            "streaming.sink_rps": rec["sink_rps"],
            "streaming.rows_committed": got["rows"],
            "streaming.claims_skipped": max(0, (sum(b["input_rows"] for b in batches) - len(bad)) - got["rows"]),
            "spark.trigger_ms_p50": median([b["trigger_ms"] for b in steady_b]),
            "spark.trigger_ms_p99": pct(trig, 99),
            "spark.planning_ms_p50": median([b["planning_ms"] for b in steady_b]),
            "spark.wal_ms_p50": median([b["wal_ms"] for b in steady_b]),
            "spark.batches": len(batches),
            "spark.tasks": sp["tasks"],
            "spark.task_deserialize_ms": sp["deserialize_ms"],
            "spark.shuffle_write_mb": sp["shuffle_write_b"] / 2**20,
            "spark.drain_lps_1core": rec["drain_lps_1core"],
            "self.sources_ms": src_ms,
            "self.streaming_ms": sink_ms,
            "self.spark_ms": sum(trig) - src_ms - sink_ms,
            "wait.trigger_ms_p50": pct(wait, 50),
            "gen.lag_ms_max": feed.lag_ms,
        }
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
    ok = failed == 0 and rejected == len(bad)
    return ok, total, failed, e2e, layer


# --- query sweep -----------------------------------------------------------

def norm_cell(v):
    """Cell rendering of tools/check_oracle.py (ten significant digits)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.10g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def bag(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rel.fetchall())


def oracle_failures(rec, data, work):
    """Keys whose warm-pass result differs, as a multiset of rows, from
    DuckDB running the key's oracle SQL over the same inputs."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for key, sql in sorted(rec["oracle"].items()):
        try:
            if bag(con.sql(sql)) != bag(con.sql(
                    f"SELECT * FROM read_parquet('{work}/out/{key}/*.parquet')")):
                bad.append(key)
        except Exception as e:  # an oracle or dump that cannot be read fails the key
            log(f"oracle {key}: {e}")
            bad.append(key)
    return bad


def dir_mb(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def sweep(args, launch, work, trace):
    data = os.path.join(work, "data")
    os.makedirs(data)
    gen.tables(args.seed, data)
    corpus = os.path.join(data, "sbs1.txt")
    with open(corpus, "wb") as f:
        f.write(gen.feed_bytes(gen.sbs1_lines(args.seed, CORPUS_LINES)[0]))
    rec = harness(launch, work, args, trace,
                  {"data": data, "keys": ",".join(KEYS), "seconds": args.seconds},
                  {"SPARK_GRAFT_SBS1_FIXTURE": corpus})
    wrong = oracle_failures(rec, data, work)
    for k in wrong:
        log(f"oracle mismatch: {k}")
    for f in rec["failures"]:
        log(f"key run failed: {f}")
    attempted = len(KEYS) * (1 + len(rec["passes"]))
    failed = len(rec["failures"]) + len(wrong)
    sbs1 = [k for k in KEYS if rec["module"][k] == "Sbs1"]
    setup_s = (rec["warm_end_ms"] - rec["jvm_start_ms"]) / 1000

    def figures(traced):
        """End-to-end figures of the untraced or the traced passes. A key
        run's latency is its call, planning and collect. A key's latency is
        its fastest run over the passes: the first pass after the warm pass
        is still JIT-warming, and contention from other processes only ever
        slows a run. The percentiles are over the keys (the median by
        Harrell-Davis, as the keys' latencies have gaps between them) and a
        pass is the sum over the keys."""
        runs = [r for r in rec["runs"] if r["traced"] == traced]
        per_key = {k: min((r["s"] for r in runs if r["key"] == k), default=0.0)
                   for k in KEYS}
        lat = [v * 1000 for v in per_key.values()]
        return per_key, {
            "setup_s": setup_s,
            "commit_p50_ms": hd_quantile(lat, 0.5),
            "commit_p99_ms": pct(lat, 99),
            "drain_lps": CORPUS_LINES * len(sbs1) / sum(per_key[k] for k in sbs1),
            "sweep_s": sum(per_key.values()),
            "heap_peak_mb": rec["heap_peak_mb"],
        }

    per_key, e2e = figures(False)
    layer = {}
    if trace:
        spans = rec["spans"]
        passes = [p for p in rec["passes"] if p["traced"]]

        def key_span(name, k):
            return median([s["end"] - s["start"] for s in spans
                           if s["name"] == name and s["parent"] == f"q.{k}"]) / 1000

        layer = {f"operators.{m}_s": sum(v for k, v in per_key.items()
                                         if rec["module"][k] == m) for m in MODULES}
        for part in ("build", "plan", "exec"):
            layer[f"operators.{part}_s"] = sum(key_span(f"operators.{part}", k) for k in KEYS)
        layer.update({f"q.{k}_s": v for k, v in per_key.items()})

        def per_pass(f):
            return median([f(p["spark"]) for p in passes])

        warm = sum(r["warm_s"] for r in rec["reference"].values())
        layer.update({
            "api.catalog_s": rec["catalog_s"],
            "api.artifact_build_s": warm - sum(per_key.values()),
            "api.warehouse_mb": dir_mb(os.path.join(work, "warehouse")),
            "api.cached_mb": rec["cached_mb"],
            "spark.jobs": per_pass(lambda s: s["jobs"]),
            "spark.stages": per_pass(lambda s: s["stages"]),
            "spark.tasks": per_pass(lambda s: s["tasks"]),
            "spark.shuffle_read_mb": per_pass(lambda s: s["shuffle_read_b"]) / 2**20,
            "spark.shuffle_write_mb": per_pass(lambda s: s["shuffle_write_b"]) / 2**20,
            "spark.spill_mb": per_pass(lambda s: s["spill_b"]) / 2**20,
            "spark.gc_s": per_pass(lambda s: s["gc_ms"]) / 1000,
        })
        traced = figures(True)[1]
        layer.update({f"traced.{k}": v for k, v in traced.items()})
        layer.update({f"overhead.{k}": traced[k] - v for k, v in e2e.items()})
    return failed == 0, attempted, failed, e2e, layer


# --- entry point -----------------------------------------------------------

def harness(launch, work, args, trace, extra, env=None):
    java_opts = [a for a in launch if not a.startswith("-Xmx")]
    # -XX:-UsePerfData: no hsperfdata file outside the work directory
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}"]
           + java_opts + ["perfbench.Harness", "--workload", args.workload, "--work", work,
                          "--trace", "1" if trace else "0", "--cores", str(nproc())])
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, **(env or {})))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_once(args, launch, trace):
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        fn = sweep if args.workload == "query_sweep" else ingest
        return fn(args, launch, work, trace)
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from a checkout of the engine (build.sbt, src/main)")
    digest = source_digest()
    launch = build(digest)
    ticks0 = cpu_ticks()
    if args.workload == "query_sweep":
        # one JVM; a traced run alternates untraced and traced passes
        ok, attempted, failed, e2e, layer = run_once(args, launch, trace=bool(args.trace))
    else:
        ok, attempted, failed, e2e, _ = run_once(args, launch, trace=False)
        if args.trace:
            # the same workload again with the traced pipeline and the probes;
            # traced.* minus the untraced figures is the tracing overhead
            ok2, att2, failed2, _, layer = run_once(args, launch, trace=True)
            ok, attempted, failed = ok and ok2, attempted + att2, failed + failed2
            layer.update({f"overhead.{k}": layer[f"traced.{k}"] - v for k, v in e2e.items()})
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = layer if args.trace else e2e
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a per-layer metric of a layer this workload does not run reads 0
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    ticks1 = cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests during the
    # run: high values explain slow runs on a shared host
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    print(json.dumps({"context": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "load_avg": os.getloadavg()[0],
        "steal_frac": steal, "git_commit": commit, "source_digest": digest}}))
    print(json.dumps({"correct": bool(ok), "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
