#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload {ingest,batch} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds the program from source (cached in
`.bench_build/`), generates the workload's inputs from the seed, runs it
in one JVM, checks every output, and prints one JSON line as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
`BENCHMARK.json`, with `--trace 1` its per-layer metrics. A readable
summary, under the metric names of the workload document (README.md),
goes to standard error. Exits 1 when an output is wrong, 2 when the run
could not be made.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import build, checks, gen, host, latency, stats  # noqa: E402

SETUP_REPS = {"ingest": 3, "batch": 7}  # set-ups per run; setup_s is their median
WARMUP_S = 3.0          # live ingest: lets trigger sizes settle before the window
BACKLOG_REPLIES = 20    # catch-up: outage replies pre-staged for every source
ANALYTICS_SCALE = 0.15  # analytics tables (traced runs), as a share of the suite's sf0.01 sizes
DEADLINE_S = 170.0      # the whole run, build excluded

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# The workload document's metric names, as (workload, end-to-end key).
NAMED = {
    "ingest": [("ingest_latency_p50_ms", "latency_p50_ms", "ms"),
               ("ingest_latency_p90_ms", "latency_p90_ms", "ms"),
               ("ingest_cpu_s_per_kpoint", "cpu_s_per_kop", "s"),
               ("catchup_points_per_s", "throughput_per_s", "1/s")],
    "batch": [("backfill_points_per_s", "throughput_per_s", "1/s"),
              ("query_p50_ms", "latency_p50_ms", "ms"),
              ("query_p90_ms", "latency_p90_ms", "ms"),
              ("batch_cpu_s_per_kquery", "cpu_s_per_kop", "s"),
              ("store_bytes_per_point", "store_bytes_per_point", "B"),
              ("analytics_total_s", "analytics_total_s", "s")],
}
COMMON = [("setup_s", "setup_s", "s"), ("live_heap_mb", "live_heap_mb", "MB")]


class RunError(Exception):
    pass


class Run:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".bench_build", f"run-{args.workload}-{os.getpid()}")
        self.deadline = time.monotonic() + DEADLINE_S
        self.e2e, self.layers = {}, {}
        self.jvm, self.jvm_log = None, None
        self.attempted, self.failed, self.failures = 0, 0, []

    def left(self):
        return max(1.0, self.deadline - time.monotonic())

    def outcome(self, n, bad, what):
        self.attempted += n
        self.failed += bad
        if bad:
            self.failures.append(f"{what}: {bad} of {n} failed")

    def start_jvm(self, classes):
        jars = os.path.join(build.spark_jars(ROOT), "*")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-XX:-UsePerfData"]
        for p in JVM_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        heap = host.heap_mb()
        cmd += [f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
                "-XX:SoftRefLRUPolicyMSPerMB=50000", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-cp", f"{classes}:{jars}", "perfbench.Main",
                "--workload", self.args.workload, "--seed", str(self.args.seed),
                "--seconds", str(self.args.seconds), "--trace", str(self.args.trace),
                "--work", self.work, "--cpus", str(host.cpus()),
                "--setup-reps", str(SETUP_REPS[self.args.workload])]
        self.jvm_log = open(os.path.join(self.work, "jvm.log"), "w")
        # Few malloc arenas keep the JVM's native resident size from varying
        # with which threads happened to allocate first.
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        self.jvm = subprocess.Popen(cmd, stdout=self.jvm_log, stderr=subprocess.STDOUT, env=env)
        return self.jvm

    def finish_jvm(self, proc):
        try:
            code = proc.wait(timeout=self.left())
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RunError("the JVM did not finish in time")
        if code != 0:
            raise RunError(f"the JVM exited with {code}; log tail:\n{self.log_tail()}")
        self.jvm_log.flush()
        with open(os.path.join(self.work, "jvm.log")) as f:
            sys.stderr.write("".join(x for x in f if x.startswith("[perfbench")))
        with open(os.path.join(self.work, "result.json")) as f:
            r = json.load(f)
        self.e2e.update(r["e2e"])
        self.layers.update(r["layers"])
        for medians, into in ((r["e2e_medians"], self.e2e), (r["layer_medians"], self.layers)):
            into.update({k: stats.median(xs) for k, xs in medians.items() if xs})
        self.attempted += r["attempted"]
        self.failed += r["failed"]
        self.failures += r["failures"]
        return r["samples"]

    def log_tail(self, n=30):
        self.jvm_log.flush()
        with open(os.path.join(self.work, "jvm.log")) as f:
            lines = [x for x in f.read().splitlines() if " INFO " not in x and " WARN " not in x]
        return "\n".join(lines[-n:])

    # ---------------------------------------------------------------- ingest

    def ingest(self, classes):
        root = os.path.join(self.work, "ingest")
        os.makedirs(root)
        with open(os.path.join(root, "sources.tsv"), "w") as f:
            f.write("".join(f"{s}\t{p}\n" for s, p in gen.SOURCES))
        seed = self.args.seed
        past = int(time.time() * 1000) - 3 * 3600 * 1000
        for r in range(1, SETUP_REPS["ingest"]):
            gen.stage(os.path.join(root, f"rep{r}", "spool"), seed, f"hello{r}", [past + r * 1000])
        hello = gen.stage(os.path.join(root, "live", "spool"), seed, "hello", [past])
        cycle_ms = int(1000 / gen.RATE_HZ)
        backlog = gen.stage(os.path.join(root, "backlog", "spool"), seed, "backlog",
                            [past + 3600 * 1000 + k * cycle_ms for k in range(BACKLOG_REPLIES)])

        proc = self.start_jvm(classes)
        ready = os.path.join(root, "ready")
        while not os.path.exists(ready):
            if proc.poll() is not None:
                raise RunError(f"the JVM exited before the live phase:\n{self.log_tail()}")
            if time.monotonic() > self.deadline:
                proc.kill()
                proc.wait()
                raise RunError("the engine never became ready")
            time.sleep(0.05)
        manifest_path = os.path.join(root, "gen.json")
        try:
            subprocess.run([sys.executable, os.path.join(HERE, "harness", "gen.py"), "publish",
                            "--spool", os.path.join(root, "live", "spool"), "--seed", str(seed),
                            "--warmup", str(WARMUP_S), "--window", str(self.args.seconds),
                            "--out", manifest_path],
                           check=True, timeout=self.left())
        finally:
            open(os.path.join(root, "gen_done"), "w").close()
        samples = self.finish_jvm(proc)
        with open(manifest_path) as f:
            m = json.load(f)
        ws, we = m["window_start_ms"], m["window_end_ms"]

        ckpt = os.path.join(root, "live", "checkpoints", "store")
        batch_of, commits = latency.file_batches(ckpt), latency.commit_times_ms(ckpt)
        lat = latency.join(m["files"], batch_of, commits, ws, we)
        self.e2e["latency_p50_ms"] = stats.percentile(lat, 50)
        self.e2e["latency_p90_ms"] = stats.percentile(lat, 90)
        cpu = samples["cpu"]
        cpu_s = stats.interpolate(cpu, we) - stats.interpolate(cpu, ws)
        self.e2e["cpu_s_per_kop"] = cpu_s / (len(lat) / 1000.0)
        self.e2e["throughput_per_s"] = sum(f[3] for f in backlog) / (samples["catchup_ms"] / 1000.0)

        sent = hello + m["files"] + backlog
        self.outcome(*checks.ingest_store(os.path.join(root, "live", "store"), sent),
                     "points lost or duplicated")

        if self.args.trace:
            live = [t for t in samples["live_triggers"] if t["rows"] > 0 and ws <= t["start_ms"] < we]
            phase = {"sources.latest_offset_ms": "latestOffset",
                     "streaming.planning_ms": "queryPlanning",
                     "streaming.wal_commit_ms": "walCommit",
                     "streaming.commit_offsets_ms": "commitOffsets",
                     "streaming.trigger_ms": "triggerExecution",
                     "sinks.add_batch_ms": "addBatch"}
            for name, key in phase.items():
                self.layers[name] = stats.median([t["phases"].get(key, 0) for t in live])
            self.layers["streaming.rows_per_trigger"] = stats.median([t["rows"] for t in live])
            caught = [t for t in samples["catchup_triggers"] if t["rows"] > 0]
            self.layers["sources.get_batch_ms"] = stats.median(
                [t["phases"].get("getBatch", 0) for t in caught])
            self.layers["generator.late_ms_max"] = m["late_ms_max"]
            self.store_layers(os.path.join(root, "live", "store"), sum(r[3] for r in sent))
            # A layer's cost is the difference of the medians of two prefixes.
            p = {k: stats.median(v) if isinstance(v, list) else v
                 for k, v in samples["prefix"].items()}
            self.layers["sources.parse_ms_per_kline"] = (p["parse_ms"] - p["read_ms"]) / (p["lines"] / 1000)
            self.layers["transforms.normalize_ms_per_kpoint"] = \
                (p["normalize_ms"] - p["parse_ms"]) / (p["points"] / 1000)
            self.layers["sinks.write_ms_per_kpoint"] = (p["write_ms"] - p["normalize_ms"]) / (p["points"] / 1000)

    def store_layers(self, store, points):
        """Bytes and data files of a store (names starting with `.` or `_`
        are metadata); returns bytes per point."""
        size, files = 0, 0
        for base, _sub, names in os.walk(store):
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(base, n))
                    files += 1
        self.layers["sinks.files_written"] = files
        self.layers["sinks.bytes_written"] = size
        self.layers["sinks.bytes_per_point"] = size / points
        return size / points

    # ----------------------------------------------------------------- batch

    def batch(self, classes):
        tables = os.path.join(self.work, "tables")
        if self.args.trace:
            gen.tables(tables, self.args.seed, ANALYTICS_SCALE)
        samples = self.finish_jvm(self.start_jvm(classes))
        self.e2e["latency_p50_ms"] = stats.percentile(samples["store_ms"], 50)
        self.e2e["latency_p90_ms"] = stats.percentile(samples["store_ms"], 90)
        root = os.path.join(self.work, "store")
        self.e2e["store_bytes_per_point"] = self.store_layers(os.path.join(root, "store"),
                                                              samples["store_points"])
        self.outcome(*checks.backfilled_store(os.path.join(root, "store"),
                                              os.path.join(root, "archive")),
                     "backfilled points lost or duplicated")
        if self.args.trace:
            self.check_slice(tables)

    def check_slice(self, tables):
        """The analytics slice's dumped results against their DuckDB oracles."""
        out = os.path.join(self.work, "oracle_out")
        proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                               tables, out], capture_output=True, text=True, timeout=self.left())
        verdict = {}
        for line in proc.stdout.splitlines():
            word, _, rest = line.partition(" ")
            if word in ("ok", "FAIL"):
                verdict[rest.split()[0].rstrip(":")] = word == "ok"
        with open(os.path.join(out, "oracle_sql.json")) as f:
            names = sorted(json.load(f))
        bad = [n for n in names if not verdict.get(n, False)]
        for n in bad:
            sys.stderr.write(f"[analytics] {n} fails its oracle\n")
        self.outcome(len(names), len(bad), "slice queries failing their oracle")

    # ------------------------------------------------------------------ main

    def execute(self):
        os.makedirs(self.work)
        with open(os.path.join(ROOT, ".bench_build", "build.log"), "w") as log:
            try:
                classes = build.ensure(ROOT, log)
            except (RuntimeError, OSError) as e:
                raise RunError(f"build failed: {e}")
        self.layers["host.calib_cpu_s"] = host.calib_cpu_s()
        self.layers["host.calib_fsync_ms"] = host.calib_fsync_ms(self.work)
        ticks = host.cpu_ticks()
        getattr(self, self.args.workload)(classes)
        self.layers["host.steal_pct"] = host.steal_pct(ticks, host.cpu_ticks())
        if self.args.trace:
            os.makedirs(os.path.join(ROOT, ".bench_build", "traces"), exist_ok=True)
            shutil.copy(os.path.join(self.work, "spans.json"), os.path.join(
                ROOT, ".bench_build", "traces", f"{self.args.workload}-seed{self.args.seed}.json"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("run.py: the program's sources (src/main/scala) are not here\n")
        return 2
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    run = Run(args)
    try:
        run.execute()
    except (RunError, subprocess.SubprocessError, OSError) as e:
        sys.stderr.write(f"run.py: {args.workload}: {type(e).__name__}: {e}\n")
        return 2
    finally:
        if run.jvm and run.jvm.poll() is None:
            run.jvm.kill()
            run.jvm.wait()
        if run.jvm_log:
            run.jvm_log.close()
        shutil.rmtree(run.work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layers if args.trace else run.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = run.failed == 0
    summary = [f"{args.workload} seed={args.seed} failed_ratio={run.failed / max(1, run.attempted):.6f} "
               f"({run.failed}/{run.attempted})"]
    for name, key, unit in NAMED[args.workload] + COMMON:
        if key in run.e2e:
            summary.append(f"  {name:<26} {run.e2e[key]:>14.4f} {unit}")
    if "host.steal_pct" in run.layers:
        summary.append(f"  {'host_steal_pct':<26} {run.layers['host.steal_pct']:>14.4f} %")
    summary += [f"  FAILED: {x}" for x in run.failures]
    sys.stderr.write("\n".join(summary) + "\n")
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
