"""Host-true benchmark of the engine: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists):

* ``tweet_stream`` -- the reference pipeline (``streaming.pipeline.
  start_pipeline``, 1 s trigger) fed open-loop by one generator process
  with one thread: a steady phase of 5,000 tweets/s in DROPS drops over
  ``--seconds``, then BURSTS bursts of pre-rendered tweets renamed in at
  once. The seed sets the tweets. Every ``en`` tweet must land exactly
  once with sentiment equal to ``score_text``; no ``es`` tweet may land.
* ``query_mix`` -- a closed loop over the fixed key panel of ``keys.py``
  at the benchmark's sf0.1 fixture, each key timed as ``fn()`` plus a
  noop write, with a gc settle between keys outside the timer; then each
  key is checked once against its DuckDB oracle at the sf0.001 fixture.

End-to-end metrics (``--trace 0``), each run in a fresh worker process:

* ``setup_s`` -- process start until the session is up, the registry is
  loaded and the warm-ups are done;
* ``latency_p50_s`` / ``latency_tail_s`` -- per operation: drop due time
  to file-sink commit (tweet_stream), one key's fn + write wall
  (query_mix). The tail is the highest percentile with at least ten
  samples beyond it: p95 of the drops; the panel is too small for any
  percentile above its median, so for query_mix it is the median;
* ``throughput_per_s`` -- burst tweets per second of drain time, a
  burst's drain running from the start of the trigger that read it to
  the commit of its last row, pooled over the bursts; keys per second
  over the query_mix pass.

Failed or wrong operations are reported as ``failed`` out of
``attempted``. ``--trace 1`` is a separate run of the same workload
with Spark's event log on; it prints the per-layer metrics instead, and
its artifact holds the spans and, when an untraced run of the same seed
exists, the tracing overhead. Every run writes an artifact with its full
config to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

import keys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "twitter_hashtag_sentiment_analysis_spark"

WORKER_TIMEOUT_S = 160

WORKLOADS = ("tweet_stream", "query_mix")
END_TO_END = ("setup_s", "latency_p50_s", "latency_tail_s", "throughput_per_s")

PER_LAYER = (
    "session.start_s",
    "session.warm_s",
    "registry.load_s",
    "session.peak_rss_mb",
    "streaming.latest_offset_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.trigger_ms",
    "streaming.batches",
    "streaming.add_batch_ms",
    "streaming.input_rows",
    "streaming.state_commit_ms",
    "streaming.state_updates_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.watermark_dropped_rows",
    "registry.fn_s",
    "registry.exec_s",
    *(f"{m}.wall_s" for m in keys.MODULES),
    "spark.catalyst_analysis_ms",
    "spark.pre_job_ms",
    "spark.codegen_compiles",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_ms",
    "spark.task_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_fetch_wait_ms",
    "spark.spill_bytes",
    "spark.busy_share",
    "spark.python_bytes_sent",
    "spark.python_bytes_returned",
    "io.dir_cache_builds",
    "io.durable_builds",
    "generator.lag_p50_s",
    "generator.lag_max_s",
    "streaming.pipeline.pending_drops_max",
    "trace.phase_coverage",
)

UNITS = {"_per_s": "1/s", "_ms": "ms", "_s": "s", "_mb": "MB", "_bytes": "bytes", "_share": "ratio"}

#: tweet_stream shape: 5,000 tweets/s in DROPS drops over ``--seconds``
RATE = 5000
DROPS = 200
TRIGGER_S = 1
BURSTS = 3
BURST_FILES = 4
BURST_PER_FILE = 30_000
#: warm-up drops, one trigger each: the first triggers of a fresh JVM
#: run several times slower than steady state, and the first large
#: batch slower than the next ones
WARM_DROPS = (5_000,) * 3 + (BURST_FILES * BURST_PER_FILE,)
MAX_LAG_S = 0.5

#: query_mix shape
SETTLE_S = 0.25
SF_BENCH, SF_CHECK = 0.1, 0.001

DRIVER_MEM = "4g"


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count" if not name.startswith("trace.") else "ratio"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def versions() -> dict:
    out = {"python": platform.python_version()}
    try:
        import pyspark

        out["spark"] = pyspark.__version__
    except ImportError:
        out["spark"] = None
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        out["java"] = (java.stderr or java.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        out["java"] = None
    return out


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The worker starts a session of
    its own; the JVM, the generator and Spark's Python daemon (which
    moves to a process group of its own) all stay in it."""
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    pids.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return pids


def run_worker(cfg: dict, env: dict, timeout: float) -> int:
    """Run worker.py in a session of its own and make sure every process
    it started has ended before returning its exit code."""
    path = os.path.join(cfg["run_dir"], "worker_cfg.json")
    cfg["t_spawn"] = time.time()
    with open(path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), path],
        env=env,
        cwd=cfg["run_dir"],
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while _session_pids(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        if not _session_pids(proc.pid):
            break
    proc.wait()
    return code


def worker_env(trace: bool, eventlog: str) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    submit = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{eventlog}",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        TZ="UTC",
    )
    return env


def clean_tmp() -> None:
    """Remove what the run left in the temp dir (the package's per-process
    fixture copies, Spark's scratch), keeping the durable caches."""
    tmp = os.path.join(WORK, "tmp")
    for name in os.listdir(tmp):
        if name not in ("thsa_cache", "spark-local"):
            path = os.path.join(tmp, name)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
    for name in os.listdir(os.path.join(tmp, "spark-local")):
        shutil.rmtree(os.path.join(tmp, "spark-local", name), ignore_errors=True)


def prepare() -> tuple[str, str]:
    """The fixtures at both scales, built once per checkout."""
    import fixtures

    return (
        fixtures.ensure(os.path.join(WORK, "fixtures", f"sf{SF_BENCH}"), SF_BENCH),
        fixtures.ensure(os.path.join(WORK, "fixtures", f"sf{SF_CHECK}"), SF_CHECK),
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in (os.path.join(ROOT, PACKAGE, "registry.py"), os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            print(f"perfbench: {need} is missing; run from a checkout of the repo", file=sys.stderr)
            return 2

    os.makedirs(WORK, exist_ok=True)
    sf_dir, check_dir = prepare()
    run_id = f"{args.workload}_s{args.seed}_t{args.trace}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    eventlog = os.path.join(run_dir, "eventlog")
    os.makedirs(eventlog)
    interval = args.seconds / DROPS
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "root": ROOT,
        "run_dir": run_dir,
        "out": os.path.join(run_dir, "result.json"),
        "tmp": os.path.join(WORK, "tmp"),
        "eventlog_dir": eventlog,
        "cpus": cpus(),
        "sf_dir": sf_dir,
        "sf_check_dir": check_dir,
        "settle_s": SETTLE_S,
        "trigger_s": TRIGGER_S,
        "interval_s": interval,
        "drops": DROPS,
        "per_drop": round(RATE * interval),
        "steady_base": 10_000_000,
        "burst_bases": [100_000_000 * (b + 1) for b in range(BURSTS)],
        "burst_files": BURST_FILES,
        "burst_per_file": BURST_PER_FILE,
        "warm_drops": list(WARM_DROPS),
        "warm_base": 1_000_000_000,
        "max_lag_s": MAX_LAG_S,
    }
    t0 = time.time()
    code = run_worker(cfg, worker_env(bool(args.trace), eventlog), WORKER_TIMEOUT_S)
    if code != 0 or not os.path.exists(cfg["out"]):
        print(f"perfbench: worker failed (exit {code}) after {time.time() - t0:.1f}s", file=sys.stderr)
        return 1
    with open(cfg["out"]) as f:
        res = json.load(f)
    if res["extra"].get("generator_fell_behind"):
        print(
            f"perfbench: run invalid, the generator fell behind its schedule "
            f"(lag max {res['layers']['generator.lag_max_s']:.3f}s > {MAX_LAG_S}s)",
            file=sys.stderr,
        )
        return 3

    names = PER_LAYER if args.trace else END_TO_END
    values = {**res["layers"], **res["metrics"]} if args.trace else res["metrics"]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": unit(n)} for n in names}
    artifact = {
        "config": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "traced": bool(args.trace),
            "nproc": cpus(),
            "SPARK_GRAFT_CPUS": str(cpus()),
            "driver_memory": DRIVER_MEM,
            **versions(),
            "sf_dir": os.path.relpath(sf_dir, ROOT),
            "sf_check_dir": os.path.relpath(check_dir, ROOT),
            "sampled_keys": [r["key"] for r in res["records"]],
            "rate_tweets_per_s": RATE if args.workload == "tweet_stream" else None,
            "drop_interval_s": interval if args.workload == "tweet_stream" else None,
            "trigger_s": TRIGGER_S,
            "burst_tweets": BURST_FILES * BURST_PER_FILE,
            "bursts": BURSTS,
            "settle_s": SETTLE_S,
        },
        "metrics": res["metrics"],
        "layers": res["layers"],
        "attempted": res["attempted"],
        "failures": res["failures"],
        "extra": res["extra"],
        "records": res["records"],
        "self_time_by_name": res["self_time_by_name"],
        "spans": res["spans"],
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        untraced = os.path.join(results, f"{args.workload}_s{args.seed}_t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            artifact["tracing_overhead"] = {
                n: {"traced": res["metrics"][n], "untraced": base[n], "delta": res["metrics"][n] - base[n]}
                for n in END_TO_END
                if n in base and n in res["metrics"]
            }
            print(f"perfbench: tracing overhead {json.dumps(artifact['tracing_overhead'])}", file=sys.stderr)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for failure in res["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    clean_tmp()
    print(
        json.dumps(
            {
                "correct": not res["failures"],
                "attempted": max(1, int(res["attempted"])),
                "failed": len(res["failures"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
