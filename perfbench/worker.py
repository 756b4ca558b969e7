"""One measured run of one workload, in a fresh process.

``run.py`` starts this process and passes a JSON config; the result
(metrics, per-key records, spans, config echo) is written to
``config["out"]``. Everything Spark-side lives here, so every run starts
from a cold JVM: ``memo_backed`` keys pay their build, and JIT state
does not carry over between runs.

Usage: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import time

#: when this process began running Python, before its imports: the
#: ``process.start`` span runs from the spawn to here
T_MAIN = time.time()

import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import keys as keymod  # noqa: E402
import sparklog  # noqa: E402
import tweets  # noqa: E402
from spans import Recorder, phase_coverage, self_by_name  # noqa: E402


def _quantile(values: list[float], q: float) -> float:
    """The q-quantile of ``values`` by nearest rank, without interpolation."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_kb = 0
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, AttributeError):
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _durable_entries(tmp: str) -> set[str]:
    root = os.path.join(tmp, "thsa_cache")
    if not os.path.isdir(root):
        return set()
    return {n for n in os.listdir(root) if ".tmp." not in n}


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.rec = Recorder("run", cfg["t_spawn"])
        self.root = 0
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.extra: dict = {}

    # -- setup -------------------------------------------------------
    def setup(self, warm) -> None:
        from twitter_hashtag_sentiment_analysis_spark import registry, session

        with self.rec.span("setup") as sid:
            self.rec.spans[sid]["start"] = self.cfg["t_spawn"]
            self.rec.add("process.start", self.cfg["t_spawn"], T_MAIN)
            with self.rec.span("session.start") as s1:
                self.spark = session.get_spark("perfbench")
            with self.rec.span("registry.load") as s2:
                self.reg = registry.load_all()
            with self.rec.span("session.warm") as s3:
                warm()
        sp = self.rec.spans
        self.metrics["setup_s"] = sp[sid]["end"] - self.cfg["t_spawn"]
        self.layers["session.start_s"] = sp[s1]["end"] - sp[s1]["start"]
        self.layers["registry.load_s"] = sp[s2]["end"] - sp[s2]["start"]
        self.layers["session.warm_s"] = sp[s3]["end"] - sp[s3]["start"]

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def settle(self) -> None:
        """Drop cached relations and let the JVM collect, outside any
        timer, so one key's leftovers do not load the next."""
        with self.rec.span("settle"):
            self.spark.catalog.clearCache()
            gc.collect()
            self.spark._jvm.System.gc()
            time.sleep(self.cfg["settle_s"])

    # -- query_mix ---------------------------------------------------
    def warm_queries(self) -> None:
        """Warm what every fresh process pays once, before any key: the
        JVM's first parquet scan, shuffle and codegen, the Python worker
        pool, and the micro-batch engine with a state store."""
        spark = self.spark
        with self.rec.span("warm.scan"):
            li = spark.read.parquet(os.path.join(self.cfg["sf_dir"], "lineitem.parquet"))
            self.noop(li.groupBy("l_returnflag").count())
        with self.rec.span("warm.python"):

            def _ident(it):
                yield from it

            self.noop(spark.range(64).repartition(2).mapInPandas(_ident, "id long"))
        with self.rec.span("warm.stream"):
            src = os.path.join(self.cfg["run_dir"], "warm_stream_src")
            spark.range(100).selectExpr("id % 7 AS k").write.parquet(src)
            q = (
                spark.readStream.schema("k long")
                .parquet(src)
                .groupBy("k")
                .count()
                .writeStream.format("memory")
                .queryName("perfbench_warm")
                .outputMode("complete")
                .option("checkpointLocation", os.path.join(self.cfg["run_dir"], "warm_stream_ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

    def query_mix(self) -> None:
        from twitter_hashtag_sentiment_analysis_spark import io as thio

        self.setup(self.warm_queries)
        spark, sf, tmp = self.spark, self.cfg["sf_dir"], self.cfg["tmp"]
        trace = self.cfg["trace"]
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        with self.rec.span("pass") as pass_id:
            for name in keymod.PANEL:
                q = self.reg[name]
                rec = {"key": name, "module": keymod.module_of(q.fn), "error": None}
                dir_before = sum(len(state) for _, state in thio.dir_cache_snapshot())
                durable_before = _durable_entries(tmp)
                compiles = codegen.METRIC_COMPILATION_TIME().getCount() if trace else 0
                df = fid = eid = None
                with self.rec.span(name, module=rec["module"]) as kid:
                    try:
                        with self.rec.span("registry.fn") as fid:
                            df = q.fn(spark, sf)
                        with self.rec.span("registry.exec") as eid:
                            self.noop(df)
                    except Exception:  # a failing key is counted, the pass goes on
                        rec["error"] = traceback.format_exc(limit=3)
                sp = self.rec.spans
                rec["wall_s"] = sp[kid]["end"] - sp[kid]["start"]
                rec["fn_s"] = (sp[fid]["end"] - sp[fid]["start"]) if fid is not None else 0.0
                rec["exec_s"] = (sp[eid]["end"] - sp[eid]["start"]) if eid is not None else 0.0
                rec["dir_cache_builds"] = (
                    sum(len(state) for _, state in thio.dir_cache_snapshot()) - dir_before
                )
                rec["durable_builds"] = len(_durable_entries(tmp) - durable_before)
                if trace:
                    with self.rec.span("trace.read"):
                        rec["codegen_compiles"] = (
                            codegen.METRIC_COMPILATION_TIME().getCount() - compiles
                        )
                        rec["analysis_ms"] = 0.0
                        if df is not None:
                            phase = df._jdf.queryExecution().tracker().phases().get("analysis")
                            if phase.isDefined():
                                rec["analysis_ms"] = float(phase.get().durationMs())
                self.records.append(rec)
                del df
                self.settle()
        walls = [r["wall_s"] for r in self.records]
        span = self.rec.spans[pass_id]
        self.metrics["latency_p50_s"] = statistics.median(walls)
        # the panel supports no percentile above the median with ten
        # keys beyond it, so the tail here is the median
        self.metrics["latency_tail_s"] = self.metrics["latency_p50_s"]
        self.metrics["throughput_per_s"] = len(walls) / sum(walls)
        self.extra = {
            "pass_s": sum(walls),
            "pass_wall_s": span["end"] - span["start"],
            "durable_builds": sum(r["durable_builds"] for r in self.records),
        }
        self.check_keys()

    def check_keys(self) -> None:
        """Every panel key once against the DuckDB oracle at the small
        fixture (the comparison of ``tools/check_oracle.py``); keys
        without oracle SQL must return rows."""
        import duckdb

        sys.path.insert(0, os.path.join(self.cfg["root"], "tools"))
        from check_oracle import table_hash

        from twitter_hashtag_sentiment_analysis_spark.io import TABLES

        sf = self.cfg["sf_check_dir"]
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        with self.rec.span("check"):
            for rec in self.records:
                self.attempted += 1
                name = rec["key"]
                if rec["error"]:
                    self.failures.append(f"{name}: raised in the timed pass")
                    continue
                q = self.reg[name]
                try:
                    sdf = q.fn(self.spark, sf)
                    scols = sdf.columns
                    srows = [tuple(r) for r in sdf.collect()]
                    if q.sql is None:
                        problem = None if srows else "rows-only key returned no rows"
                    else:
                        res = con.sql(q.sql)
                        dcols = [d[0] for d in res.description]
                        drows = res.fetchall()
                        problem = None
                        if len(srows) != len(drows):
                            problem = f"rows {len(srows)} vs {len(drows)}"
                        elif sorted(scols) != sorted(dcols):
                            problem = f"cols {sorted(scols)} vs {sorted(dcols)}"
                        elif table_hash(scols, srows) != table_hash(dcols, drows):
                            problem = "value-hash mismatch"
                except Exception as e:  # counted as a failed operation
                    problem = f"raised {type(e).__name__}: {str(e)[:200]}"
                rec["check"] = problem or "ok"
                if problem:
                    self.failures.append(f"{name}: {problem}")

    # -- tweet_stream ------------------------------------------------
    def _wait_rows(self, q, commits: str, target: int, timeout: float) -> None:
        """Wait until the query has read ``target`` (en) input rows. The JVM
        is asked when a new batch commit appears and every 0.25 s, so
        the wait costs the system under test next to nothing."""
        deadline = time.time() + timeout
        seen, asked = -1, 0.0
        while True:
            n = len(os.listdir(commits)) if os.path.isdir(commits) else 0
            if n != seen or time.time() - asked > 0.25:
                seen, asked = n, time.time()
                batches = {p.batchId: p.numInputRows for p in q.recentProgress}
                if sum(batches.values()) >= target:
                    return
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            if time.time() > deadline:
                raise TimeoutError(f"sink did not reach {target} input rows in {timeout}s")
            time.sleep(0.02)

    def tweet_stream(self) -> None:
        c = self.cfg
        d = {
            k: os.path.join(c["run_dir"], k)
            for k in ("input", "staging", "control", "output", "checkpoint")
        }
        for k in ("input", "staging", "control"):
            os.makedirs(d[k])
        commits = os.path.join(d["checkpoint"], "commits")
        en_rows = 0

        def warm() -> None:
            nonlocal en_rows
            from twitter_hashtag_sentiment_analysis_spark.streaming.pipeline import (
                start_pipeline,
            )

            self.q = start_pipeline(
                self.spark,
                d["input"],
                d["output"],
                d["checkpoint"],
                trigger_seconds=c["trigger_s"],
            )
            # the first drop waits out the cold first trigger; the rest
            # come one per trigger interval, as the steady phase will
            for n, size in enumerate(c["warm_drops"]):
                batch = tweets.render(c["seed"], "warm", c["warm_base"] + n * 1_000_000, size)
                tweets.drop(
                    os.path.join(d["input"], f"warm{n}.json"),
                    d["staging"],
                    tweets.ndjson(batch, "2024-01-01T00:00:00.000000Z"),
                )
                # the JSON scan applies the pushed-down lang filter, so the
                # source counts only the en rows as input
                en_rows += sum(1 for _, lang, _ in batch if lang == "en")
                if n == 0:
                    self._wait_rows(self.q, commits, en_rows, 120)
                else:
                    time.sleep(c["trigger_s"])
            self._wait_rows(self.q, commits, en_rows, 120)

        self.setup(warm)
        q = self.q
        gen_cfg = {
            k: c[k]
            for k in (
                "seed", "per_drop", "drops", "steady_base", "burst_bases",
                "burst_files", "burst_per_file",
            )
        }
        gen_cfg.update(
            input=d["input"],
            staging=d["staging"],
            control=d["control"],
            interval=c["interval_s"],
            log=os.path.join(c["run_dir"], "generator.json"),
        )
        cfg_path = os.path.join(c["run_dir"], "generator_cfg.json")
        with open(cfg_path, "w") as f:
            json.dump(gen_cfg, f)
        here = os.path.dirname(os.path.abspath(__file__))
        gen = subprocess.Popen([sys.executable, os.path.join(here, "tweetgen.py"), cfg_path])
        try:
            with self.rec.span("generator.render"):
                ready = os.path.join(d["control"], "ready")
                while not os.path.exists(ready):
                    if gen.poll() is not None:
                        raise RuntimeError(f"generator exited with {gen.returncode}")
                    time.sleep(0.01)
                with open(ready) as f:
                    counts = json.load(f)
                t_start = counts["t_start"]
                time.sleep(max(0.0, t_start - time.time()))
            en_rows += counts["steady_en"]
            with self.rec.span("steady") as self.steady_id:
                time.sleep(max(0.0, t_start + c["drops"] * c["interval_s"] - time.time()))
                self._wait_rows(q, commits, en_rows, 120)
            for b in range(len(c["burst_bases"])):
                en_rows += counts["burst_en"][b]
                with self.rec.span(f"burst{b}"):
                    open(os.path.join(d["control"], f"burst_{b}"), "w").close()
                    self._wait_rows(q, commits, en_rows, 120)
            gen.wait(timeout=60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with self.rec.span("stop"):
            progress = {p.batchId: p for p in q.recentProgress}
            q.stop()
        with self.rec.span("verify"):
            self._tweet_results(d, progress)

    def _expected(self):
        """The ``expected_table`` of every tweet the run dropped."""
        c = self.cfg
        drops = [("warm", c["warm_base"] + n * 1_000_000, size) for n, size in enumerate(c["warm_drops"])]
        drops += [("steady", c["steady_base"] + k * c["per_drop"], c["per_drop"]) for k in range(c["drops"])]
        drops += [
            ("burst", first + f * c["burst_per_file"], c["burst_per_file"])
            for first in c["burst_bases"]
            for f in range(c["burst_files"])
        ]
        out = []
        for tag, first, count in drops:
            out += tweets.render(c["seed"], tag, first, count)
        return tweets.expected_table(out)

    def _tweet_results(self, d: dict, progress: dict) -> None:
        import pyarrow.compute as pc

        from twitter_hashtag_sentiment_analysis_spark.functions.sentiment import score_text

        c = self.cfg
        with open(os.path.join(c["run_dir"], "generator.json")) as f:
            glog = json.load(f)
        expected = self._expected()
        rows = tweets.committed_table(d["output"])
        problems = tweets.check_rows(rows, expected, score_text)
        commit = {b: t for b, t, _ in sparklog.read_sink_log(os.path.join(d["output"], "_spark_metadata"))}
        # drop k's latency ends at the commit of the batch with its last row
        per, n_drops, base = c["per_drop"], c["drops"], c["steady_base"]
        steady = rows.filter(
            pc.and_(pc.greater_equal(rows["id"], base), pc.less(rows["id"], base + n_drops * per))
        )
        steady = steady.append_column("k", pc.divide(pc.subtract(steady["id"], base), per))
        last = {
            r["k"]: r["batch_max"]
            for r in steady.group_by("k").aggregate([("batch", "max")]).to_pylist()
        }
        due, renamed = glog["due"], glog["renamed"]
        done = [commit[last[k]] if k in last else None for k in range(n_drops)]
        latency = [t - u for t, u in zip(done, due) if t is not None]
        if len(latency) < n_drops:
            problems.append(f"{n_drops - len(latency)} steady drops never committed")
        # burst throughput: the bursts' tweets over the time from the
        # start of the first trigger that read each burst to the commit
        # of its last one, summed; burst b's ids start at (b + 1) * base
        bursts = rows.filter(pc.greater_equal(rows["id"], c["burst_bases"][0]))
        bursts = bursts.filter(pc.less(bursts["id"], c["warm_base"]))
        bursts = bursts.append_column("b", pc.subtract(pc.divide(bursts["id"], c["burst_bases"][0]), 1))
        batches = {
            r["b"]: r["batch_distinct"]
            for r in bursts.group_by("b").aggregate([("batch", "distinct")]).to_pylist()
        }
        burst_n = c["burst_files"] * c["burst_per_file"]
        drains = []
        for b in range(len(c["burst_bases"])):
            ids = batches.get(b, [])
            if not ids or not set(ids) <= progress.keys():
                problems.append(f"burst {b}: batches not found")
                continue
            start = min(sparklog.iso_seconds(progress[i].timestamp) for i in ids)
            drains.append(max(commit[i] for i in ids) - start)
        lag = [r - u for r, u in zip(renamed, due)]
        pending = [
            sum(1 for j in range(k + 1) if done[j] is None or done[j] > renamed[k])
            for k in range(n_drops)
        ]
        self.attempted = expected.num_rows
        self.failures = problems
        self.metrics["latency_p50_s"] = statistics.median(latency)
        self.metrics["latency_tail_s"] = _quantile(latency, 0.95)
        self.metrics["throughput_per_s"] = burst_n * len(drains) / sum(drains) if drains else 0.0
        self.layers["generator.lag_p50_s"] = statistics.median(lag)
        self.layers["generator.lag_max_s"] = max(lag)
        self.layers["streaming.pipeline.pending_drops_max"] = float(max(pending))
        self.extra = {
            "latency_samples": len(latency),
            "latency_s": latency,
            "batch_ms": {i: p.durationMs.get("triggerExecution") for i, p in progress.items()},
            "burst_drain_s": drains,
            "rows_committed": rows.num_rows,
            "generator_fell_behind": max(lag) > c["max_lag_s"],
        }
        for k in range(n_drops):
            self.rec.add(
                "drop", due[k], done[k] or due[k], parent=self.steady_id, kind="event", index=k
            )


    # -- layers ------------------------------------------------------
    def trace_layers(self) -> None:
        """Per-layer totals from the event log and the spans."""
        spans = self.rec.spans
        measured = [s for s in spans if s["name"] in ("pass", "steady") or s["name"].startswith("burst")]
        t0 = min(s["start"] for s in measured)
        t1 = max(s["end"] for s in measured)
        events = sparklog.read_events(self.cfg["eventlog_dir"])
        self.layers.update(sparklog.layer_totals(events, t0, t1))
        window_s = t1 - t0
        self.layers["spark.busy_share"] = self.layers["spark.task_run_ms"] / (
            1000.0 * window_s * self.cfg["cpus"]
        )
        for p in sparklog.progress_events(events):
            start = sparklog.iso_seconds(p["timestamp"])
            dur = p.get("durationMs") or {}
            if "addBatch" not in dur or not t0 <= start < t1:
                continue
            bid = self.rec.add(
                "streaming.batch",
                start,
                start + dur["triggerExecution"] / 1000.0,
                parent=self.root,
                kind="event",
                batch=p["batchId"],
                query=p.get("name"),
            )
            cursor = start
            for part in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                if part in dur:
                    self.rec.add(part, cursor, cursor + dur[part] / 1000.0, parent=bid, kind="event")
                    cursor += dur[part] / 1000.0
        recs = self.records
        self.layers["registry.fn_s"] = sum(r.get("fn_s", 0.0) for r in recs)
        self.layers["registry.exec_s"] = sum(r.get("exec_s", 0.0) for r in recs)
        self.layers["spark.codegen_compiles"] = float(sum(r.get("codegen_compiles", 0) for r in recs))
        self.layers["spark.catalyst_analysis_ms"] = sum(r.get("analysis_ms", 0.0) for r in recs)
        self.layers["io.dir_cache_builds"] = float(sum(r.get("dir_cache_builds", 0) for r in recs))
        self.layers["io.durable_builds"] = float(sum(r.get("durable_builds", 0) for r in recs))
        for m in keymod.MODULES:
            self.layers[f"{m}.wall_s"] = sum(r["wall_s"] for r in recs if r["module"] == m)
        self.layers["trace.phase_coverage"] = phase_coverage(spans)

    def finish(self) -> dict:
        self.rec.close()
        if self.cfg["trace"]:
            self.trace_layers()
        return {
            "metrics": self.metrics,
            "layers": self.layers,
            "attempted": self.attempted,
            "failures": self.failures,
            "records": self.records,
            "extra": self.extra,
            "self_time_by_name": self_by_name(self.rec.spans),
            "spans": self.rec.spans if self.cfg["trace"] else [],
        }


def main(cfg: dict) -> None:
    run = Run(cfg)
    try:
        getattr(run, cfg["workload"])()
        run.layers["session.peak_rss_mb"] = _peak_rss_mb(run.spark)
    finally:
        if run.spark is not None:
            with run.rec.span("session.stop"):
                run.spark.stop()
    # after stop: the event log is complete only once the session ends
    result = run.finish()
    with open(cfg["out"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        main(json.load(fh))
