"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``, which generates the inputs, sets up the
environment and scratch dirs, and passes the wall-clock time it spawned
this process (``--t0``). Writes its result as JSON to ``--result``.

Untraced (``--trace 0``): set up, warm up, then run measured passes
until ``--seconds`` have gone by (and at least the workload's ``MIN_OPS``
operations) and report the end-to-end metrics.
Traced (``--trace 1``): set up, warm up, install the span wrappers, then
run untraced and traced passes alternately; report the per-layer
metrics, with the tracing overhead as the difference between the two
kinds of pass, and write the spans to ``--span-file``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

FEEDS = ("appStart", "custom", "transaction")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Operation recording


class _NoTrace:
    """Operation context of an untraced run: every hook is a no-op."""

    tracing = False

    def phase(self, name, group=True):
        return nullcontext({})

    def add_group(self, group):
        pass


NO_TRACE = _NoTrace()


class _OpTrace:
    """Operation context of a traced run: phases are spans, and phases
    that run Spark jobs get their own job group under the op's."""

    tracing = True

    def __init__(self, tracer, counters, op_id):
        self.tracer, self.counters, self.op_id = tracer, counters, op_id
        self.groups = [op_id]

    @contextmanager
    def phase(self, name, group=True):
        with self.tracer.span(name) as rec:
            if not group:
                yield rec
                return
            g = f"{self.op_id}:{name}"
            self.groups.append(g)
            self.counters.set_group(g)
            try:
                yield rec
            finally:
                self.counters.set_group(self.op_id)
                rec["jobs"] = len(self.counters.job_ids([g]))

    def add_group(self, group):
        self.groups.append(group)


class Recorder:
    """Times operations one after another (closed loop, one client).
    Each operation runs in its own try: an exception or a failed output
    check is counted and the pass goes on."""

    def __init__(self, tracer=None, counters=None):
        self.samples: list[dict] = []
        self.tracer, self.counters = tracer, counters

    def op(self, pass_idx: int, kind: str, fn, check) -> dict:
        op_id = f"op{len(self.samples):05d}"
        rec = {"pass": pass_idx, "kind": kind, "s": 0.0, "ok": False, "rows": 0}
        if self.tracer is None:
            ctx, scope = NO_TRACE, nullcontext({})
        else:
            ctx = _OpTrace(self.tracer, self.counters, op_id)
            self.tracer.op = op_id
            self.counters.set_group(op_id)
            scope = self.tracer.span("op", kind=kind)
        with scope as span:
            c0 = session_cpu_s() if self.tracer else 0.0
            t = time.perf_counter()
            try:
                out = fn(ctx)
                rec["s"] = time.perf_counter() - t
                rec["ok"], rec["rows"] = check(out)
            except Exception:
                rec["s"] = time.perf_counter() - t
                log(f"operation {kind} (pass {pass_idx}) failed:\n{traceback.format_exc()}")
        if self.tracer is not None:
            span["cpu_s"] = session_cpu_s() - c0
            self.counters.clear_group()
            span["spark"] = self.counters.totals(self.counters.job_ids(ctx.groups))
            span["ok"] = rec["ok"]
            self.tracer.op = None
        if not rec["ok"]:
            log(f"operation {kind} (pass {pass_idx}) did not pass its check")
        self.samples.append(rec)
        return rec

    def fail_last(self, pass_idx: int, kind_prefix: str, why: str) -> None:
        """A pass-level check failed: charge it to the pass's last
        operation of that kind."""
        for rec in reversed(self.samples):
            if rec["pass"] == pass_idx and rec["kind"].startswith(kind_prefix):
                rec["ok"] = False
                break
        log(f"pass {pass_idx}: {why}")

    def passes(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.samples:
            out.setdefault(rec["pass"], []).append(rec)
        return out


# ---------------------------------------------------------------------------
# Workloads


class Analytics:
    # flagship scan, LSH near-dup, catalog-heavy join (7 load_table
    # calls) and the two builds that fire eager side jobs
    QUERIES = (
        "q01_pricing_summary",
        "x43_minhash_lsh_neardup",
        "q95_market_share",
        "x96_neardup_clusters",
        "x174_semdedup",
    )
    WARMUP_PASSES = 1
    MIN_OPS = 10

    def __init__(self, spark, args):
        import bench
        import __spark_entry__ as entry

        from digest import digest

        self.spark, self.digest = spark, digest
        unknown = [q for q in self.QUERIES if q not in bench.HEADLINE]
        if unknown:
            raise RuntimeError(f"analytics queries not in bench.HEADLINE: {unknown}")
        self.names = [q for q in bench.HEADLINE if q in self.QUERIES]
        self.fns = entry.queries()
        self.sf_dir = os.path.join(HERE, "data", "sf0.01")
        with open(os.path.join(HERE, "expected", "analytics.json")) as fh:
            exp = json.load(fh)
        check_inputs(exp["inputs"])
        self.expected = exp["digests"]

    def _query(self, name, ctx):
        with ctx.phase("queries.build"):
            df = self.fns[name](self.spark, self.sf_dir)
        if ctx.tracing:
            with ctx.phase("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.phase("spark.exec"):
            return df.toPandas()

    def warmup(self):
        for _ in range(self.WARMUP_PASSES):
            for name in self.names:
                self._query(name, NO_TRACE)

    def run_pass(self, rec: Recorder, p: int, rng: random.Random, tracer=None):
        order = list(self.names)
        rng.shuffle(order)
        for name in order:
            rec.op(
                p,
                name,
                lambda ctx, n=name: self._query(n, ctx),
                lambda pdf, n=name: (self.digest(pdf, ROOT) == self.expected[n], len(pdf)),
            )


def check_inputs(recorded: dict) -> None:
    """The stored expectations hold only for the exact bundled tables."""
    import hashlib

    for rel, want in recorded.items():
        path = os.path.join(HERE, rel)
        with open(path, "rb") as fh:
            got = hashlib.sha256(fh.read()).hexdigest()
        if got != want:
            raise RuntimeError(f"{rel} differs from the table the expectations were made on")


class Ingest:
    """The reference's job twice over the same generated drops: first
    through the batch path (process_raw_dump), then through the
    streaming path (stream_feed, available-now drains)."""

    # per feed: one backfill drop of BACKFILL_ROWS rows in BACKFILL_FILES
    # gzip files (gzip does not split, so this sets the scan tasks), then
    # DROPS incremental drops of DROP_ROWS rows; warm-up runs a separate
    # backfill-only input of WARMUP_ROWS rows
    BACKFILL_ROWS = 10_000
    BACKFILL_FILES = 8
    DROPS = 1
    DROP_ROWS = 1_000
    WARMUP_ROWS = 2_000
    MIN_OPS = 12

    @classmethod
    def make_inputs(cls, seed: int, inputs: str) -> None:
        """Generate the run's drops from the seed; runs before the worker
        starts, so set-up time excludes it."""
        import feeds

        plan = feeds.generate(
            os.path.join(inputs, "measured"), seed, cls.BACKFILL_ROWS,
            cls.BACKFILL_FILES, cls.DROPS, cls.DROP_ROWS,
        )
        warm = feeds.generate(os.path.join(inputs, "warmup"), seed + 1_000_003, cls.WARMUP_ROWS, 2, 0, 0)
        for name, obj in (("plan.json", plan), ("warmup.json", warm)):
            with open(os.path.join(inputs, name), "w") as fh:
                json.dump(obj, fh)

    def __init__(self, spark, args):
        self.spark, self.tmp = spark, args.tmp
        with open(os.path.join(args.inputs, "plan.json")) as fh:
            self.plan = json.load(fh)
        with open(os.path.join(args.inputs, "warmup.json")) as fh:
            self.warm_plan = json.load(fh)

    def warmup(self):
        self.run_pass(Recorder(), -1, None, plan=self.warm_plan)

    def run_pass(self, rec: Recorder, p: int, rng, tracer=None, plan=None):
        plan = plan or self.plan
        base = os.path.join(self.tmp, f"ingest-pass{p}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self._batch(rec, p, plan, os.path.join(base, "batch"), tracer)
        self._stream(rec, p, plan, os.path.join(base, "stream"), tracer)
        shutil.rmtree(base, ignore_errors=True)

    def _check_landed(self, rec, p, plan, landed, path):
        from decimal import Decimal

        from pyspark.sql import functions as F

        for feed in FEEDS:
            want = plan[feed]["total"]
            aggs = [
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("userid").alias("users"),
                F.min(F.unix_seconds("ts")).alias("lo"),
                F.max(F.unix_seconds("ts")).alias("hi"),
            ]
            if feed == "transaction":
                aggs.append(F.sum("amount").alias("amount"))
            row = self.spark.read.parquet(os.path.join(landed, feed)).agg(*aggs).collect()[0]
            amount = row["amount"] if feed == "transaction" else Decimal(0)
            if not (
                row["rows"] == want["rows"]
                and row["users"] == want["distinct_userid"]
                and row["lo"] == want["min_ts_s"]
                and row["hi"] == want["max_ts_s"]
                and Decimal(amount) == Decimal(want["sum_amount"])
            ):
                rec.fail_last(p, f"{path}:{feed}", f"{path} landed {feed} does not match the generator's aggregates")

    def _batch(self, rec, p, plan, base, tracer):
        from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
        from ua2sql_spark.sources.ingest import LocalFileExportClient, parquet_sink, run_ingest

        landed = os.path.join(base, "landed")
        client = LocalFileExportClient({f: plan[f]["runs"] for f in FEEDS})
        checkpoint = JobIdCheckpoint(self.spark, os.path.join(base, "checkpoint"))
        ck_used, sink = checkpoint, parquet_sink(landed)
        if tracer is not None:
            from spans import TracedCheckpoint, TracedClient, traced_sink

            client = TracedClient(client, tracer)
            ck_used = TracedCheckpoint(checkpoint, tracer)
            sink = traced_sink(sink, landed, tracer)
        staging = os.path.join(base, "staging")
        n_runs = len(plan[FEEDS[0]]["runs"])
        for i in range(n_runs):
            for feed in FEEDS:
                want, job = plan[feed]["expected"][i]["rows"], f"{feed}-{i}"
                rec.op(
                    p,
                    f"batch:{feed}:{'backfill' if i == 0 else 'drop'}",
                    lambda ctx, feed=feed: run_ingest(
                        self.spark, client, staging, ck_used, sink,
                        feeds=(feed,), parity_ts=True, poll_interval_s=0.0,
                    )[0],
                    lambda r, want=want, job=job: (r.rows == want and r.job_id == job, r.rows),
                )
        self._check_landed(rec, p, plan, landed, "batch")
        for feed in FEEDS:
            last = f"{feed}-{n_runs - 1}"
            if checkpoint.find_previous_job_id(feed) != last:
                rec.fail_last(p, f"batch:{feed}", f"checkpoint for {feed} does not hold {last}")

    def _stream(self, rec, p, plan, base, tracer):
        from ua2sql_spark.sources.ingest import parquet_sink
        from ua2sql_spark.streaming.ingest import stream_feed

        landed = os.path.join(base, "landed")
        sink = parquet_sink(landed)
        if tracer is not None:
            from spans import traced_sink

            sink = traced_sink(sink, landed, tracer)

        def drain(ctx, feed, landing):
            got = [0]

            def batch_sink(df, epoch_id):
                got[0] += sink(df, feed)

            with ctx.phase("streaming.drain", group=False) as span:
                q = stream_feed(
                    self.spark, landing, feed, os.path.join(base, "checkpoint", feed),
                    batch_sink, parity_ts=True, available_now=True,
                )
                ctx.add_group(str(q.runId))
                q.awaitTermination()  # raises if the query failed
                if ctx.tracing:
                    span["progress"] = [progress_durations(x) for x in q.recentProgress]
            return got[0]

        for i in range(len(plan[FEEDS[0]]["runs"])):
            for feed in FEEDS:
                landing = os.path.join(base, "landing", feed)
                os.makedirs(landing, exist_ok=True)
                for src in plan[feed]["runs"][i]:
                    shutil.copyfile(src, os.path.join(landing, os.path.basename(src)))
                want = plan[feed]["expected"][i]["rows"]
                rec.op(
                    p,
                    f"stream:{feed}:{'backfill' if i == 0 else 'drop'}",
                    lambda ctx, feed=feed, landing=landing: drain(ctx, feed, landing),
                    lambda n, want=want: (n == want, n),
                )
        self._check_landed(rec, p, plan, landed, "stream")


def progress_durations(progress) -> dict:
    raw = json.loads(progress.json) if hasattr(progress, "json") else dict(progress)
    return {"rows": raw.get("numInputRows", 0), **(raw.get("durationMs") or {})}


class CorpusPipeline:
    WARMUP_CALLS = 2
    MIN_OPS = 3

    def __init__(self, spark, args):
        from ua2sql_spark.pipeline import corpus_pipeline

        self.spark, self.run_pipeline, self.tmp = spark, corpus_pipeline, args.tmp
        self.sf_dir = os.path.join(HERE, "data", "sf0.1")
        with open(os.path.join(HERE, "expected", "corpus_funnel.json")) as fh:
            exp = json.load(fh)
        check_inputs(exp["inputs"])
        self.funnel = exp["funnel"]

    def _call(self, ctx, out):
        with ctx.phase("pipeline.run", group=False) as span:
            m = self.run_pipeline(self.spark, self.sf_dir, out)
            span["rows_exported"] = sum(r["n_samples"] for r in m["manifest"])
            span["export_bytes"] = sum(r["n_bytes"] for r in m["manifest"])
        return m

    def _check(self, m):
        exported = sum(r["n_samples"] for r in m["manifest"])
        funnel = {k: m[k] for k in self.funnel}
        ok = exported == m["n_survivors"] == m["n_exported"] and funnel == self.funnel
        return ok, m["n_raw"]

    def warmup(self):
        for i in range(self.WARMUP_CALLS):
            out = os.path.join(self.tmp, f"corpus-warmup{i}")
            self._call(NO_TRACE, out)
            shutil.rmtree(out, ignore_errors=True)

    def run_pass(self, rec: Recorder, p: int, rng, tracer=None):
        out = os.path.join(self.tmp, f"corpus-pass{p}")
        rec.op(p, "corpus_pipeline", lambda ctx: self._call(ctx, out), self._check)
        shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {
    "analytics": Analytics,
    "ingest": Ingest,
    "corpus_pipeline": CorpusPipeline,
}


# ---------------------------------------------------------------------------
# Metrics


def java_peak_rss_mb() -> float:
    """VmHWM of this process's java child (the Spark driver JVM)."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            if ppid != me or comm != "java":
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (OSError, ValueError):
            continue
    raise RuntimeError("no java child process found")


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session (run.py starts it
    as a session leader): the worker, the Spark JVM, and the pyspark daemon
    and its Python workers, which sit in a process group of their own but
    keep the session. Reaped children count through their parents."""
    sid, total = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def cpu_times() -> list[int]:
    """The machine's aggregate CPU counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: the machine-load drift a wall time carries."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def probe_s() -> float:
    """Time of a fixed single-threaded loop: how fast the machine runs this
    process right now, logged next to each run's pass walls."""
    t, x = time.perf_counter(), 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def live_heap_mb(spark) -> float:
    """Spark driver JVM heap still in use after a full GC: what the run left
    cached (persisted blocks, broadcast copies, catalog state)."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    spark._jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def pass_walls(rec: Recorder) -> list[float]:
    return [sum(r["s"] for r in ops) for ops in rec.passes().values()]


def end_to_end(rec: Recorder, setup_s: float, spark) -> dict:
    from layers import END_TO_END

    lat = [r["s"] for r in rec.samples]
    v = {
        "setup_s": setup_s,
        "wall_s": statistics.median(pass_walls(rec)),
        "op_geomean_s": math.exp(statistics.fmean(math.log(s) for s in lat)),
        "rows_per_s": sum(r["rows"] for r in rec.samples) / sum(lat),
        "live_heap_mb": live_heap_mb(spark),
    }
    return {k: (v[k], END_TO_END[k][0]) for k in END_TO_END}


def measure(workload, rec, seconds, min_ops, rng, tracer=None) -> None:
    start, p = time.perf_counter(), 0
    while True:
        workload.run_pass(rec, p, rng, tracer=tracer)
        p += 1
        if time.perf_counter() - start >= seconds and len(rec.samples) >= min_ops:
            return


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--inputs", default="")
    ap.add_argument("--span-file", default="")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from ua2sql_spark.session import get_spark, tune_for_session

    spark = get_spark(f"perfbench-{args.workload}")
    tune_for_session(spark)
    workload = WORKLOADS[args.workload](spark, args)
    log(f"session ready after {time.time() - args.t0:.2f} s")
    workload.warmup()
    setup_s = time.time() - args.t0
    log(f"warm-up done, set up in {setup_s:.2f} s")

    probe0, cpu0 = probe_s(), cpu_times()
    if not args.trace:
        rec = Recorder()
        measure(workload, rec, args.seconds, workload.MIN_OPS, random.Random(args.seed))
        metrics = end_to_end(rec, setup_s, spark)
        done = rec.samples
    else:
        import spans as tr
        from layers import per_layer

        tracer = tr.Tracer()
        counters = tr.SparkCounters(spark)
        log(f"traced {tr.wrap_load_table(tracer)} bindings of catalog.load_table")
        base, rec = Recorder(), Recorder(tracer, counters)
        rng_base, rng_traced = random.Random(args.seed), random.Random(args.seed)
        # untraced (U) and traced (T) passes run U T T U U T ..., so the
        # JIT still settling from pass to pass lands on both sides of the
        # overhead alike
        start, p = time.perf_counter(), 0
        while p < 2 or time.perf_counter() - start < args.seconds:
            for traced in ((False, True) if p % 2 == 0 else (True, False)):
                tracer.enabled = traced
                if traced:
                    workload.run_pass(rec, p, rng_traced, tracer=tracer)
                else:
                    workload.run_pass(base, p, rng_base)
            p += 1
        untraced_wall = statistics.median(pass_walls(base))
        peak = java_peak_rss_mb()
        metrics = per_layer(args.workload, tracer.spans, pass_walls(rec), untraced_wall, counters.cores, peak)
        done = rec.samples + base.samples
        tracer.dump(
            args.span_file,
            {
                "workload": args.workload,
                "seed": args.seed,
                "cores": counters.cores,
                "traced_pass_walls": pass_walls(rec),
                "untraced_pass_wall": untraced_wall,
                "peak_rss_mb": peak,
            },
        )
    log(
        f"measured after {time.time() - args.t0:.2f} s; pass walls {[round(w, 3) for w in pass_walls(rec)]}; "
        f"CPU steal while measuring {steal_share(cpu0, cpu_times()):.3f}; "
        f"probe loop before/after {probe0:.3f}/{probe_s():.3f} s"
    )
    kinds: dict[str, list[float]] = {}
    for r in rec.samples:
        kinds.setdefault(r["kind"], []).append(r["s"])
    log("median s per operation kind: " + ", ".join(f"{k}={statistics.median(v):.3f}" for k, v in kinds.items()))
    failed = sum(not r["ok"] for r in done)
    result = {
        "correct": failed == 0,
        "attempted": len(done),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": len(rec.passes()),
    }
    with open(args.result + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.rename(args.result + ".tmp", args.result)
    sys.stdout.flush()
    sys.stderr.flush()
    # No graceful spark.stop(): closing this process's pipe to the JVM
    # ends it, and run.py stops whatever is left of the process group.
    os._exit(0)


if __name__ == "__main__":
    main()
