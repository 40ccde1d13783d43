"""Pipeline benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed under ``.perfbench_work/`` (removed at exit), builds the engine's
session with ``get_spark`` on ``local[<cores>]`` and drives the workload
through the public ``Pipeline`` API, one pipeline run at a time (closed
loop).  The first run of the process is the cold run; warm runs follow
until ``--seconds`` is spent (at least one).  Every run writes into fresh
target, state, ledger and checkpoint directories, and its outputs are
checked with DuckDB; a failed check fails the run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced warm runs and prints the per-layer metrics of the
traced ones, the tracing overhead on ``job_s``, and checks that tracing
left the Spark job count unchanged.  A human-readable report goes to
stderr and the full record, spans included, to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

WORKLOADS = ("medallion_batch", "curation", "stream_fanout")
# every op and config job any workload runs: per-layer metric names are
# the same on every workload (zero where a workload does not run them)
OPS = ("derive_column", "dedup", "enrich", "aggregate", "quality_filter", "compress_filter",
       "line_dedup", "near_dup_drop", "leakage_safe_split", "chunk")
JOBS = ("payments-bronze", "payments-silver", "payments-gold", "curate-documents",
        "clickstream-fanout")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_size(path: str, skip: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n == skip:
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def percentile_with_tail(xs: list[float], q: float) -> tuple[float | None, int]:
    """The q-quantile and how many samples lie beyond it; None when fewer
    than ten do (too few to report that percentile)."""
    if len(xs) < 2:
        return None, 0
    cut = statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]
    beyond = sum(1 for x in xs if x > cut)
    return (cut if beyond >= 10 else None), beyond


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.registry = os.path.join(root, "schemas_registry")
        self.runs: list[dict] = []

    # -- set-up ----------------------------------------------------------------
    def generate(self):
        import gen

        t = time.perf_counter()
        self.wl = gen.generate(self.args.workload, self.args.seed, self.work, self.registry)
        self.gen_s = time.perf_counter() - t
        self.input_bytes = self.wl.input_bytes
        log(f"[perfbench] generated {self.wl.input_rows} rows, {self.input_bytes} bytes "
            f"in {self.gen_s:.2f} s")

    def setup(self):
        """Package import, get_spark, one trivial action: what every launch pays."""
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        # keep Spark's and both JVMs' temporary files inside the work directory
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = local
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        # a 1 GiB heap with a fixed young generation: peak RSS then follows
        # the memory the run retains, not G1's adaptive young-gen sizing
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        t0 = time.perf_counter()
        from lakehouse_ingestion_spark.session import SparkConfig, get_spark

        cores = len(os.sched_getaffinity(0))
        t1 = time.perf_counter()
        self.spark = get_spark(SparkConfig(
            master=f"local[{cores}]",
            extra={"spark.ui.showConsoleProgress": "false",
                   "spark.local.dir": local,
                   "spark.driver.extraJavaOptions": jvm_opts + " -Xmn256m"}))
        t2 = time.perf_counter()
        self.spark.range(1).count()
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.session_s = t2 - t1
        from status import StatusReader

        self.status = StatusReader(self.spark)
        self.cores = cores
        log(f"[perfbench] setup {self.setup_s:.2f} s (get_spark {self.session_s:.2f} s) on local[{cores}]")

    # -- one pipeline run ------------------------------------------------------
    def run_once(self, k: int, traced: bool) -> dict:
        import checks

        iter_dir = os.path.join(self.work, f"iter{k:03d}")
        cfg_path = self.wl.write_config(iter_dir)
        st = self.status
        st.settle()
        job0, exec0 = st.max_job_id(), st.max_execution_id()
        rec = {"iter": k, "cold": k == 0, "traced": traced, "ok": False}
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced
            tr.run = f"{self.args.workload}/seed{self.args.seed}/iter{k}"
        n_spans = len(tr.spans) if tr is not None else 0
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span("pipeline.run", "pipeline") as root:
                    tr.root = root.id
                    progress = self._pipeline(cfg_path, tr)
            else:
                progress = self._pipeline(cfg_path, None)
            rec["wall_s"] = time.perf_counter() - t0
            st.settle()
            jobs, stages = st.jobs(after=job0), st.stages()
            self._counters(rec, jobs, stages, iter_dir, progress)
            if traced:
                self._layers(rec, tr.spans[n_spans:], jobs, stages, exec0, iter_dir)
            if self.args.workload == "medallion_batch":
                checks.medallion(iter_dir, self.wl.expected, self.registry)
            elif self.args.workload == "curation":
                checks.curation(iter_dir, self.wl.expected)
            else:
                checks.stream(iter_dir, self.wl.expected, rec["batches"])
            rec["ok"] = True
        except Exception as e:  # a failed run is counted, reported and the loop goes on
            import traceback

            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"
            log(f"[perfbench] RUN {k} FAILED: {rec['error']}")
            traceback.print_exc(file=sys.stderr)
        finally:
            if tr is not None:
                tr.enabled = False
                tr.root = None
        log(f"[perfbench] run {k} {'cold' if k == 0 else 'warm'}{' traced' if traced else ''}: "
            f"{rec['wall_s']:.2f} s, {rec.get('jobs')} jobs, ok={rec['ok']}")
        shutil.rmtree(iter_dir, ignore_errors=True)
        return rec

    def _pipeline(self, cfg_path: str, tr) -> list[dict]:
        """Pipeline.run on the generated config, then wait for any streaming
        query it started.  Returns the streaming progress reports."""
        from lakehouse_ingestion_spark.config import load_config
        from lakehouse_ingestion_spark.pipeline import Pipeline

        progress = []
        for res in Pipeline(self.spark, load_config(cfg_path)).run():
            if res.query is not None:
                if tr is not None:
                    with tr.span(f"pipeline.{res.name}.await", "pipeline"):
                        res.query.awaitTermination()
                else:
                    res.query.awaitTermination()
                if res.query.exception() is not None:
                    raise RuntimeError(f"stream failed: {res.query.exception()}")
                progress += [dict(p) for p in res.query.recentProgress]
        return progress

    def _counters(self, rec, jobs, stages, iter_dir, progress) -> None:
        """Run-boundary counters: status-store totals over this run's jobs,
        and the files the run left in its directory."""
        from status import stage_totals

        rec.update(stage_totals(jobs, stages))
        rec["files_written"], rec["bytes_written"] = tree_size(iter_dir, skip="pipeline.yaml")
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        rec["batches"] = len(batches)
        rec["batch_ms"] = [p["durationMs"]["triggerExecution"] for p in batches]
        for key in ("addBatch", "latestOffset", "commitOffsets"):
            rec[f"{key}_ms"] = [p["durationMs"].get(key, 0) for p in batches]

    # -- traced run: per-layer attribution ---------------------------------------
    def _layers(self, rec, spans, jobs, stages, exec0, iter_dir) -> None:
        from spans import self_time

        st = self.status
        rec["unattributed_jobs"] = len(self.tracer.attribute(spans, jobs, stages))
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        span_of_group = {s.group: s for s in spans}
        by_id = {s.id: s for s in spans}

        def layer_chain(s):
            while s is not None:
                yield s
                s = by_id.get(s.parent)

        m: dict[str, float] = {}
        add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)
        # a layer's span counts once: nested spans of the same layer are inside it
        for s in spans:
            if s.layer == "pipeline" and s.name != "pipeline.run":
                add(f"{s.name.removesuffix('.await')}.wall_s", s.duration)
            if any(p.layer == s.layer for p in list(layer_chain(s))[1:]):
                continue
            add(f"{s.layer}.wall_s", s.duration)
            add(f"{s.layer}.jobs", s.counters["jobs"])
            add(f"{s.layer}.executor_cpu_s", s.counters["executor_cpu_s"])
            if s.layer == "operators":
                op = s.name.split(".", 1)[1]
                add(f"operators.{op}.wall_s", s.duration)
                for c in ("jobs", "executor_cpu_s", "shuffle_write_bytes"):
                    add(f"operators.{op}.{c}", s.counters[c])
        # SQL node metrics split each action across layers by node kind
        ledger = os.path.join(iter_dir, "ledger")
        for e in st.executions(after=exec0):
            nodes = st.plan_nodes(e["id"])
            span = next((span_of_group.get(group_of_job.get(j)) for j in e["jobs"]
                         if span_of_group.get(group_of_job.get(j)) is not None), None)
            layers = {p.layer for p in layer_chain(span)} if span else set()
            touches_ledger = any(ledger in n["desc"] for n in nodes)
            if "streaming" in layers and touches_ledger and e["end_ms"] and e["start_ms"]:
                add("streaming.ledger_s", (e["end_ms"] - e["start_ms"]) / 1e3)
            for n in nodes:
                mt = n["metrics"]
                if "number of files read" in mt:
                    add("sources.files_read", mt["number of files read"])
                    add("sources.scan_bytes", mt.get("size of files read", 0.0))
                    add("sources.scan_time_s", mt.get("scan time", 0.0))
                if "number of written files" in mt:
                    add("sinks.files_written", mt["number of written files"])
                    add("sinks.bytes_written", mt.get("written output", 0.0))
                    add("sinks.commit_s", mt.get("task commit time", 0.0) + mt.get("job commit time", 0.0))
                    if "dq" in layers:
                        add("dq.quarantine_rows", mt.get("number of output rows", 0.0))
                if "data sent to Python workers" in mt:
                    add("operators.python_worker_s", mt.get("time to run Python workers", 0.0))
                    add("operators.python_bytes_sent", mt["data sent to Python workers"])
                    add("operators.python_bytes_returned", mt.get("data returned from Python workers", 0.0))
        m["sources.scan_amplification"] = m.get("sources.scan_bytes", 0.0) / self.input_bytes
        rec["layers"] = m
        rec["spans"] = [{
            "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent, "run": s.run,
            "start_s": s.start - spans[0].start, "duration_s": s.duration,
            "self_s": self_time(s, spans), "jobs": s.counters["jobs"],
            "self_jobs": s.self_counters["jobs"],
            "executor_cpu_s": s.counters["executor_cpu_s"],
            "shuffle_write_bytes": s.counters["shuffle_write_bytes"],
        } for s in spans]

    # -- the measurement loop ----------------------------------------------------
    def measure(self) -> None:
        self.tracer = None
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        self.runs.append(self.run_once(0, traced=False))
        t0 = time.perf_counter()
        k = 1
        # trace 1: one settling run, then traced and untraced runs alternate;
        # which comes first follows the seed, so warm-up drift between
        # neighbouring runs cancels out of the overhead across seeds
        min_warm = 3 if self.args.trace else 1
        while k <= min_warm or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and k >= 2 and (k + self.args.seed) % 2 == 0
            self.runs.append(self.run_once(k, traced))
            if k == 1:
                # after the same work on every run (cold + one warm), so the
                # figure does not grow with how many warm runs fit the window
                self.record_rss()
            k += 1
        # the JIT is still compiling during the first warm runs: the earlier
        # half of them settles the process, the later half is measured
        warm = self.runs[1:]
        settle = 1 if self.args.trace else len(warm) // 2
        for i, r in enumerate(warm):
            r["measured"] = i >= settle
        if self.tracer is not None:
            self.tracer.uninstall()

    # -- results ---------------------------------------------------------------
    def results(self) -> dict:
        ok = [r for r in self.runs if r["ok"]]
        warm = [r for r in ok if r.get("measured") and not r["traced"]]
        cold = [r for r in ok if r["cold"]]
        traced = [r for r in ok if r["traced"]]
        job_s = median([r["wall_s"] for r in warm])
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "cold_job_s": (cold[0]["wall_s"] if cold else 0.0, "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (self.wl.input_rows / job_s if job_s else 0.0, "1/s"),
            "executor_cpu_s": (median([r["executor_cpu_s"] for r in warm]), "s"),
            "shuffle_bytes": (median([r["shuffle_write_bytes"] for r in warm]), "bytes"),
            "write_amplification": (median([r["bytes_written"] for r in warm]) / self.input_bytes, "ratio"),
            "files_written": (median([r["files_written"] for r in warm]), "count"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }
        batch_ms = [x for r in warm for x in r["batch_ms"]]
        p75, beyond = percentile_with_tail(batch_ms, 0.75)
        extra = {
            "failed_share": (len(self.runs) - len(ok)) / len(self.runs),
            "warm_runs": len(self.runs) - 1,
            "measured_runs": len(warm),
            "batch_ms_p50": median(batch_ms) if batch_ms else None,
            "batch_ms_samples": len(batch_ms),
            "batch_ms_p75": p75,
            "batch_ms_beyond_p75": beyond,
            "jobs_per_run": sorted({r["jobs"] for r in ok}),
            "peak_rss_jvm_mb": self.rss_jvm_mb,
            "peak_rss_python_mb": self.rss_python_mb,
        }
        layers = {}
        if self.args.trace:
            layers = self._layer_metrics(traced, warm)
        return {"e2e": e2e, "extra": extra, "layers": layers}

    def _layer_metrics(self, traced, warm) -> dict:
        """Per-layer metrics: medians over the traced runs."""
        def med(key):
            return median([r["layers"].get(key, 0.0) for r in traced])

        names = ["session.wall_s", "schema_registry.wall_s", "sources.wall_s", "sources.scan_bytes",
                 "sources.scan_time_s", "sources.files_read", "sources.scan_amplification",
                 "schema_validator.wall_s", "schema_validator.jobs", "dq.wall_s", "dq.jobs",
                 "dq.executor_cpu_s", "dq.quarantine_rows"]
        names += [f"operators.{op}.{c}" for op in OPS
                  for c in ("wall_s", "jobs", "executor_cpu_s", "shuffle_write_bytes")]
        names += ["operators.python_worker_s", "operators.python_bytes_sent",
                  "operators.python_bytes_returned", "sinks.wall_s", "sinks.jobs",
                  "sinks.executor_cpu_s", "sinks.files_written", "sinks.bytes_written",
                  "sinks.commit_s", "streaming.ledger_s"]
        names += [f"pipeline.{j}.wall_s" for j in JOBS]
        out = {n: med(n) for n in names}
        out["session.wall_s"] = self.session_s
        b = [r for r in traced if r["batches"]]
        pct = lambda key: median([x for r in b for x in r[key]])
        out["streaming.batches"] = median([r["batches"] for r in traced])
        out["streaming.jobs_per_batch"] = median([r["jobs"] / r["batches"] for r in b]) if b else 0.0
        out["streaming.batch_ms_p50"] = pct("batch_ms")
        out["streaming.add_batch_ms_p50"] = pct("addBatch_ms")
        out["streaming.latest_offset_ms_p50"] = pct("latestOffset_ms")
        out["streaming.commit_ms_p50"] = pct("commitOffsets_ms")
        for c in ("jobs", "stages", "tasks", "tasks_failed", "gc_s", "spill_bytes"):
            out[f"pipeline.{c}"] = median([r[c] for r in traced])
        untraced_s = median([r["wall_s"] for r in warm])
        out["tracing.overhead_share"] = (median([r["wall_s"] for r in traced]) / untraced_s - 1
                                         if untraced_s else 0.0)
        out["tracing.spans"] = median([len(r["spans"]) for r in traced])
        out["tracing.unattributed_jobs"] = median([r["unattributed_jobs"] for r in traced])
        return out

    def record_rss(self) -> None:
        """Peak RSS of the session's JVM and this Python process so far."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.rss_jvm_mb = vm_hwm_kb(jvm) / 1024
        self.rss_python_mb = vm_hwm_kb("self") / 1024
        self.peak_rss_mb = self.rss_jvm_mb + self.rss_python_mb

    def teardown(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        gw = self.spark.sparkContext._gateway
        proc = gw.proc
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    for need in ("lakehouse_ingestion_spark", "schemas_registry"):
        if not os.path.isdir(os.path.join(root, need)):
            log(f"[perfbench] {need}/ not found in {root}: run from the root of a checkout")
            return 2
    sys.path.insert(0, root)
    b = Bench(args, root)
    try:
        b.generate()
        # the generator's memory must not count toward the peak RSS
        gc.collect()
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        b.setup()
        try:
            b.measure()
        finally:
            b.teardown()
        res = b.results()
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    attempted = len(b.runs)
    failed = sum(1 for r in b.runs if not r["ok"])
    tracing_ok = True
    if args.trace:
        counts = res["extra"]["jobs_per_run"]
        tracing_ok = len(counts) == 1
        log(f"[perfbench] Spark jobs per run (cold, warm, traced): {counts} "
            f"-> {'unchanged by tracing' if tracing_ok else 'TRACING CHANGED THE WORK'}")
    report(args, b, res)
    metrics = (res["layers"] if args.trace else {k: v for k, (v, _) in res["e2e"].items()})
    units = ({k: u for k, (_, u) in res["e2e"].items()} if not args.trace else
             {k: layer_unit(k) for k in metrics})
    out = {
        "correct": failed == 0 and tracing_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if "_ms_" in last:
        return "ms"
    if "bytes" in last:
        return "bytes"
    if last in ("scan_amplification", "overhead_share", "jobs_per_batch"):
        return "ratio"
    return "count"


def report(args, b: Bench, res: dict) -> None:
    wl = b.wl
    log(f"\n== perfbench {args.workload} seed={args.seed} trace={args.trace} ==")
    log(f"why: {wl.why}")
    log(f"input: {wl.input_rows} rows, {b.input_bytes} bytes; properties: {json.dumps(wl.props)}")
    log(f"predictions (layer -> end-to-end metrics it should move): {json.dumps(wl.predictions)}")
    for k, (v, u) in res["e2e"].items():
        log(f"  {k:22s} {v:14.4f} {u}")
    x = res["extra"]
    log(f"  {'failed_share':22s} {x['failed_share']:14.4f} share of {len(b.runs)} runs")
    if x["batch_ms_samples"]:
        log(f"  {'batch_ms_p50':22s} {x['batch_ms_p50']:14.1f} ms over {x['batch_ms_samples']} batches")
        p75 = "not reported" if x["batch_ms_p75"] is None else f"{x['batch_ms_p75']:.1f} ms"
        log(f"  {'batch_ms_p75':22s} {p75} ({x['batch_ms_beyond_p75']} batches beyond it; 10 needed)")
    log(f"  warm runs: {x['warm_runs']} ({x['measured_runs']} measured), "
        f"Spark jobs per run: {x['jobs_per_run']}")
    for k, v in res["layers"].items():
        log(f"  {k:44s} {v:14.4f} {layer_unit(k)}")
    os.makedirs(os.path.join(b.root, ".perfbench_out"), exist_ok=True)
    path = os.path.join(b.root, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "why": wl.why, "input_rows": wl.input_rows,
            "input_bytes": b.input_bytes, "props": wl.props, "predictions": wl.predictions,
            "generate_s": b.gen_s, "cores": b.cores,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()},
            "extra": x, "per_layer": res["layers"], "runs": b.runs,
        }, fh, indent=1, default=str)
    log(f"record: {path}")


if __name__ == "__main__":
    sys.exit(main())
