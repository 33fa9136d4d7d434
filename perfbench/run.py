#!/usr/bin/env python3
"""Layered benchmark of the engine at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--quick]

Run from the repository root. Workloads (see WORKLOADS below):

- ``driver_loops`` driver-side fixpoint loops and a micro-batch stream;
- ``wells_serve``  refresh (serve_wells_full -> export_json + upsert_parquet)
                   alternating with open-loop HTTP windows on the export.

Both workloads are closed loops with one client (the serving windows aside).
A cold pass in a fresh session collects every result to the driver, and each
result is checked against its DuckDB oracle digest outside the timer. Then
``--seconds`` worth of warm iterations force every query through the ``noop``
sink (or the sinks, on wells_serve). After every query, outside the timer,
the benchmark records the storage the query left behind and frees it, so no
pass reads data cached by an earlier one. The seed only permutes the query
order in each warm pass and drives the request schedule; the cold pass keeps
the listed order and the inputs are fixed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm iterations and prints the per-layer metrics,
medians over the traced iterations, plus the tracing overhead against the
untraced ones. Spans go to ``.bench_work/trace/``. ``--quick`` runs the
small inputs with one warm iteration (three when traced). The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

T_MAIN = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "oil_wells_data_wrangling_spark"

WATCHDOG_S = 170
# wells_serve traffic. At 40 req/s the server process is about a third busy
# on a 4-core host (1.4 CPU-s per 160 requests of this mix), well under its
# capacity; full reads, the slowest route, have a p50 near 45 ms.
SERVE_RATE_RPS = 40.0
SERVE_WINDOW_S = 2.0
SERVE_LIMIT_MS = 250.0


DATA, QUICK_DATA = "sf0.01", "sf0.001"  # shipped inputs under data/


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    nominal_s: float  # one warm iteration on a 4-core host
    serve: bool = False


WORKLOADS = {
    "driver_loops": Workload(("domain_pagerank", "kmeans_iterate", "neardup_incremental"), 8.0),
    "wells_serve": Workload(("serve_wells_full",), 4.5, serve=True),
}


def process_age_s() -> float:
    """Seconds since this process was created (Linux /proc clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = T_MAIN - process_age_s()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, as
    (percentile, value); None below eleven samples."""
    s = sorted(xs)
    if len(s) <= 10:
        return None
    k = len(s) - 11
    return 100.0 * (k + 1) / len(s), s[k]


def tail_note(what: str, xs: list[float]) -> str:
    t = tail(xs)
    if t is None:
        return f"{what} latency tail: n/a, {len(xs)} samples (fewer than 11)"
    return f"{what} latency tail p{t[0]:.1f} = {t[1]:.3f} ms over {len(xs)} samples"


# ------------------------------------------------------------------ the run

class Run:
    def __init__(self, args, wl: Workload):
        self.args, self.wl = args, wl
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.checked = False
        self.report: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.held_mb = 0.0
        self.layer_passes: list[dict] = []  # per traced pass: layer totals
        self.samples: dict[str, list[float]] = {}  # query -> [cold, warm...]

    # -- session -------------------------------------------------------
    def start_session(self) -> None:
        from layers import StreamProgress, Tracer

        from oil_wells_data_wrangling_spark.plans.registry import all_queries
        from oil_wells_data_wrangling_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.gateway_proc = self.sc._gateway.proc
        self.fns = {q: all_queries()[q] for q in self.wl.queries}
        self.tracer = Tracer()
        self.listener = None
        if self.args.trace:
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)

    def stop_session(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
        self.spark.stop()
        gw = self.sc._gateway
        gw.shutdown()
        self.gateway_proc.stdin.close()  # the JVM exits on stdin EOF
        self.gateway_proc.wait(timeout=60)

    def order(self) -> list[str]:
        return self.rng.sample(self.wl.queries, len(self.wl.queries))

    def after_query(self) -> tuple[int, float]:
        """Record what the query left in storage, then free it (untimed)."""
        from layers import free_storage, storage_left

        rdds, mb = storage_left(self.sc)
        self.held_mb = max(self.held_mb, mb)
        free_storage(self.spark)
        return rdds, mb

    # -- one query, untraced or traced ----------------------------------
    def run_query(self, q: str, sink) -> float:
        """Construct and execute ``q`` into ``sink``; seconds, or None on error."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            sink(self.fns[q](self.spark, self.data_dir))
            return time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.notes.append(f"query {q} failed: {traceback.format_exc(limit=3)}")
            return None

    def traced_query(self, q: str, qid: str, sinks: list[tuple[str, callable]]) -> dict:
        """One query with a span per layer call; returns its layer record."""
        from layers import job_ids, job_stats, plan_stats

        sc, tr = self.sc, self.tracer
        rec = {"query": q}
        started = self.listener.started
        self.listener.current = q
        self.attempted += 1
        t_start = time.perf_counter()
        try:
            with tr.span("query", q, qid) as top:
                with tr.span("registry", "construct", qid, top["id"]):
                    sc.setJobGroup(f"{qid}:construct", q)
                    t0 = time.perf_counter()
                    df = self.fns[q](self.spark, self.data_dir)
                    rec["construct_s"] = time.perf_counter() - t0
                with tr.span("plan", "executedPlan", qid, top["id"]):
                    rec["plan_s"], rec["scan_count"] = plan_stats(df)
                rec["exec_s"] = 0.0
                for phase, sink in sinks:
                    with tr.span(phase.split(".")[0], phase, qid, top["id"]):
                        sc.setJobGroup(f"{qid}:{phase}", q)
                        t0 = time.perf_counter()
                        sink(df)
                        rec[f"{phase}_s"] = time.perf_counter() - t0
                        rec["exec_s"] += rec[f"{phase}_s"]
                sc._jsc.clearJobGroup()
                rec["latency_s"] = time.perf_counter() - t_start
        except Exception:
            sc._jsc.clearJobGroup()
            self.after_query()
            self.failed += 1
            self.notes.append(f"query {q} failed: {traceback.format_exc(limit=3)}")
            return None
        if self.listener.started != started:
            self.listener.settle()
        rec["stream"] = self.listener.take(q)
        groups = [f"{qid}:construct"] + [f"{qid}:{p}" for p, _ in sinks]
        rec["construct_jobs"] = len(job_ids(sc, groups[0]))
        rec["exec"] = job_stats(sc, groups)
        with tr.span("cache", "storage_left", qid):
            rec["rdds_left"], rec["mb_left"] = self.after_query()
        return rec

    def bind_tables_s(self) -> float:
        """One ``load_tables(...).<table>`` binding (schema inference)."""
        from oil_wells_data_wrangling_spark.sources.readers import load_tables

        with self.tracer.span("readers", "bind lineitem", "readers"):
            t0 = time.perf_counter()
            load_tables(self.spark, self.data_dir).lineitem
            return time.perf_counter() - t0

    # -- batch workloads ------------------------------------------------
    def cold_pass(self) -> float:
        """First pass in the fresh session: collect each result (timed),
        then check it against the oracle digest (untimed)."""
        from oracle import digest

        total = 0.0
        results = {}
        for q in self.wl.queries:  # fixed order: the pass that pays JIT warm-up
            box = {}
            dt = self.run_query(q, lambda df: box.setdefault("pdf", df.toPandas()))
            self.after_query()
            if dt is None:
                continue
            self.samples[q] = [dt]
            total += dt
            results[q] = digest(box["pdf"])
        for q, got in results.items():
            self.attempted += 1
            if got != self.expected[q]:
                self.failed += 1
                self.notes.append(f"check {q}: got {got}, oracle {self.expected[q]}")
        self.checked = True
        return total

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def iterations(self) -> int:
        """Warm iterations in this run: as many nominal iterations as fit in
        --seconds (one with --quick). The count is fixed rather than timed,
        so every run stops at the same point of the JVM's warm-up curve.
        Traced runs alternate untraced and traced iterations, U T U ..., and
        end on an untraced one, so every traced iteration has an untraced
        neighbour on each side."""
        n = 1 if self.args.quick else max(1, round(self.args.seconds / self.wl.nominal_s))
        if self.args.trace:
            n = max(3, n + 1 - n % 2)
        return n

    def traced_turn(self, i: int) -> bool:
        return bool(self.args.trace) and i % 2 == 1

    def warm_passes(self) -> dict:
        seq: list[tuple[bool, float]] = []
        latencies: list[float] = []
        for i in range(self.iterations()):
            if self.traced_turn(i):
                seq.append((True, self.traced_pass(i)))
                continue
            pass_total = 0.0
            for q in self.order():
                dt = self.run_query(q, self.noop)
                self.after_query()
                if dt is not None:
                    pass_total += dt
                    latencies.append(dt)
                    self.samples[q].append(dt)
            seq.append((False, pass_total))
        return {"seq": seq, "latencies": latencies}

    def traced_pass(self, i: int) -> float:
        recs = []
        for q in self.order():
            rec = self.traced_query(q, f"p{i}.{q}", [("exec.noop", self.noop)])
            if rec is not None:
                recs.append(rec)
        self.layer_passes.append(self.layer_totals(recs))
        return sum(r["latency_s"] for r in recs)

    def layer_totals(self, recs: list[dict]) -> dict:
        ex = {k: sum(r["exec"][k] for r in recs) for k in recs[0]["exec"]} if recs else {}
        st = {k: sum(r["stream"][k] for r in recs) for k in recs[0]["stream"]} if recs else {}
        out = {
            "registry.construct_s": sum(r["construct_s"] for r in recs),
            "registry.construct_jobs": sum(r["construct_jobs"] for r in recs),
            "readers.infer_jobs": ex.get("infer_jobs", 0),
            "readers.bind_s": self.bind_tables_s(),
            "plan.plan_s": sum(r["plan_s"] for r in recs),
            "plan.scan_count": sum(r["scan_count"] for r in recs),
            "exec.exec_s": sum(r["exec_s"] for r in recs),
            "cache.rdds_left": sum(r["rdds_left"] for r in recs),
            "cache.mb_left": sum(r["mb_left"] for r in recs),
        }
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            out[f"exec.{k}"] = ex.get(k, 0)
        out["stream.batches"] = st.get("batches", 0)
        out["stream.input_rows"] = st.get("input_rows", 0)
        for k in ("trigger_ms", "add_batch_ms", "query_planning_ms",
                  "wal_commit_ms", "commit_offsets_ms"):
            out[f"stream.{k}"] = st.get(k, 0)
        for r in recs:
            self.notes.append("layers " + json.dumps(
                {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()}))
        return out

    def batch(self) -> None:
        cold = self.cold_pass()
        warm = self.warm_passes()
        passes = [t for traced, t in warm["seq"] if not traced]
        best = sum(min(xs[1:]) for xs in self.samples.values() if len(xs) > 1)
        self.notes.append(tail_note("query", [1e3 * x for x in warm["latencies"]]))
        # goodput: queries completed per second at the median warm pass
        self.finish(cold, best, warm["seq"], [1e3 * t for t in passes],
                    len(self.wl.queries) / median(passes) if passes else 0.0)

    # -- wells_serve ------------------------------------------------------
    def start_server(self) -> None:
        self.export_dir = os.path.join(WORK, "serve", "export")
        self.table_dir = os.path.join(WORK, "serve", "wells_table")
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serving_load.py"), "server", self.export_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def wait_server(self) -> None:
        line = self.server.stdout.readline()
        if not line.strip().isdigit():
            raise RuntimeError("serving process did not start")
        self.port = int(line)

    def stop_server(self) -> None:
        if getattr(self, "server", None) is None:
            return
        try:
            self.server.stdin.close()
            self.server.wait(timeout=10)
        except Exception:
            self.server.kill()
            self.server.wait()

    def export(self, df) -> None:
        from oil_wells_data_wrangling_spark.sources.sinks import export_json

        export_json(df, self.export_dir, partition_col="formation")

    def upsert(self, df) -> None:
        from oil_wells_data_wrangling_spark.sources.sinks import upsert_parquet

        # Every refresh re-publishes the same batch, so each key ties and the
        # incoming row wins: doc_id serves as the version column without
        # adding an expression over the query's output.
        upsert_parquet(df, self.table_dir, keys=["doc_id"], version_col="doc_id")

    def refresh(self) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.fns["serve_wells_full"](self.spark, self.data_dir)
            self.export(df)
            self.upsert(df)
            return time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.notes.append(f"refresh failed: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.after_query()

    def traced_refresh(self, i: int) -> float:
        rec = self.traced_query("serve_wells_full", f"r{i}",
                                [("sinks.export", self.export), ("sinks.upsert", self.upsert)])
        if rec is None:
            return None
        totals = self.layer_totals([rec])
        totals["sinks.export_s"] = rec["sinks.export_s"]
        totals["sinks.upsert_s"] = rec["sinks.upsert_s"]
        totals["sinks.files_written"], totals["sinks.mb_written"] = self.written()
        self.layer_passes.append(totals)
        return rec["latency_s"]

    def written(self) -> tuple[int, float]:
        files, size = 0, 0
        for root in (self.export_dir, self.table_dir):
            for dirpath, _, names in os.walk(root):
                for n in names:
                    if n.startswith("part-"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return files, size / 1e6

    def check_serving_inputs(self) -> dict:
        """Collect the served query once and check it against its oracle; the
        verified rows give the expected count of every response."""
        import pyarrow.parquet as pq
        from oracle import digest

        pdf = self.fns["serve_wells_full"](self.spark, self.data_dir).toPandas()
        self.after_query()
        got = digest(pdf)
        self.attempted += 2
        if got != self.expected["serve_wells_full"]:
            self.failed += 1
            self.notes.append(f"check serve_wells_full: got {got}, "
                              f"oracle {self.expected['serve_wells_full']}")
        table = pq.read_table(self.table_dir, columns=["doc_id"]).column(0).to_pylist()
        if len(table) != len(pdf) or len(set(table)) != len(table):
            self.failed += 1
            self.notes.append(f"check upsert: {len(table)} rows for {len(pdf)} keys")
        self.checked = True
        views = pdf["formation"].dropna().value_counts()
        return {"full_rows": len(pdf), "views": {str(k): int(v) for k, v in views.items()},
                "doc_ids": sorted(int(x) for x in pdf["doc_id"])}

    def window(self, spec: dict, k: int) -> list[dict]:
        spec = dict(spec, port=self.port, seed=self.args.seed * 1000 + k,
                    duration_s=SERVE_WINDOW_S / (2 if self.args.quick else 1),
                    rate_rps=SERVE_RATE_RPS, conns=self.cpus)
        cpu0 = proc_cpu_s(self.server.pid)
        with self.tracer.span("serve", f"window {k}", f"w{k}"):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "serving_load.py"), "loadgen"],
                input=json.dumps(spec), capture_output=True, text=True, timeout=60, check=True)
        recs = json.loads(out.stdout)
        self.server_cpu_s += proc_cpu_s(self.server.pid) - cpu0
        self.window_s += max((r["done"] for r in recs), default=spec["duration_s"])
        for r in recs:
            self.attempted += 1
            if not r["ok"]:
                self.failed += 1
                if self.failed <= 5:
                    self.notes.append(f"request failed: {r}")
        return recs

    def serve(self) -> None:
        self.server_cpu_s = 0.0
        self.window_s = 0.0
        cold = self.refresh()
        spec = self.check_serving_inputs()
        seq: list[tuple[bool, float]] = []
        requests: list[dict] = []
        for i in range(self.iterations()):
            requests += self.window(spec, i)
            traced = self.traced_turn(i)
            dt = self.traced_refresh(i) if traced else self.refresh()
            if dt is not None:
                seq.append((traced, dt))
        lat = [1e3 * (r["done"] - r["due"]) for r in requests]
        good = sum(r["ok"] and lat_ms <= SERVE_LIMIT_MS for r, lat_ms in zip(requests, lat))
        by_route = {}
        for r, lat_ms in zip(requests, lat):
            by_route.setdefault(r["route"], []).append(lat_ms)
        extra = {
            "serve.requests": len(requests),
            "serve.resp_kb": median([r["bytes"] / 1e3 for r in requests]),
            "serve.view_ms": median(by_route.get("view", [])),
            "serve.full_ms": median(by_route.get("full", [])),
            "serve.filter_ms": median(by_route.get("filter", [])),
            "serve.server_cpu_s": self.server_cpu_s,
            "serve.gen_late_ms": median([1e3 * (r["sent"] - r["due"]) for r in requests]),
        }
        self.serve_extra = extra
        self.notes.append(f"serving: limit {SERVE_LIMIT_MS} ms, rate {SERVE_RATE_RPS}/s, "
                          f"{self.cpus} connections, {self.window_s:.3f} s of windows")
        best = min((t for traced, t in seq if not traced), default=0.0)
        self.notes.append(tail_note("request", lat))
        self.finish(cold, best, seq, lat, good / self.window_s if self.window_s else 0.0)

    # -- results --------------------------------------------------------
    def finish(self, cold: float, best: float, seq: list, lat_ms: list[float],
               goodput: float) -> None:
        """Record the end-to-end figures. ``best`` is the warm pass with each
        query at its fastest warm execution (min-of-N per query, as the
        repository's bench.py reports), which filters bursts of interference
        from other tenants of a shared host. ``lat_ms`` holds the latencies of
        the unit of work a user waits for: a whole warm pass for the batch
        workload, a request for the serving one."""
        self.report.update({
            "cold_pass_s": (cold or 0.0, "s"),
            "pass_s": (best, "s"),
            "latency_p50_ms": (median(lat_ms), "ms"),
            "goodput_per_s": (goodput, "1/s"),
            "held_mb": (self.held_mb, "MB"),
        })
        for q, xs in self.samples.items():
            self.notes.append(f"query {q} cold_s {xs[0]:.4f} warm_s "
                              + json.dumps([round(x, 4) for x in xs[1:]]))
        self.notes.append("warm iterations (traced, s) " + json.dumps(
            [(traced, round(t, 4)) for traced, t in seq]))
        # Tracing overhead: each traced iteration against the mean of the
        # untraced iterations on either side of it.
        ratios = [t / ((seq[k - 1][1] + seq[k + 1][1]) / 2) - 1.0
                  for k, (traced, t) in enumerate(seq)
                  if traced and 0 < k < len(seq) - 1]
        self.overhead_pct = 100.0 * median(ratios)


def watchdog(*_) -> None:
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def per_layer(run: Run, fallbacks: int, units: dict[str, str]) -> dict[str, tuple[float, str]]:
    """Medians over the traced iterations, plus the run-level layer figures.
    Units come from BENCHMARK.json, or from the name's suffix for figures
    only printed."""
    def unit(k: str) -> str:
        suffixes = {"_s": "s", "_ms": "ms", "_mb": "MB", "_kb": "kB", "_pct": "%"}
        return units.get(k) or next((u for suf, u in suffixes.items() if k.endswith(suf)),
                                    "count")

    passes = run.layer_passes
    values = {k: median([p.get(k, 0) for p in passes]) for k in sorted({k for p in passes for k in p})}
    values.update(getattr(run, "serve_extra", {}))
    values.update({"session.start_s": run.session_start_s, "plan.codegen_fallbacks": fallbacks,
                   "trace.overhead_pct": run.overhead_pct})
    return {k: (v, unit(k)) for k, v in values.items()}


def load_benchmark_names() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="small inputs, one warm iteration (smoke test)")
    ap.add_argument("--digests", default=None,
                    help="oracle digest file to check against (default: shipped)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ beside {os.path.basename(HERE)}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    e2e_spec, layer_spec = load_benchmark_names()

    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "serve", "trace", "logs"):
        if sub != "trace":
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    # Inputs and oracle digests are prepared once per checkout; their time is
    # kept out of setup_s.
    t_prep = time.perf_counter()
    from oracle import SHIPPED_DIGESTS, expected_digests, fingerprint

    data_name = QUICK_DATA if args.quick else DATA
    data_dir = os.path.join(HERE, "data", data_name)
    data_key = f"{data_name}-{fingerprint(data_dir)}"
    expected = expected_digests(data_key, data_dir, list(wl.queries), WORK,
                                args.digests or SHIPPED_DIGESTS)
    prep_s = time.perf_counter() - t_prep

    # The JVM inherits fd 2: its log goes to a file, scanned for codegen
    # fallbacks once the session is gone.
    log_path = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    run = Run(args, wl)
    run.cpus, run.data_dir, run.expected = cpus, data_dir, expected
    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)
    ok = False
    try:
        if wl.serve:
            run.start_server()
        run.start_session()
        if wl.serve:
            run.wait_server()
        setup_s = time.perf_counter() - PROCESS_START - prep_s
        run.serve() if wl.serve else run.batch()
        ok = True
    except Exception:
        traceback.print_exc()
    finally:
        signal.alarm(0)
        try:
            if hasattr(run, "spark"):
                run.stop_session()
        except Exception:
            traceback.print_exc()
        run.stop_server()
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    with open(log_path, errors="replace") as f:
        log = f.read()
    if not ok:
        sys.stderr.write(log[-20000:])
        return 1
    fallbacks = log.count("ERROR CodeGenerator")

    run.report["setup_s"] = (setup_s, "s")
    run.report["plan.codegen_fallbacks"] = (fallbacks, "count")
    failed_ratio = run.failed / run.attempted
    layers = per_layer(run, fallbacks, {m["name"]: m["unit"] for m in layer_spec}) if args.trace else {}
    run.tracer.write(os.path.join(
        WORK, "trace", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))

    print(f"workload {args.workload} seed {args.seed} data {data_name} cpus {cpus} "
          f"queries {','.join(wl.queries)} wall_s {time.perf_counter() - PROCESS_START:.1f}")
    for line in run.notes:
        print("note", line)
    print(f"metric failed_ratio {failed_ratio:.6f} ratio ({run.failed}/{run.attempted})")
    wanted = layer_spec if args.trace else e2e_spec
    table = {**run.report, **layers}
    for m in wanted:  # a layer the workload bypasses did no work: it reads 0
        table.setdefault(m["name"], (0, m["unit"]))
    for k, (v, u) in sorted(table.items()):
        print(f"metric {k} {v!r} {u}")
    metrics = {m["name"]: {"value": table[m["name"]][0], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": run.checked and run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
