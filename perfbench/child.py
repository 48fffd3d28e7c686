"""One measured benchmark run, in its own process (started by run.py).

Order of work:

1. import the query registry (timed) and check the workload's names;
2. set up once: ``get_spark``, which launches the driver JVM, plus one
   warm-up query;
3. the first pass in this fresh JVM, ``Workload.settle_passes`` untimed
   passes, then ``Workload.warm_passes`` warm passes (the count, not
   the time, is fixed, because passes keep getting faster as the JIT
   warms and a time window would sample a different point of that
   curve on a slower host); every query runs
   build + noop write inside its own ``CacheScope``, released after it,
   in an order shuffled per pass from ``--seed``; every time is
   reported at the reference host speed of :mod:`hostspeed`, whose
   probe process runs for the whole child;
4. outside the timed passes, the DataFrame each query returned in the
   last pass is executed again and compared with the query's DuckDB
   oracle (the rule of ``tests/oracle.py:compare``); a query of
   ``Workload.small_checks`` is instead built afresh on the sf0.01
   tables of the same seed; an empty output fails the check, since it
   would compare nothing;
5. with ``--trace 1``, the Spark event log and the benchmark's spans are
   folded into per-layer metrics.

The result goes to ``--out`` as JSON; run.py prints the final line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from eventlog import FIELDS, Phase, by_phase, phase_of, read_jobs  # noqa: E402
from hostspeed import HostProbe  # noqa: E402
from quantile import harrell_davis  # noqa: E402
from tracing import Tracer, innermost, self_times  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

PACKAGE = "ccgp_data_wrangling_spark"
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"

# the operator modules the workloads reach; each gets calls, self_s and jobs
OPERATOR_MODULES = ("fuzzy", "spandedup", "merge")
PIPELINE_MODULES = ("curation", "metadata_ingest", "reads_sync", "refresh", "resolution", "sheets", "summary")
SOURCE_MODULES = (
    "doc", "docx", "epub", "html", "ingest", "jsonl", "odp", "ods", "odt", "pdf",
    "pdf_crypt", "pptx", "rtf", "sinks", "warc", "webdataset", "xls", "xlsx",
)
TRACED_LAYERS = {
    **{f"{PACKAGE}.operators.{m}": f"operators.{m}" for m in OPERATOR_MODULES},
    **{f"{PACKAGE}.pipelines.{m}": f"pipelines.{m}" for m in PIPELINE_MODULES},
    f"{PACKAGE}.streaming.incremental": "streaming.incremental",
    **{f"{PACKAGE}.sources.{m}": f"sources.{m}" for m in SOURCE_MODULES},
}
# spark.<field> totals also reported split into spark.build.* / spark.exec.*
# (output is not split: the exec phase is a noop write, so all of it is build)
SPLIT_FIELDS = ("stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
                "shuffle_write_mb", "input_mb")
_UNITS = {"_s": "s", "_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def unit_of(field: str) -> str:
    return next((u for suffix, u in _UNITS.items() if field.endswith(suffix)), "count")


def disk_bytes(*dirs: str) -> int:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.lstat(os.path.join(base, f)).st_size
                except FileNotFoundError:
                    pass
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def session_conf(tmp: str, eventlog: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        # the whole heap from the start and a fixed young generation: the
        # heap's growth then follows the allocations, not G1's timing
        # heuristics, and the peak resident set repeats from run to run
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(eventlog).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


class Runner:
    """Runs registered queries the way a user waits for them."""

    def __init__(self, spark, qs, data: str, tracer: Tracer | None):
        from ccgp_data_wrangling_spark.caching import CacheScope, use_scope

        self._scope_cls, self._use_scope = CacheScope, use_scope
        self.spark, self.qs, self.data, self.tracer = spark, qs, data, tracer
        self.failed = 0
        self.last_df: dict = {}  # name -> DataFrame of its latest successful run
        self.persisted: dict[str, int] = {}
        self.release_s: dict[str, float] = {}

    def _phase(self, qid: str, phase: str, layer_name: str):
        self.spark.sparkContext.setJobGroup(f"{qid}|{phase}", layer_name)
        return self.tracer.span(layer_name, f"queries.{phase}")

    def run(self, name: str, qid: str) -> float:
        """Build and execute one query; return its latency in seconds."""
        scope = self._scope_cls()
        t0 = time.perf_counter()
        try:
            with self._use_scope(scope):
                if self.tracer is None:
                    df = self.qs[name](self.spark, self.data)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self.tracer.qexec = qid
                    with self._phase(qid, "build", f"queries.{name}"):
                        df = self.qs[name](self.spark, self.data)
                    with self._phase(qid, "exec", f"queries.{name}"):
                        df.write.format("noop").mode("overwrite").save()
            self.last_df[name] = df
        except Exception:  # a failed query is counted, the run goes on
            self.failed += 1
            log(f"{name} failed")
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        self.persisted[qid] = len(scope._dfs)  # entries the scope owns at release
        t1 = time.perf_counter()
        scope.release()
        self.release_s[qid] = time.perf_counter() - t1
        if self.tracer is not None:
            self.tracer.qexec = None
            self.spark.sparkContext.setJobGroup("between-queries", "")
        return latency


def check_outputs(runner: Runner, wl, data: str, small_data: str) -> tuple[list[str], dict[str, int]]:
    """Compare each query's output with its DuckDB oracle.

    Re-executes the plans the last pass built (not new builds), except
    for ``wl.small_checks``, which are built afresh on ``small_data``.
    Returns the failures and the row count of every output that matched.
    """
    from ccgp_data_wrangling_spark.caching import CacheScope, use_scope
    from ccgp_data_wrangling_spark.queries import all_oracles
    from tests.oracle import compare, duck_connection

    oracles = all_oracles()
    bad, rows = [], {}
    for name in wl.queries:
        if name not in runner.last_df:
            bad.append(f"{name}: no successful run to check")
            continue
        small = name in wl.small_checks
        con = duck_connection(small_data if small else data)
        try:
            if small:
                with CacheScope() as scope, use_scope(scope):
                    compare(runner.qs[name](runner.spark, small_data), con, oracles[name])
            else:
                compare(runner.last_df[name], con, oracles[name])
            sql = oracles[name].strip().rstrip(";")
            rows[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception as exc:  # a mismatch or a crash is a failed check
            bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        finally:
            con.close()
        if rows[name] == 0:
            bad.append(f"{name}: empty output, nothing was compared")
    return bad, rows


def layer_metrics(tracer: Tracer, runner: Runner, eventlog: str, warm: list[str],
                  pass_walls: list[float], cores: int) -> tuple[dict, dict]:
    """Per-layer metrics per warm pass, and the per-query detail record."""
    n = len(pass_walls)
    warm_set = set(warm)
    spans = [s for s in tracer.spans if s.qexec in warm_set]
    own = self_times(spans)
    phase_spans = [s for s in spans if s.layer in ("queries.build", "queries.exec")]
    phases = [Phase(f"{s.qexec}|{s.layer.removeprefix('queries.')}", s.start * 1e3, s.end * 1e3)
              for s in phase_spans]
    jobs = []
    for f in sorted(Path(eventlog).iterdir()):
        with open(f) as fh:
            jobs.extend(read_jobs(fh))
    keys = {p.key for p in phases}
    per_phase = by_phase(jobs, phases)

    out: dict[str, tuple[float, str]] = {}

    def put(name: str, total: float, unit: str, per_pass: bool = True) -> None:
        out[name] = (total / n if per_pass else total, unit)

    build = {f: sum(v[f] for k, v in per_phase.items() if k.endswith("|build")) for f in FIELDS}
    execs = {f: sum(v[f] for k, v in per_phase.items() if k.endswith("|exec")) for f in FIELDS}
    put("queries.build_s", sum(s.end - s.start for s in phase_spans if s.layer == "queries.build"), "s")
    put("queries.exec_s", sum(s.end - s.start for s in phase_spans if s.layer == "queries.exec"), "s")
    put("queries.build_jobs", build["jobs"], "count")
    put("queries.exec_jobs", execs["jobs"], "count")
    put("caching.persisted_dfs", sum(runner.persisted[q] for q in warm), "count")
    put("caching.release_s", sum(runner.release_s[q] for q in warm), "s")
    for f in FIELDS:
        # spill and task failures read 0 at the benchmark's scales (a failed
        # task fails its query, which counts in `failed`); the per-query
        # record keeps them
        if f in ("jobs", "spill_mb", "task_failures") or f.startswith("py_"):
            continue
        put(f"spark.{f}", build[f] + execs[f], unit_of(f))
    for f in SPLIT_FIELDS:
        put(f"spark.build.{f}", build[f], unit_of(f))
        put(f"spark.exec.{f}", execs[f], unit_of(f))
    put("spark.core_busy", (build["task_run_s"] + execs["task_run_s"]) / (sum(pass_walls) * cores),
        "ratio", per_pass=False)
    for f, name in (("py_sent_mb", "bytes_sent_mb"), ("py_received_mb", "bytes_received_mb"),
                    ("py_rows_received", "rows_received"), ("py_run_s", "run_s")):
        put(f"python_worker.{name}", build[f] + execs[f], unit_of(name))

    # operator / pipeline / source spans: calls into the layer, self time,
    # and the jobs whose innermost span is theirs
    by_id = {s.sid: s for s in spans}
    layer_jobs: dict[str, int] = {}
    layer_out_mb: dict[str, float] = {}
    for job in jobs:
        if phase_of(job, phases, keys) is None:
            continue
        s = innermost(spans, job.submit_ms / 1e3)
        if s is not None:
            layer_jobs[s.layer] = layer_jobs.get(s.layer, 0) + 1
            layer_out_mb[s.layer] = layer_out_mb.get(s.layer, 0.0) + job.m["output_mb"]

    def calls(prefix: str) -> int:
        return sum(1 for s in spans if s.layer.startswith(prefix)
                   and not (s.parent in by_id and by_id[s.parent].layer.startswith(prefix)))

    def self_s(prefix: str) -> float:
        return sum(own[s.sid] for s in spans if s.layer.startswith(prefix))

    for m in OPERATOR_MODULES:
        layer = f"operators.{m}"
        put(f"{layer}.calls", calls(layer), "count")
        put(f"{layer}.self_s", self_s(layer), "s")
        put(f"{layer}.jobs", layer_jobs.get(layer, 0), "count")
    merge_q = {s.qexec for s in spans if s.layer == "operators.merge"}
    read_back = sum(v["input_mb"] for k, v in per_phase.items()
                    if k.endswith("|exec") and k.split("|")[0] in merge_q)
    put("operators.merge.write_amp",
        layer_out_mb.get("operators.merge", 0.0) / read_back if read_back else 0.0,
        "ratio", per_pass=False)
    for layer in ("pipelines.", "streaming.incremental", "sources."):
        put(f"{layer.rstrip('.')}.calls", calls(layer), "count")
        put(f"{layer.rstrip('.')}.self_s", self_s(layer), "s")
    put("trace.span_cover", sum(s.end - s.start for s in phase_spans) / sum(pass_walls),
        "ratio", per_pass=False)

    # per query, per warm pass: build/exec time and Spark metrics, and
    # the self time of every layer it reached
    detail: dict[str, dict] = {}
    query_of: dict[str, str] = {}
    for s in phase_spans:
        name = query_of[s.qexec] = s.name.removeprefix("queries.")
        phase = s.layer.removeprefix("queries.")
        d = detail.setdefault(name, {"build": dict.fromkeys(FIELDS, 0.0), "exec": dict.fromkeys(FIELDS, 0.0),
                                     "build_s": 0.0, "exec_s": 0.0, "layers_self_s": {}})
        d[f"{phase}_s"] += (s.end - s.start) / n
        for f, v in per_phase[f"{s.qexec}|{phase}"].items():
            d[phase][f] += v / n
    for s in spans:
        if not s.layer.startswith("queries.") and s.qexec in query_of:
            ls = detail[query_of[s.qexec]]["layers_self_s"]
            ls[s.layer] = ls.get(s.layer, 0.0) + own[s.sid] / n
    return out, detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--small-data", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    # Spark gets half the CPUs this process may use (local[2] on 4 vCPUs);
    # the rest is left to the JIT compiler, GC and Python worker processes,
    # so that their bursts do not stall Spark's task threads
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers are started by the JVM, which inherits this
    # environment: put the package on their path whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    with HostProbe(Path(args.out).parent / "hostspeed.txt") as probe:
        return measure(args, wl, cores, probe)


def measure(args, wl, cores: int, probe: HostProbe) -> int:
    t0 = time.perf_counter()
    from ccgp_data_wrangling_spark.queries import all_oracles, all_queries

    qs = all_queries()
    import_s = time.perf_counter() - t0
    oracles = all_oracles()
    unknown = [n for n in (*wl.queries, WARMUP_QUERY) if n not in qs]
    unchecked = [n for n in wl.queries if n in qs and n not in oracles]
    if unknown or unchecked:
        log(f"workload {wl.name} names queries missing from all_queries() {unknown} "
            f"or without an oracle {unchecked}")
        return 3

    tracer = None
    eventlog = None
    if args.trace:
        tracer = Tracer()
        tracer.install(TRACED_LAYERS, PACKAGE)
        eventlog = os.path.join(os.path.dirname(args.out), "eventlog")
        os.makedirs(eventlog, exist_ok=True)
    from ccgp_data_wrangling_spark.session import get_spark

    a = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(args.tmp, eventlog))
    get_spark_s = time.perf_counter() - a
    warm_runner = Runner(spark, qs, args.data, None)
    warmup_s = warm_runner.run(WARMUP_QUERY, "warmup")
    setup_end = time.perf_counter()
    setup_s = probe.scaled(import_s + get_spark_s + warmup_s, t0, setup_end)
    log(f"set-up: import {import_s:.2f} s, get_spark {get_spark_s:.2f} s, warm-up {warmup_s:.2f} s; "
        f"at reference speed {setup_s:.2f} s")
    if warm_runner.failed:
        log("warm-up query failed")
        return 4

    runner = Runner(spark, qs, args.data, tracer)
    rng = random.Random(args.seed)
    order = list(wl.queries)
    pass_walls: list[float] = []  # raw, for the traced record
    scaled_passes: list[float] = []  # at the reference host speed
    latencies: list[float] = []  # every warm query execution, scaled
    warm_qids: list[str] = []
    first_pass_s = 0.0
    warm_start = 0.0
    warm_from = 1 + wl.settle_passes
    for p in range(warm_from + wl.warm_passes):
        rng.shuffle(order)
        t = time.perf_counter()
        if p == warm_from:
            warm_start = t
        lat = []
        for name in order:
            q0 = time.perf_counter()
            raw = runner.run(name, f"p{p}.{name}")
            lat.append(probe.scaled(raw, q0, q0 + raw))
        end = time.perf_counter()
        wall, scaled = end - t, probe.scaled(end - t, t, end)
        log(f"pass {p}: {wall:.2f} s, at reference speed {scaled:.2f} s; "
            + ", ".join(f"{n} {x:.2f}" for n, x in zip(order, lat)))
        if p == 0:
            first_pass_s = scaled
        elif p >= warm_from:
            pass_walls.append(wall)
            scaled_passes.append(scaled)
            latencies.extend(lat)
            warm_qids.extend(f"p{p}.{name}" for name in order)
    warm_task_ms = probe.task_s(warm_start, end) * 1e3
    attempted = (warm_from + wl.warm_passes) * len(order)
    held_mb = disk_bytes(args.tmp, os.environ.get("SPARK_LOCAL_DIRS", args.tmp)) / (1024 * 1024)
    rss_mb = peak_rss_mb(spark)

    if tracer is not None:
        spark.sparkContext.setJobGroup("check", "")
    t = time.perf_counter()
    bad, rows = check_outputs(runner, wl, args.data, args.small_data)
    for line in bad:
        log(f"check failed: {line}")
    log(f"checked {len(wl.queries)} outputs in {time.perf_counter() - t:.2f} s, "
        f"{len(bad)} failed; rows {rows}")
    stop_jvm(spark)
    log("driver JVM stopped")

    # Harrell-Davis percentiles over every warm query execution (queries x
    # warm passes), pooled
    result = {
        "attempted": attempted + len(wl.queries),
        "failed": runner.failed + len(bad),
        "rows": rows,
        "e2e": {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (first_pass_s, "s"),
            "pass_s": (statistics.median(scaled_passes), "s"),
            "query_p50_s": (harrell_davis(latencies, 0.5), "s"),
            "query_p90_s": (harrell_davis(latencies, 0.9), "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        },
        # the same times as measured, before scaling to the reference speed
        "raw": {"setup_s": import_s + get_spark_s + warmup_s, "pass_s": pass_walls},
        "layers": {},
        "detail": {},
    }
    if tracer is not None:
        layers, detail = layer_metrics(tracer, runner, eventlog, warm_qids, pass_walls, cores)
        layers["trace.pass_s"] = (statistics.median(scaled_passes), "s")
        layers["host.probe_ms"] = (warm_task_ms, "ms")
        layers["session.import_s"] = (import_s, "s")
        layers["session.get_spark_s"] = (get_spark_s, "s")
        layers["session.warmup_s"] = (warmup_s, "s")
        layers["disk.held_mb"] = (held_mb, "MB")
        result["layers"], result["detail"] = layers, detail
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
