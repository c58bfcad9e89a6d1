"""The repository benchmark: one command, one client, one workload per run.

    python3 perfbench/run.py --workload meta_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the repository root. Every run is a fresh process and goes through
four steps:

1. set-up: session, first trivial action, entity load and materialization;
2. one cold pass over the workload's queries;
3. warm passes in a closed loop with one client, as many as fill about
   ``--seconds`` seconds, each pass in an order permuted by ``--seed``;
4. untimed verification of every query against its DuckDB oracle.

Each call is timed to full materialization through the noop sink. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the run also records spans, pin counters, streaming progress
and a local Spark event log, and the last line carries the per-layer
metrics instead. Earlier stdout lines record the box, the inputs and a
human-readable report. Workloads, metrics and the layer table are
described in perfbench/README.md.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DATA_ROOT = os.path.join(HERE, "data")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # dataset directory name under perfbench/data
    queries: tuple[str, ...]
    # about how long one warm pass takes on the 4-core reference box; a
    # run makes as many warm passes as fit in --seconds at that length,
    # at least one
    pass_s: float
    # False: the corpus pin budget is set below the sources and every
    # drain-memoizing gate (bench._DRAIN_MEMO_GATES) is evicted before
    # each call, so the working set does not fit the program's caches
    caches_fit: bool = True


# HDFS admin queries from operators/* and hftp with every pin resident:
# construction, planning and per-job scheduling dominate, and the corpus
# and streaming layers stay idle. The working set fits the caches. Of the
# 78 such queries these are the 9 with the largest warm time at sf0.1 in
# bench_detail.json (35% of the 78 queries' warm total there), plus the
# heaviest hftp query so that both modules are measured. The ninth is
# a1_content_summary (du); stopping there keeps a run near 60 s, inside
# the benchmark's run budget (perfbench/README.md).
META = Workload(
    name="meta_sf0.01",
    sf="sf0.01",
    queries=(
        "w5_balancer_block_cursor", "t5_block_report_upsert", "t24_lease_recovery",
        "m1_metasave", "j9_pread_scatter", "j11_read_locality",
        "j4b_balancer_rack_pairing", "j10_replication_targets", "a1_content_summary",
        "s5c_hftp_range_read",
    ),
    pass_s=5.5,
)

# The data plane: the LLM-corpus queries that scale worst, with the corpus
# pin budget set below the source sizes so every corpus_pin takes the
# recompute path, plus streaming gates re-drained on every call (WAL,
# offset and state-store commits; cost per micro-batch, not per row). The
# working set is larger than the caches. sf0.001 keeps one stateful drain
# inside the benchmark's run budget (perfbench/README.md).
CORPUS_STREAM = Workload(
    name="corpus_stream_sf0.001",
    sf="sf0.001",
    queries=(
        "d_ngram_jaccard", "t_shingle_kmv", "t23_lease_expiry_stream",
        "t14_stream_rates", "t19_stream_dedup",
    ),
    pass_s=10.5,
    caches_fit=False,
)

WORKLOADS = {w.name: w for w in (META, CORPUS_STREAM)}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}


def module_family(module: str) -> str:
    """Layer a registered query belongs to, by the module that registered it."""
    part = module.split(".")[1]
    return part if part in ("operators", "pipeline", "streaming", "hftp") else "other"


def count_exchanges(node) -> int:
    """Exchange operators in a physical plan: AQE's current plan (its input
    plan has no exchanges yet), those wrapped in query stages included, not
    descending into the plans of cached relations."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return count_exchanges(node.executedPlan())
    if name.endswith("QueryStage"):  # a leaf: the stage's plan is not a child
        return count_exchanges(node.plan())
    children = node.children()
    return int("Exchange" in name) + sum(
        count_exchanges(children.apply(i)) for i in range(children.size())
    )


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def proc_io(pid: int) -> dict[str, int]:
    with open(f"/proc/{pid}/io") as f:
        return {k: int(v) for k, v in (line.split(": ") for line in f)}


def content_fingerprint(sf_dir: str) -> str:
    """Hash of the source files' names and bytes: the same data gives the
    same fingerprint in every checkout, whatever the files' mtimes."""
    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def source_sizes(sf_dir: str) -> dict[str, int]:
    return {
        n[: -len(".parquet")]: os.path.getsize(os.path.join(sf_dir, n))
        for n in sorted(os.listdir(sf_dir))
        if n.endswith(".parquet")
    }


class Run:
    def __init__(self, args, wl: Workload) -> None:
        self.args = args
        self.wl = wl
        self.sf_dir = args.sf_dir or os.path.join(DATA_ROOT, wl.sf)
        self.trace = bool(args.trace)
        self.run_id = f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        self.out_dir = os.path.join(WORK, "out")
        self.event_dir = os.path.join(WORK, "eventlog", self.run_id)
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.calls: dict[str, int] = {}
        self.windows: dict[str, tuple[float, float]] = {}
        # per traced call: construct, plan, execute, wall, exchanges, memo hit
        self.phases: dict[str, tuple[float, float, float, float, int, bool]] = {}
        self.progress: list[dict] = []
        self.context: dict = {}

    # -- environment -----------------------------------------------------

    def configure_env(self) -> None:
        for d in ("tmp", "spark-local", "out"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        cpus = nproc()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_SF_DIR"] = self.sf_dir
        os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        conf = [
            f"spark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress=false",
        ]
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file:{self.event_dir}",
                "spark.eventLog.compress=false",
            ]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
        sizes = source_sizes(self.sf_dir)
        if not self.wl.caches_fit:
            budget = min(sizes["documents"], sizes["embeddings"]) // 2
            os.environ["SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES"] = str(budget)
        from hadoop_hdfs_spark.registry import _corpus_pin_budget

        self.context.update(
            workload=self.wl.name,
            seed=self.args.seed,
            seconds=self.args.seconds,
            trace=self.args.trace,
            nproc=cpus,
            spark_graft_cpus=cpus,
            sf_dir=self.sf_dir,
            dataset_fingerprint=content_fingerprint(self.sf_dir),
            source_bytes=sizes,
            corpus_pin_budget_bytes=_corpus_pin_budget(),
        )

    # -- steps -------------------------------------------------------------

    def setup(self) -> None:
        import pyspark
        from hadoop_hdfs_spark import registry
        from hadoop_hdfs_spark.session import get_spark

        from tracing import PinCounters, Tracer, WritePlans

        # Build step, not set-up: bench.py builds the deterministic
        # media/blob fixtures for this scale factor at import (once per
        # box) and points SPARK_GRAFT_{BLOB,GIF,PNG,WAV}_DIR at them.
        t_build = time.perf_counter()
        import bench

        self.build_s = time.perf_counter() - t_build
        self.bench = bench
        self.registry = registry
        self.context["pyspark"] = pyspark.__version__
        self.tracer = Tracer(self.run_id) if self.trace else None
        setup_span = self._open("setup")
        if self.trace:
            self.pins = PinCounters(registry, self.tracer)
            self.pins.install()
        s = self._open("session.start")
        spark = get_spark(f"perfbench-{self.wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        self.session_start_s = self._close(s)
        self.spark = spark
        if self.trace:
            self.writes = WritePlans(spark, count_exchanges)
        s = self._open("entities.load")
        ents = registry._entities(spark, self.sf_dir)
        self.entities_load_s = self._close(s)
        from pyspark.sql import DataFrame

        s = self._open("entities.materialize")
        self.entity_rows = sum(
            df.count() for df in ents.values() if isinstance(df, DataFrame) and df.is_cached
        )
        self.entities_materialize_s = self._close(s)
        # importing the operator modules is set-up too: users pay it once
        # per process, and work moved into it must show in setup_s
        s = self._open("registry.import")
        self.qs = registry.queries()
        self.registry_import_s = self._close(s)
        self._close(setup_span)
        # fresh process to ready to serve, minus the build step
        self.setup_s = time.perf_counter() - _T_PROCESS - self.build_s
        self.family = {
            n: module_family(registry._REGISTRY[n].fn.__module__) for n in self.wl.queries
        }
        missing = [n for n in self.wl.queries if n not in self.qs]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        if self.trace:
            from tracing import make_stream_listener

            spark.streams.addListener(make_stream_listener(self.progress))

    def _open(self, name: str, **attrs):
        return self.tracer.open(name, **attrs) if self.tracer else time.perf_counter()

    def _close(self, handle) -> float:
        return self.tracer.close(handle) if self.tracer else time.perf_counter() - handle

    def one_pass(self, label: str, order: list[str], traced) -> tuple[dict, dict]:
        """One pass over ``order``: (untraced, traced) call seconds per query.
        ``traced`` is False, True or "paired". A paired pass calls every
        query untraced (label ``label``) and traced (``label`` + "t") back
        to back, untraced first at even positions of the order and traced
        first at odd ones, so both calls meet the same point of the JVM's
        warm-up."""
        plain: dict[str, float] = {}
        timed: dict[str, float] = {}
        span = self._open("pass", label=label)
        for i, name in enumerate(order):
            if traced == "paired":
                calls = [(label, False), (label + "t", True)][:: 1 if i % 2 == 0 else -1]
            else:
                calls = [(label, bool(traced))]
            for call_label, call_traced in calls:
                if name in self.errors:
                    break
                t = self._call(call_label, name, call_traced)
                if t is not None:
                    (timed if call_traced else plain)[name] = t
        self._close(span)
        return plain, timed

    def _call(self, label: str, name: str, traced: bool) -> float | None:
        """One call of query ``name``; None if it raised."""
        if not self.wl.caches_fit and name in self.bench._DRAIN_MEMO_GATES:
            self.bench._evict_result_memo(name)
        tag = f"{self.wl.name}:{label}:{name}"
        if self.trace:
            # an untraced call of a traced run keeps only what runs off the
            # calling thread: the event log and the streaming listener
            self.pins.enabled = self.writes.enabled = traced
            self.spark.sparkContext.setJobDescription(tag if traced else None)
        self.attempted += 1
        self.calls[name] = self.calls.get(name, 0) + 1
        io0 = proc_io(self.jvm) if traced else {}
        w0 = time.time()
        t = None
        try:
            if traced:
                t = self._traced_call(tag, name)
            else:
                t0 = time.perf_counter()
                self.qs[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                t = time.perf_counter() - t0
        except Exception as exc:  # a broken query must not end the run
            self.errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        self.windows[tag] = (w0, time.time())
        if traced:
            io1 = proc_io(self.jvm)
            self.jvm_io[tag] = {k: io1[k] - io0[k] for k in ("read_bytes", "write_bytes")}
        return t

    def _traced_call(self, tag: str, name: str) -> float:
        """construct / plan / execute, as tools/phase_split.py splits them.
        Plan is the analysis, optimization and planning the noop write does
        for its own command (``WritePlans``); execute is the rest of the
        write. Streaming gates drain inside construct: their pin thunk runs
        there. Returns the wall time of the whole call, the wait for the
        write's plan record and the Exchange count included."""
        t0 = time.perf_counter()
        q = self._open("query", query=name, family=self.family[name], label=tag.split(":")[1])
        key = (self.spark.sparkContext.applicationId, self.sf_dir, name)
        memo_hit = key in self.registry._QUERY_PLANS
        s = self._open("registry.construct")
        df = self.qs[name](self.spark, self.sf_dir)
        c = self._close(s)
        self.writes.arm()
        s = self._open("exec")
        df.write.format("noop").mode("overwrite").save()
        w = self._close(s)
        p, exchanges = self.writes.wait()
        self.tracer.spans[s].attrs["plan_s"] = p
        self._close(q)
        wall = time.perf_counter() - t0
        self.phases[tag] = (c, p, w - p, wall, exchanges, memo_hit)
        return wall

    def passes(self) -> None:
        rng = random.Random(self.args.seed)
        order = list(self.wl.queries)
        rng.shuffle(order)
        self.jvm = self.jvm_pid()
        self.jvm_io: dict[str, dict[str, int]] = {}
        t0 = time.perf_counter()
        plain, timed = self.one_pass("cold", order, traced=self.trace)
        self.cold_pass_s = time.perf_counter() - t0
        self.cold = timed if self.trace else plain
        self.warm: list[dict[str, float]] = []
        self.warm_traced: list[dict[str, float]] = []
        self.warm_labels: list[str] = []
        # The pass count follows from --seconds alone. A count set by a
        # deadline flips between runs whenever a pass ends near it, and
        # the first warm passes are still on the JVM's warm-up curve. A
        # traced run pairs every warm call with an untraced one, so the
        # tracing overhead is measured in the same process.
        for k in range(max(1, int(self.args.seconds // self.wl.pass_s))):
            rng.shuffle(order)
            plain, timed = self.one_pass(f"w{k}", order, traced="paired" if self.trace else False)
            self.warm.append(plain)
            if self.trace:
                self.warm_traced.append(timed)
                self.warm_labels.append(f"w{k}t")
        self.peak_rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(self.jvm)) / 1024.0

    def jvm_pid(self) -> int:
        """The py4j gateway process: spark-submit execs into the JVM."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() != "java":
                raise RuntimeError(f"gateway process {pid} is not the JVM")
        return pid

    def verify(self) -> dict[str, int]:
        """Untimed: compare each query's result with its DuckDB oracle.
        Oracle results are cached per dataset fingerprint and oracle text;
        a query without an oracle must return the same row count each run."""
        import pandas as pd

        from hadoop_hdfs_spark.testing import compare_frames, duckdb_connect

        oracles = self.registry.oracle_sql()
        cache = os.path.join(WORK, "oracle", self.context["dataset_fingerprint"])
        os.makedirs(cache, exist_ok=True)
        rows: dict[str, int] = {}
        con = None
        for name in self.wl.queries:
            if name in self.errors:
                continue
            if self.trace:
                self.spark.sparkContext.setJobDescription(f"{self.wl.name}:verify:{name}")
            try:
                got = self.qs[name](self.spark, self.sf_dir).toPandas()
                rows[name] = len(got)
                sql = oracles.get(name)
                digest = hashlib.md5(f"{name}|{sql}".encode()).hexdigest()[:16]
                path = os.path.join(cache, f"{name}-{digest}.pkl")
                if os.path.exists(path):
                    want = pd.read_pickle(path)
                else:
                    if sql is None:
                        want = pd.DataFrame({"rows": [len(got)]})
                    else:
                        con = con or duckdb_connect(self.sf_dir)
                        want = con.execute(sql).fetchdf()
                    want.to_pickle(path + ".tmp")
                    os.replace(path + ".tmp", path)
                if sql is None:
                    if int(want["rows"][0]) != len(got):
                        raise AssertionError(f"row count {len(got)} != {int(want['rows'][0])}")
                else:
                    compare_frames(got, want)
            except Exception as exc:
                self.errors[name] = f"verify: {type(exc).__name__}: {exc}"[:300]
        if con is not None:
            con.close()
        return rows

    def settle_listener(self, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
        """Progress events reach the Python listener asynchronously: wait
        until none has arrived for ``quiet_s`` (at most ``limit_s``)."""
        end = time.perf_counter() + limit_s
        seen = -1
        while len(self.progress) != seen and time.perf_counter() < end:
            seen = len(self.progress)
            time.sleep(quiet_s)

    def stop(self) -> None:
        """Stop the session and its JVM, and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        """Every end-to-end metric the run can support; BENCHMARK.json names
        the ones the last line carries. ``query_p90_ms`` needs at least ten
        warm calls above it."""
        ok = [n for n in self.wl.queries if n not in self.errors]
        per_query = {n: [p[n] for p in self.warm if n in p] for n in ok}
        self.samples = [t * 1000.0 for ts in per_query.values() for t in ts]
        m = {
            "setup_s": self.setup_s,
            "cold_pass_s": self.cold_pass_s,
            # per-query medians, summed: one slow call (a GC pause) moves
            # its own median, not the pass total
            "warm_pass_s": sum(statistics.median(ts) for ts in per_query.values() if ts),
            "query_p50_ms": statistics.median(self.samples),
            "error_rate": self.failed_calls() / max(self.attempted, 1),
            "peak_rss_mb": self.peak_rss_mb,
        }
        if len(self.samples) - int(0.9 * len(self.samples)) >= 10:
            m["query_p90_ms"] = statistics.quantiles(self.samples, n=10)[-1]
        return m

    def failed_calls(self) -> int:
        return sum(self.calls.get(n, 0) for n in self.errors)

    def report(self, e2e: dict[str, float]) -> None:
        n = len(self.samples)
        base = {
            "query_p50_ms": f"(n={n} warm calls)",
            "query_p90_ms": f"(n={n} warm calls)",
            "error_rate": f"({self.failed_calls()} of {self.attempted} calls)",
            "peak_rss_mb": "(driver + JVM VmHWM)",
        }
        lines = [
            f"{k} = {v:.4f} {END_TO_END_UNITS[k]} {base.get(k, '')}".rstrip()
            for k, v in e2e.items()
        ]
        if "query_p90_ms" not in e2e:
            lines.append(f"query_p90_ms not reported: n={n}, fewer than 10 warm calls above it")
        lines.append(
            f"untimed: build {self.build_s:.1f} s, verify {self.verify_s:.1f} s, "
            f"process {time.perf_counter() - _T_PROCESS:.1f} s"
        )
        ok = [q for q in self.wl.queries if q not in self.errors]
        totals = ", ".join(f"{sum(p.get(q, 0.0) for q in ok):.3f}" for p in self.warm)
        lines.append(f"warm pass totals (s): {totals}")
        for name in self.wl.queries:
            warm = [p[name] for p in self.warm if name in p]
            if name in self.cold and warm:
                lines.append(
                    f"  {name}: cold {self.cold[name]:.3f} s, warm "
                    + " ".join(f"{t:.3f}" for t in warm) + " s"
                )
        for name, err in self.errors.items():
            lines.append(f"ERROR {name}: {err}")
        print("\n".join(lines), flush=True)


def layer_metrics(run: Run, rows: dict[str, int], exec_by_tag: dict, batches_by_tag: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run. Setup metrics cover set-up; pin
    counters cover the whole run; every other metric is per traced warm
    pass (the mean over the traced warm passes)."""
    n_passes = max(len(run.warm_labels), 1)
    traced_tags = {
        t for t in run.phases if t.split(":")[1] in run.warm_labels
    }
    m: dict[str, float] = {
        "session.start_s": run.session_start_s,
        "entities.load_s": run.entities_load_s,
        "entities.materialize_s": run.entities_materialize_s,
        "entities.rows": run.entity_rows,
        "registry.import_s": run.registry_import_s,
    }
    c = p = x = wall = 0.0
    exchanges = memo_hits = memo_misses = 0
    fam = dict.fromkeys(("operators", "pipeline", "hftp", "streaming"), 0.0)
    for tag in traced_tags:
        ci, pi, xi, wi, ex, hit = run.phases[tag]
        c, p, x, wall = c + ci, p + pi, x + xi, wall + wi
        exchanges += ex
        memo_hits += int(hit)
        memo_misses += int(not hit)
        f = run.family[tag.split(":")[2]]
        if f in fam:
            fam[f] += ci + pi + xi
    agg: dict[str, float] = {}
    for tag in traced_tags:
        for k, v in exec_by_tag.get(tag, {}).items():
            agg[k] = agg.get(k, 0) + v
    result_rows = sum(rows.get(t.split(":")[2], 0) for t in traced_tags)
    m.update(
        {
            "registry.construct_s": c / n_passes,
            "registry.plan_memo_hits": memo_hits / n_passes,
            "registry.plan_memo_misses": memo_misses / n_passes,
        }
    )
    m.update(run.pins.metrics())
    m.update({"plan.plan_s": p / n_passes, "plan.exchanges": exchanges / n_passes})
    m["exec.execute_s"] = x / n_passes
    for k in ("jobs", "stages", "tasks", "sched_wait_ms", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "failed_tasks"):
        m[f"exec.{k}"] = agg.get(k, 0) / n_passes
    m["exec.shuffle_records_per_result_row"] = agg.get("shuffle_records", 0) / max(result_rows, 1)
    m["operators.query_s"] = fam["operators"] / n_passes
    m["pipeline.query_s"] = fam["pipeline"] / n_passes
    m["hftp.query_s"] = fam["hftp"] / n_passes
    m["streaming.drain_s"] = fam["streaming"] / n_passes
    batches = [b for t in traced_tags for b in batches_by_tag[t]]
    m["streaming.batches"] = len(batches) / n_passes
    m["streaming.input_rows"] = sum(b["rows"] for b in batches) / n_passes
    m["streaming.batch_p50_ms"] = statistics.median([b["trigger_ms"] for b in batches]) if batches else 0.0
    for k in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "query_planning_ms",
              "state_commit_ms", "state_rows"):
        m[f"streaming.{k}"] = sum(b[k] for b in batches) / n_passes
    m["jvm.peak_rss_mb"] = run.peak_rss_mb
    for k in ("write_bytes", "read_bytes"):
        m[f"jvm.{k}"] = sum(run.jvm_io[t][k] for t in traced_tags if t in run.jvm_io) / n_passes
    # self time per layer, per traced warm pass
    roots = {
        i for i, s in enumerate(run.tracer.spans)
        if s.name == "query" and s.attrs.get("label") in run.warm_labels
    }
    st = run.tracer.self_times(roots)
    m["self.registry_s"] = st.get("registry.construct", 0.0) / n_passes
    m["self.pins_s"] = st.get("registry.pin", 0.0) / n_passes
    # the write's planning runs inside the exec span
    m["self.plan_s"] = p / n_passes
    m["self.exec_s"] = (st.get("exec", 0.0) - p) / n_passes
    m["self.bench_s"] = st.get("query", 0.0) / n_passes
    # tracing overhead: each traced warm call minus its untraced twin, as
    # warm_pass_s sums them (per-query medians)
    ok = [n for n in run.wl.queries if n not in run.errors]
    traced = sum(statistics.median(ts) for ts in (
        [ps[n] for ps in run.warm_traced if n in ps] for n in ok) if ts)
    plain = sum(statistics.median(ts) for ts in (
        [ps[n] for ps in run.warm if n in ps] for n in ok) if ts)
    m["trace.overhead_s"] = traced - plain
    m["trace.untraced_pass_s"] = plain
    m["trace.phase_sum_s"] = (c + p + x) / n_passes
    # wall of the traced calls not in construct, plan or execute: the
    # wait for the write's plan record and the Exchange count
    m["trace.unattributed_s"] = (wall - (c + p + x)) / n_passes
    return m


def untraced_record_path() -> str:
    return os.path.join(WORK, "out", "untraced.jsonl")


def record_untraced(run: Run) -> None:
    """Append an untraced run's cold pass to the checkout's record, which
    traced runs compare their own cold pass with."""
    rec = {"workload": run.wl.name, "fingerprint": run.context["dataset_fingerprint"],
           "seed": run.args.seed, "cold_pass_s": run.cold_pass_s}
    with open(untraced_record_path(), "a") as f:
        f.write(json.dumps(rec) + "\n")


def run_overhead(run: Run) -> str:
    """The traced cold pass against the ``--trace 0`` runs of this
    workload and dataset recorded in the checkout (those with this seed,
    if any): the whole tracing, event log and listeners included, at the
    same point of a fresh process."""
    recs = []
    if os.path.exists(untraced_record_path()):
        with open(untraced_record_path()) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    recs = [r for r in recs if r["workload"] == run.wl.name
            and r["fingerprint"] == run.context["dataset_fingerprint"]]
    chosen = [r for r in recs if r["seed"] == run.args.seed] or recs
    if not chosen:
        return "no --trace 0 run of this workload recorded in the checkout"
    base = statistics.median(r["cold_pass_s"] for r in chosen)
    seeds = "this seed" if chosen[0]["seed"] == run.args.seed else "other seeds"
    return (f"traced cold pass {run.cold_pass_s:.3f} s vs {base:.3f} s, the median of "
            f"{len(chosen)} --trace 0 run(s) ({seeds}): {run.cold_pass_s - base:+.3f} s")


def write_trace_file(run: Run, rows: dict[str, int], metrics: dict[str, float],
                     exec_by_tag: dict, batches_by_tag: dict) -> str:
    """Per-query records of the traced run, for offline reading and the
    smoke test: phase split, stage metrics and micro-batches per call."""
    calls = []
    for tag, (a, z) in run.windows.items():
        wl, label, name = tag.split(":")
        rec = {"pass": label, "query": name, "family": run.family[name], "wall_s": z - a}
        if tag in run.phases:
            c, p, x, wall, ex, hit = run.phases[tag]
            rec.update(construct_s=c, plan_s=p, execute_s=x, traced_wall_s=wall,
                       exchanges=ex, plan_memo_hit=hit)
        rec["exec"] = exec_by_tag.get(tag, {})
        rec["batches"] = batches_by_tag[tag]
        calls.append(rec)
    path = os.path.join(run.out_dir, f"{run.run_id}.json")
    with open(path, "w") as f:
        json.dump(
            {"context": run.context, "metrics": metrics, "rows": rows, "calls": calls,
             "errors": run.errors},
            f, indent=1,
        )
    run.tracer.dump(os.path.join(run.out_dir, f"{run.run_id}.spans.json"))
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="dataset directory (default: the workload's)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_hdfs_spark")):
        print("perfbench: run from the repository root (hadoop_hdfs_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    run = Run(args, WORKLOADS[args.workload])
    if not os.path.isdir(run.sf_dir):
        print(f"perfbench: dataset {run.sf_dir} not found", file=sys.stderr)
        return 2
    run.configure_env()
    run.setup()
    print("context " + json.dumps(run.context), flush=True)
    run.passes()
    t = time.perf_counter()
    rows = run.verify()
    if args.trace:
        run.settle_listener()
    run.verify_s = time.perf_counter() - t
    run.stop()
    e2e = run.end_to_end()  # after verification: its failures count in error_rate
    run.report(e2e)
    if args.trace:
        from tracing import assign_batches, parse_event_log

        exec_by_tag = parse_event_log(run.event_dir, run.windows)
        batches_by_tag = assign_batches(run.progress, run.windows)
        metrics = layer_metrics(run, rows, exec_by_tag, batches_by_tag)
        path = write_trace_file(run, rows, metrics, exec_by_tag, batches_by_tag)
        phases, rest = metrics["trace.phase_sum_s"], metrics["trace.unattributed_s"]
        over = metrics["trace.overhead_s"]
        print(
            f"trace check: construct + plan + execute = {phases:.3f} s of "
            f"{phases + rest:.3f} s traced wall per pass; the {rest:.3f} s rest is "
            f"{'within' if abs(rest) <= over else 'NOT within'} the tracing overhead, "
            f"{over:.3f} s per pass against the paired untraced calls",
            flush=True,
        )
        print(f"whole-run tracing overhead: {run_overhead(run)}", flush=True)
        print(f"trace written to {os.path.relpath(path, ROOT)}", flush=True)
        names = benchmark_names("per_layer")
        out = {k: {"value": metrics[k], "unit": u} for k, u in names.items()}
    else:
        if not run.errors:
            record_untraced(run)
        names = benchmark_names("end_to_end")
        out = {k: {"value": e2e[k], "unit": u} for k, u in names.items()}
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed_calls(),
        "metrics": out,
    }), flush=True)
    return 0


def benchmark_names(section: str) -> dict[str, str]:
    """Metric name -> unit of one section of BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
