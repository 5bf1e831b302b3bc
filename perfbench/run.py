"""spark-frontier benchmark: one closed-loop client driving the engine on local[nproc/2].

    python3 perfbench/run.py --workload crawl_durable --seed 1 --seconds 12 --trace 0

Workloads (see README.md for why each exists):
  crawl_durable   BFS crawl of a synthetic web with a checkpoint store
                  committing every round, then a fresh engine resumes
  queries_sf0.01  the ten headline queries over the sf0.01 test tables,
                  each written to a noop sink, in repeated passes

The client issues each round or query only after the previous one has
finished. The crawl's inputs are generated from ``--seed`` into ``.perfbench/`` under
the repository root before anything is timed; the query tables are
committed under ``perfbench/data/``. Correctness checks run
outside the timed region; any failure makes the command exit 1.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Each run also writes
``.perfbench/out/<workload>-seed<seed>-trace<t>.json`` with every number,
the per-round or per-query table and the interference annotation;
``report.py`` turns a pair of them into the per-layer table with the
tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_web_scrapper_and_crawler_spark"
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402
from inputs import HEADLINE  # noqa: E402
from spans import Tracer  # noqa: E402

DASHBOARD = HEADLINE[:5] + ["recent_activity"]
TRAINING = ["lsh_candidate_pairs", "ngram_jaccard_pairs", "embedding_topk", "token_stats"]
SETUP_REPS = 2
PER_HOST_BUDGET = 32
# a crawl run times at least this many rounds, so op_s_p50 is the median of
# three or more rounds and one slow round does not move it
MIN_ROUNDS = 3
# a query run times at least this many passes
MIN_PASSES = 2
PHASES = ["claim", "links", "dedup_seq", "bloom_add"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def spark_cores() -> int:
    """Spark runs tasks on half the vCPUs: the rest hold the driver JVM's own
    threads, this process and the Python workers, so time the host steals
    from one vCPU does not hold up a stage's last task."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class Run:
    """State of one benchmark invocation: arguments, session, results."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.cores = spark_cores()
        self.spark = None
        self.tracer = Tracer()
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.detail: dict = {}
        self.rows: list[dict] = []
        self.checks: list[tuple[str, bool, str]] = []
        self.attempted = 0
        self.failed = 0

    # -- bookkeeping ---------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def op_failed(self, what: str, ex: BaseException) -> None:
        self.failed += 1
        self.checks.append((what, False, repr(ex)))
        print(f"OPERATION FAILED {what}: {ex!r}", file=sys.stderr)

    # -- session -------------------------------------------------------------
    def start_session(self):
        from distributed_web_scrapper_and_crawler_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep little finished-job bookkeeping, so the live heap read at
            # the end does not grow with the number of timed operations
            "spark.ui.retainedJobs": "10",
            "spark.ui.retainedStages": "10",
            "spark.sql.ui.retainedExecutions": "10",
        }
        if self.trace:
            log_dir = os.path.join(WORK, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.setup["session_s"] = time.monotonic() - t
        if self.trace:
            self.tracer = Tracer(self.spark)
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of this driver process plus the Spark JVM, in MiB."""
        pids = [os.getpid()]
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            pids.append(proc.pid)
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return total_kb / 1024.0

    def measure_memory(self) -> None:
        """Record the JVM heap still live (end-to-end ``heap_live_mb``) and
        the Spark storage memory in use (cached blocks, local checkpoints,
        broadcasts; per-layer ``spark.storage_mb``), in MiB.

        The engine's data lives in the Spark JVM; the benchmark's own Python
        memory is not counted. Full GCs on both sides are repeated until the
        heap reads steady: a GC lets Spark's ContextCleaner drop the blocks of
        DataFrames and broadcasts nothing references any more, and that
        release is asynchronous, so one GC is not enough."""
        jvm = self.spark._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[int] = []
        for _ in range(12):
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.5)
            used.append(heap.getHeapMemoryUsage().getUsed())
            if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) <= 2**19:
                break
        self.e2e["heap_live_mb"] = used[-1] / 2**20
        self.layer["spark.storage_mb"] = (
            jvm.org.apache.spark.SparkEnv.get().memoryManager().storageMemoryUsed() / 2**20
        )
        self.detail["storage_mb"] = self.layer["spark.storage_mb"]

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has exited."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def event_log(self) -> list:
        """Stop the session (flushing its event log) and parse the log."""
        app_id = self.spark.sparkContext.applicationId
        self.stop_spark()
        path = os.path.join(WORK, "eventlog", app_id)
        with open(path) as f:
            jobs = stats.load_event_log(f)
        os.remove(path)
        return jobs


# -- crawl_durable -----------------------------------------------------------

def crawl_durable(run: Run) -> None:
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine
    from distributed_web_scrapper_and_crawler_spark.sources.corpus import read_corpus

    spec = inputs.corpus_spec(run.seed)
    corpus_path = inputs.ensure_corpus(run.seed)
    # seed a full per-host budget so every round claims the same number of
    # URLs: timed rounds are then alike whatever their count
    pick = random.Random(run.seed)
    seeds = [
        f"http://{h}/page/{i}" for h in spec.hosts for i in pick.sample(range(spec.docs_per_host), PER_HOST_BUDGET)
    ]
    store_dir = os.path.join(WORK, "store")
    cfg = CrawlConfig(
        parity_mode=False,
        per_host_budget=PER_HOST_BUDGET,
        use_bloom=True,
        allowed_domains=("example.test",),
        lazy_output_tables=True,
        fetch_join="copartition",
        collect_fetch_stats=False,
        salt_hot_hosts=8,
    )

    spark = run.start_session()
    # as bench.py: AQE's per-job re-optimization is serial driver time on
    # the hand-sized round plans
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    def new_engine(corpus):
        return CrawlEngine(
            spark=spark, corpus=corpus, cfg=cfg, ckpt_dir=store_dir,
            checkpoint_every=1, bloom_capacity=1 << 16,
        )

    loads, corpus = [], None
    with run.tracer.wrapped() if run.trace else contextlib.nullcontext():
        for k in range(SETUP_REPS):
            if corpus is not None:
                corpus.unpersist(blocking=True)
            t = time.monotonic()
            with run.tracer.op(f"setup:{k}:input", "input"):
                # one partition per core, hash-partitioned on the fetch-join key
                corpus = read_corpus(spark, corpus_path).repartition(run.cores, "doc_id").cache()
                corpus.count()
            loads.append(time.monotonic() - t)
        run.setup["input_s"] = statistics.median(loads)
        shutil.rmtree(store_dir, ignore_errors=True)
        t = time.monotonic()
        with run.tracer.op("seed", "seed"):
            eng = new_engine(corpus)
            eng.seed(seeds)
        run.setup["seed_s"] = time.monotonic() - t
        # the first round is the untimed warm-up
        t = time.monotonic()
        with run.tracer.op("warmup", "round"):
            eng.run(max_rounds=1)
        run.setup["warmup_s"] = time.monotonic() - t

        walls: list[float] = []
        steal0, t_begin = _steal_ticks(), time.monotonic()
        while time.monotonic() - t_begin < run.seconds or len(walls) < MIN_ROUNDS:
            n_before = len(eng.round_stats)
            rnd = eng.state.round + 1
            t = time.monotonic()
            try:
                with run.tracer.op(f"round:{rnd}", "round") as span:
                    eng.run(max_rounds=1)
            except Exception as ex:  # the benchmark reports the failure and stops the loop
                run.attempted += 1
                run.op_failed(f"round {rnd}", ex)
                break
            if len(eng.round_stats) == n_before:
                break  # frontier drained: nothing left to time
            run.attempted += 1
            walls.append(time.monotonic() - t)
            run.rows.append({"op": f"round:{rnd}", "span": span, "stats": eng.round_stats[-1]})
        timed_wall = time.monotonic() - t_begin
        run.detail["steal_ticks"] = _steal_ticks() - steal0
        run.measure_memory()

        # kill: drop the live engine, recover from the store with a fresh one
        live = eng.state
        eng2, t = None, time.monotonic()
        try:
            with run.tracer.op("resume", "resume"):
                eng2 = new_engine(corpus)
                eng2.resume()
            resume_s = time.monotonic() - t
        except Exception as ex:
            run.op_failed("resume", ex)
            resume_s = None
        run.attempted += 1

    timed = [r["stats"] for r in run.rows]
    claimed = sum(s["urls_claimed"] for s in timed)
    found = sum(s["links_found"] for s in timed)
    rounds = stats.summary(walls)
    run.e2e["op_s_p50"] = rounds["p50"]
    # median of the per-round rates: one round slowed by the host moves it no
    # more than it moves op_s_p50
    run.e2e["work_per_s"] = stats.summary(
        [(s["urls_claimed"] + s["links_found"]) / w for s, w in zip(timed, walls)]
    )["p50"]
    run.detail.update({
        "rounds": rounds["n"],
        "round_s": walls,
        "urls_claimed": claimed,
        "links_deduped": found,
        "timed_wall_s": timed_wall,
        "resume_s": resume_s,
    })
    _check_crawl(run, eng, live, eng2, seeds, corpus_path, cfg)
    run.detail["peak_rss_mb"] = run.peak_rss_mb()
    if run.trace:
        _crawl_layers(run, eng, store_dir, timed, walls)


def _check_crawl(run: Run, eng, live, eng2, seeds: list[str], corpus_path: str, cfg) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    import crawlmodel

    all_stats = eng.round_stats
    enq = live.enqueued.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("url_hash", "url").alias("u")
    ).first()
    n_enq = enq["n"]
    run.check("enqueued has no duplicate (url_hash, url)", n_enq == enq["u"], f"{n_enq} rows, {enq['u']} distinct")
    n_new = sum(s["links_new"] for s in all_stats)
    run.check("seeds + links_new = enqueued rows", len(seeds) + n_new == n_enq,
              f"{len(seeds)} + {n_new} vs {n_enq}")
    n_pending = live.pending.count()
    run.check("pending_count = pending.count()", live.pending_count == n_pending,
              f"{live.pending_count} vs {n_pending}")
    n_claimed = sum(s["urls_claimed"] for s in all_stats)
    done = live.done.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("u")).first()
    run.check("every claimed URL appears once in done",
              done["n"] == n_claimed and done["u"] == n_claimed,
              f"claimed {n_claimed}, done rows {done['n']}, distinct {done['u']}")
    counts = [[s["urls_claimed"], s["links_found"], s["links_new"]] for s in all_stats]
    expected = crawlmodel.round_counts(
        pd.read_parquet(corpus_path), seeds, len(counts),
        cfg.per_host_budget, cfg.salt_hot_hosts, cfg.allowed_domains,
    )
    run.check("per-round claimed/links/new counts match the serial reference",
              counts == expected, f"{counts} vs {expected}")
    if eng2 is not None:
        got = eng2.state
        same = (got.round, got.max_seq, got.pending_count) == (live.round, live.max_seq, live.pending_count)
        run.check("resumed state matches the store's last round",
                  same and got.enqueued.count() == n_enq and got.pending.count() == n_pending,
                  f"{(got.round, got.max_seq, got.pending_count)} vs "
                  f"{(live.round, live.max_seq, live.pending_count)}")


def _crawl_layers(run: Run, eng, store_dir: str, timed: list[dict], walls: list[float]) -> None:
    import numpy as np

    spans = run.tracer.spans
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    for ph in PHASES + ["materialize"]:
        run.layer[f"crawl.{ph}_s"] = med([s["phases"].get(ph, 0.0) for s in timed])
    per_round_self = [stats.self_time_by_name(spans, r["op"]) for r in run.rows]
    run.layer["seq.assign_s"] = med([d.get("assign_global_seq", 0.0) for d in per_round_self])
    run.layer["checkpoint.write_s"] = med([d.get("write_round", 0.0) for d in per_round_self])
    run.layer["checkpoint.load_s"] = med([d.get("load_state", 0.0) for d in per_round_self])
    resume_self = stats.self_time_by_name(spans, "resume")
    run.layer["resume.load_s"] = resume_self.get("load_state", 0.0)
    run.layer["resume.filter_rebuild_s"] = resume_self.get("add_df_to_filter", 0.0)
    run.layer["crawl.round_growth"] = stats.growth(walls) or 0.0
    found = sum(s["links_found"] for s in timed)
    run.layer["crawl.dedup_hit_ratio"] = 1 - sum(s["links_new"] for s in timed) / found if found else 0.0
    words = eng.bloom.words
    run.layer["bloom.fill_ratio"] = int(np.unpackbits(words.view(np.uint8)).sum()) / (words.size * 64)
    # the store keeps one directory per committed round: round_<n>/_MANIFEST.json
    dirs = {int(d.rsplit("_", 1)[1]): os.path.join(store_dir, d) for d in os.listdir(store_dir)}
    run.layer["checkpoint.bytes_per_round"] = med([_du(dirs[s["round"]]) for s in timed])
    with open(os.path.join(dirs[eng.store.latest_round()], "_MANIFEST.json")) as f:
        run.layer["checkpoint.paths_read"] = sum(len(p) for p in json.load(f)["tables"].values())

    jobs = run.event_log()
    spark_rows, py_rows = [], []
    for r in run.rows:
        span, st = r["span"], r["stats"]
        mine = stats.jobs_of(jobs, r["op"])
        sm = stats.spark_metrics(mine, span.start, span.end, run.cores)
        rr = next(s for s in spans if s.op == r["op"] and s.name == "run_round")
        win = stats.phase_windows(rr.start, st["phases"], PHASES)
        links = stats.window_jobs(mine, *win["links"])
        pm = stats.python_metrics(links)
        spark_rows.append(sm)
        py_rows.append(pm)
        r["row"] = {
            "wall_s": span.wall, "claimed": st["urls_claimed"], "links_found": st["links_found"],
            "links_new": st["links_new"], **{f"crawl.{k}_s": v for k, v in st["phases"].items()},
            **stats.self_time_by_name(spans, r["op"]), **sm, **{f"links.{k}": v for k, v in pm.items()},
            "jobs_by_span": {k: len(v) for k, v in stats.attribute(jobs, spans, r["op"]).items()},
        }
    for k in list(spark_rows[0]) if spark_rows else []:
        run.layer[k] = med([row[k] for row in spark_rows])
    for k in stats.PYTHON_METRICS.values():
        run.layer[k] = med([row[k] for row in py_rows])


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# -- queries ---------------------------------------------------------------

def queries(run: Run) -> None:
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    import pandas as pd

    from tools.selfcheck import normalize

    data = inputs.QUERY_DATA
    inputs.ensure_oracle()
    # the tables are fixed: the seed only chooses the order of the queries
    order = random.Random(run.seed).sample(HEADLINE, len(HEADLINE))
    run.detail["query_order"] = order

    spark = run.start_session()
    tables = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    loads = []
    for k in range(SETUP_REPS):
        t = time.monotonic()
        with run.tracer.op(f"setup:{k}:input", "input"):
            for f in tables:
                spark.read.parquet(os.path.join(data, f)).schema
        loads.append(time.monotonic() - t)
    run.setup["input_s"] = statistics.median(loads)
    run.setup["seed_s"] = 0.0

    # warm-up: one untimed pass at full scale that also checks every result
    # against its DuckDB oracle
    t = time.monotonic()
    for q in order:
        try:
            with run.tracer.op(f"check:{q}", q):
                got = normalize(QUERY_REGISTRY[q].fn(spark, data).toPandas())
            want = normalize(pd.read_parquet(inputs.oracle_path(q)))
            ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
            run.check(f"{q} matches its DuckDB oracle", ok, f"{len(got)} vs {len(want)} rows")
            del got, want
        except Exception as ex:
            run.attempted += 1
            run.op_failed(f"{q} (check)", ex)
    run.setup["warmup_s"] = time.monotonic() - t

    passes: list[dict[str, float]] = []
    steal0, t_begin = _steal_ticks(), time.monotonic()
    while time.monotonic() - t_begin < run.seconds or len(passes) < MIN_PASSES:
        i = len(passes)
        times, spans = {}, {}
        run.attempted += 1
        try:
            for q in order:
                t = time.monotonic()
                with run.tracer.op(f"pass:{i}:{q}", q) as span:
                    _noop(QUERY_REGISTRY[q].fn(spark, data))
                times[q] = time.monotonic() - t
                spans[q] = span
        except Exception as ex:  # the benchmark reports the failure and stops the loop
            run.op_failed(f"pass {i}", ex)
            break
        passes.append(times)
        run.rows.append({"op": f"pass:{i}", "spans": spans, "times": times})
    timed_wall = time.monotonic() - t_begin
    run.detail["steal_ticks"] = _steal_ticks() - steal0
    run.measure_memory()

    pass_s = [sum(p.values()) for p in passes]
    run.e2e["op_s_p50"] = stats.summary(pass_s)["p50"]
    run.e2e["work_per_s"] = len(HEADLINE) * len(passes) / timed_wall if passes else None
    dash = [sum(p[q] for q in DASHBOARD) for p in passes]
    train = [sum(p[q] for q in TRAINING) for p in passes]
    run.detail.update({
        "passes": len(passes),
        "pass_s": pass_s,
        "dashboard_queries_s": statistics.median(dash) if passes else None,
        "training_queries_s": statistics.median(train) if passes else None,
        "timed_wall_s": timed_wall,
    })
    run.detail["peak_rss_mb"] = run.peak_rss_mb()
    if run.trace:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        run.layer["q.dashboard_s"] = med(dash)
        run.layer["q.training_s"] = med(train)
        for q in HEADLINE:
            run.layer[f"q.{q}_s"] = med([p[q] for p in passes])
        jobs = run.event_log()
        pass_rows = []
        for r in run.rows:
            per_q = {}
            for q, span in r["spans"].items():
                mine = stats.jobs_of(jobs, span.op)
                per_q[q] = {"wall_s": span.wall, **stats.spark_metrics(mine, span.start, span.end, run.cores),
                            **stats.python_metrics(mine)}
            r["row"] = per_q
            total = {k: sum(v[k] for v in per_q.values()) for k in next(iter(per_q.values()))}
            total["spark.task_busy_share"] = (
                sum(v["spark.task_busy_share"] * v["wall_s"] for v in per_q.values()) / total["wall_s"]
            )
            pass_rows.append(total)
        for k in [*stats.SPARK_METRICS, *stats.PYTHON_METRICS.values()]:
            run.layer[k] = med([t[k] for t in pass_rows])
        for q in HEADLINE:
            run.layer[f"q.{q}.shuffle_write_bytes"] = med(
                [r["row"][q]["spark.shuffle_write_bytes"] for r in run.rows]
            )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- shared ------------------------------------------------------------------

def _steal_ticks() -> int:
    from bench import _steal_ticks as ticks

    return ticks()


def annotation(run: Run) -> dict:
    """Interference context recorded beside the metrics of every run."""
    fs = None
    try:
        best = ""
        with open("/proc/mounts") as f:
            for line in f:
                dev, mnt, kind = line.split()[:3]
                if WORK.startswith(mnt) and len(mnt) > len(best):
                    best, fs = mnt, f"{kind} on {mnt}"
    except OSError:
        pass
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "steal_ticks_timed": run.detail.get("steal_ticks"),
        "loadavg": os.getloadavg(),
        "nproc": run.nproc,
        "spark_cores": run.cores,
        "store_fs": fs,
        "git_commit": commit,
    }


WORKLOADS = {"crawl_durable": crawl_durable, f"queries_sf{inputs.QUERY_SF}": queries}


def _prepare_env() -> None:
    """Keep every file Spark and its workers write inside the work dir, and
    let Python workers import the package from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files in the work dir, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    # the package's knob: as many JVM GC threads as Spark has cores
    os.environ["SPARK_GRAFT_GC_THREADS"] = str(spark_cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"cannot find the {PKG} package beside {HERE}", file=sys.stderr)
        return 2
    _prepare_env()
    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            run.stop_spark()
    run.e2e["setup_s"] = sum(run.setup.values())
    for k, v in run.setup.items():
        run.layer[f"setup.{k}"] = v
    correct = run.failed == 0 and all(run.e2e.get(k) for k in END_TO_END)
    units = PER_LAYER if run.trace else END_TO_END
    metrics = {k: {"value": float(run.layer.get(k, 0.0) if run.trace else run.e2e.get(k) or 0.0),
                   "unit": u} for k, u in units.items()}
    note = annotation(run)
    result = {"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed, "metrics": metrics}
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({
            "args": vars(args), "result": result, "end_to_end": run.e2e, "per_layer": run.layer,
            "detail": run.detail, "annotation": note,
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in run.checks],
            "rows": [{"op": r["op"], **r.get("row", {})} for r in run.rows],
            "spans": [vars(s) for s in run.tracer.spans] if run.trace else [],
        }, f, indent=1, default=float)
    for k, v in {**run.e2e, **run.detail}.items():
        if not isinstance(v, list):
            print(f"{k} = {v}")
    print(f"failed_share = {stats.failed_share(result['attempted'], run.failed)} "
          f"({run.failed} of {result['attempted']})")
    print(f"annotation = {json.dumps(note)}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
