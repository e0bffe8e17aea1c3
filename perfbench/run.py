"""Closed-loop benchmark of the registry queries, run through the
driver-contract surface ``__spark_entry__.queries()``.

    python3 perfbench/run.py --workload curation_udf --seed 1 --seconds 10 --trace 0

Run it from the repository root. One process is one run:

1. make the input tables (``datagen.py``, fixed seed) and each query's
   DuckDB oracle answer, outside every timed region;
2. set up: reset the benchmark's persisted ``.scratch/`` state, start one
   ``local[nproc]`` session sized to the host, and run one warmup pass,
   which also does the one-time index and state builds;
3. measure: whole passes over the workload's queries, one query at a
   time, in an order permuted by ``--seed``, starting passes until
   ``--seconds`` have elapsed. Each execution is timed as construction
   (the registry call) plus action (the final ``count()``/``collect()``),
   and its result is checked against the oracle after the clock stops;
4. stop the session and wait for the JVM and its Python workers to exit.

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` at least four passes run, untraced and traced as U T T U;
traced passes
harvest Spark's status stores per execution (``sparktrace.py``) and the
result carries the per-layer metrics, summed per pass, plus the tracing
overhead (traced minus untraced pass time). The span tree of a traced
run is written to ``.bench_out/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the host (nproc, load1, heap, versions) and any failures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import pyspark
from sparktrace import LAYER_METRICS, RETENTION_CONF, Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Results larger than this are drained with count() and checked by row
# count; smaller ones are collected and checked by value hash.
COLLECT_MAX_ROWS = 2000

WORKLOADS = {
    # Near-duplicate and similarity curation: the work sits in the
    # action and in the pandas/Arrow Python workers.
    "curation_udf": [
        "dedup_minhash_neardup", "dedup_ngram_jaccard",
        "text_winnowing_overlap", "similarity_srp_lsh_pairs",
        "embeddings_mutual_knn_graph",
    ],
    # File writes and streaming state over the same scan layer.
    "ingest_write": [
        "ingest_csv_roundtrip", "ingest_orc_roundtrip",
        "ingest_jsonl_roundtrip", "orders_merge_upsert",
        "storage_compaction_bin_pack", "warehouse_write_audit_publish",
        "orders_mor_position_deletes", "streaming_session_windows",
        "streaming_stream_stream_join", "streaming_ingest_resume",
    ],
}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host, environment, inputs
# ---------------------------------------------------------------------------


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    mem_gb = mem_kb / 1024**2
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "mem_gb": round(mem_gb, 1),
        # A quarter of RAM, capped: the inputs are small and the host is shared.
        "heap": f"{max(1, min(2, int(mem_gb // 4)))}g",
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }


def prepare_env() -> dict[str, str]:
    """Keeps every file the run writes inside the checkout and resets
    the state a run may find from an earlier one."""
    out = os.path.join(ROOT, ".bench_out")
    dirs = {name: os.path.join(out, name)
            for name in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the JVMs' temp files, and no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    dirs["out"] = out
    return dirs


def reset_state(data: str) -> None:
    """Every run starts from the state of a fresh checkout: no persisted
    mirrors, indexes, checkpoints or sinks derived from the benchmark's
    tables, so their one-time builds land in the warmup of every run.
    The package keys those ``.scratch/<kind>/`` entries by the data
    dir's name; entries of other data dirs are left alone."""
    tag = os.path.basename(data)
    scratch = os.path.join(ROOT, ".scratch")
    kinds = os.listdir(scratch) if os.path.isdir(scratch) else []
    for kind in kinds:
        if not os.path.isdir(os.path.join(scratch, kind)):
            continue
        for entry in os.listdir(os.path.join(scratch, kind)):
            if entry == tag or entry.startswith(f"{tag}_"):
                shutil.rmtree(os.path.join(scratch, kind, entry))


def ensure_data() -> str:
    """Generates the input tables once per checkout and generator
    version; the same generator always writes the same tables."""
    import datagen

    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(ROOT, ".bench_data", f"bench_sf{datagen.SF}_{version}")
    if not os.path.isdir(data):
        tmp = f"{data}.part{os.getpid()}"
        datagen.generate(tmp)
        os.replace(tmp, data)
    return data


# ---------------------------------------------------------------------------
# oracle check
# ---------------------------------------------------------------------------


def oracle_answers(data: str, names: list[str], oracle_sql: dict) -> dict:
    import duckdb
    from check_correctness import value_hash

    from airline_dataset_hadoop_public_spark.sources.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    answers = {}
    for name in names:
        res = con.execute(oracle_sql[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        answers[name] = {
            "rows": len(rows), "cols": sorted(cols),
            "hash": value_hash(rows, cols),
            "drain": "collect" if len(rows) <= COLLECT_MAX_ROWS else "count",
        }
    con.close()
    return answers


def check(answer: dict, cols: list[str], rows, n: int) -> str | None:
    from check_correctness import value_hash

    if n != answer["rows"]:
        return f"row count {n} != oracle {answer['rows']}"
    if sorted(cols) != answer["cols"]:
        return f"columns {sorted(cols)} != oracle {answer['cols']}"
    if rows is not None and value_hash(rows, cols) != answer["hash"]:
        return "value hash differs from oracle"
    return None


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(host: dict, dirs: dict, traced: bool):
    from airline_dataset_hadoop_public_spark.session import get_spark

    conf = {
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # A fixed-size heap, as Spark gives its executors: with a growing
        # heap the JVM's resident size follows GC heap-expansion decisions
        # and varied by a quarter between identical runs.
        "spark.driver.extraJavaOptions": f"-Xms{host['heap']}",
    }
    if traced:
        conf.update(RETENTION_CONF)
    spark = get_spark(
        "perfbench", cpus=host["nproc"], driver_memory=host["heap"],
        extra_conf=conf,
    )
    import __spark_entry__

    return spark, __spark_entry__


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def pss_mb(pids: list[int]) -> float:
    """Proportional resident memory of a set of processes: pages shared
    between forked Python workers are counted once in total."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(
                    int(l.split()[1]) for l in fh if l.startswith("Pss:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


class MemorySampler(threading.Thread):
    """Samples the resident memory of the JVM and its Python workers
    every ``interval`` seconds and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid, self.interval = root_pid, interval
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak_mb = max(self.peak_mb, pss_mb(process_tree(self.root_pid)))

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_mb


def stop_session(spark) -> None:
    """Stops Spark, then the JVM, then waits for its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


class Runner:
    def __init__(self, spark, queries, answers, data, tracer=None):
        self.spark, self.queries, self.answers = spark, queries, answers
        self.data, self.tracer = data, tracer
        self.failures: list[dict] = []
        self.attempted = 0
        self.origin = time.perf_counter()  # span times are relative to this

    def execute(self, label: str, name: str, traced: bool) -> dict:
        sc, tracer = self.spark.sparkContext, self.tracer
        answer = self.answers[name]
        sc.setJobGroup(f"{label}/{name}", name)
        marks = {}
        if traced:
            marks.update(tracer.begin())
        rec = {"name": name, "construct_s": 0.0, "action_s": 0.0,
               "start_s": time.perf_counter() - self.origin}
        rows, n, cols, error = None, -1, [], None
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data)
            t1 = time.perf_counter()
            if traced:
                marks.update(j1=tracer.next_job(), t_action_ms=time.time() * 1e3)
            cols = df.columns
            if answer["drain"] == "collect":
                rows = df.collect()
                n = len(rows)
            else:
                n = df.count()
            t2 = time.perf_counter()
            rec.update(construct_s=t1 - t0, action_s=t2 - t1)
        except Exception as exc:  # one failed query must not end the run
            error = f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            log(traceback.format_exc())
        self.attempted += 1
        if error is None:
            error = check(answer, cols, rows, n)
        if traced and error is None:
            marks.update(
                j2=tracer.next_job(), cached_mb=tracer.cached_mb(),
                construct_s=rec["construct_s"], action_s=rec["action_s"],
            )
            h0 = time.perf_counter()
            rec["trace"] = tracer.harvest(marks)
            rec["harvest_s"] = time.perf_counter() - h0
            if not rec["trace"]["complete"]:
                error = "status store evicted entries of this execution"
        if error is not None:
            rec["error"] = error
            self.failures.append({"pass": label, "query": name, "error": error})
            log(f"FAILED {label} {name}: {error}")
        return rec

    def run_pass(self, label: str, order: list[str], traced: bool) -> dict:
        t0 = time.perf_counter()
        if traced:
            self.tracer.attach()
        execs = [self.execute(label, name, traced) for name in order]
        if traced:
            self.tracer.detach()
        return {"label": label, "traced": traced, "start_s": t0 - self.origin,
                "wall_s": time.perf_counter() - t0, "execs": execs}


def pass_order(workload: str, seed: int, n: int) -> list[str]:
    names = WORKLOADS[workload]
    return random.Random(f"{seed}/{n}").sample(names, len(names))


def layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics of traced passes: summed per pass, median over
    passes."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    sums = []
    for p in traced:
        s = dict.fromkeys(LAYER_METRICS, 0.0)
        s["trace.harvest_s"] = 0.0
        for e in p["execs"]:
            for k, v in e.get("trace", {}).get("metrics", {}).items():
                s[k] += v
            s["trace.harvest_s"] += e.get("harvest_s", 0.0)
        sums.append(s)
    out = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
    traced_s = statistics.median(p["wall_s"] for p in traced)
    out["trace.pass_s"] = traced_s
    out["trace.overhead_s"] = traced_s - statistics.median(
        p["wall_s"] for p in untraced
    )
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no __spark_entry__.py under {ROOT}: run from a full checkout")
        return 2
    traced = bool(args.trace)
    host = host_info()
    dirs = prepare_env()
    data = ensure_data()
    sys.path.insert(0, ROOT)
    # the repository's correctness gate, for its order-insensitive value hash
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from airline_dataset_hadoop_public_spark.plans import registry

    names = WORKLOADS[args.workload]
    t_oracle = time.perf_counter()
    answers = oracle_answers(data, names, registry.oracle_sql())
    log(f"oracle answers {time.perf_counter() - t_oracle:.2f}s")

    reset_state(data)
    t0 = time.perf_counter()
    spark, entry = start_session(host, dirs, traced)
    try:
        start_s = time.perf_counter() - t0
        sampler = MemorySampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        runner = Runner(spark, entry.queries(), answers, data,
                        Tracer(spark) if traced else None)
        warm = runner.run_pass(
            "warmup", pass_order(args.workload, args.seed, 0), False
        )
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s (session {start_s:.2f}s, "
            f"warmup {warm['wall_s']:.2f}s)")

        passes, t_measure = [], time.perf_counter()
        # traced runs alternate untraced/traced as U T T U, so that the
        # passes' drift over the run does not land on one side only
        min_passes = 4 if traced else 1
        while True:
            n = len(passes) + 1
            p = runner.run_pass(
                f"pass{n}", pass_order(args.workload, args.seed, n),
                traced and n % 4 in (2, 3),
            )
            passes.append(p)
            log(f"pass{n} {p['wall_s']:.2f}s traced={p['traced']}")
            if (len(passes) >= min_passes
                    and time.perf_counter() - t_measure >= args.seconds):
                break
        rss = sampler.stop()
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        log(f"stopped in {time.perf_counter() - t_stop:.2f}s")

    host["load1_end"] = os.getloadavg()[0]
    if traced:
        metrics = {"session.start_s": start_s, "session.warmup_s": warm["wall_s"]}
        metrics.update(layer_metrics(passes))
        units = {k: LAYER_METRICS.get(k, "s") for k in metrics}
        with open(os.path.join(
            dirs["out"], f"trace-{args.workload}-seed{args.seed}.json"
        ), "w") as fh:
            json.dump({"host": host, "workload": args.workload,
                       "seed": args.seed, "session_start_s": start_s,
                       "passes": [warm] + passes}, fh, indent=1)
    else:
        times = [e["construct_s"] + e["action_s"]
                 for p in passes for e in p["execs"] if "error" not in e]
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "query_p50_s": statistics.median(times) if times else 0.0,
            "peak_rss_mb": rss,
        }
        units = E2E_UNITS
    failed = len(runner.failures)
    per_query = {}
    for p in passes:
        for e in p["execs"]:
            per_query.setdefault(e["name"], []).append(
                e["construct_s"] + e["action_s"]
            )
    print(json.dumps({
        "host": host, "workload": args.workload, "seed": args.seed,
        "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
        "executions": runner.attempted,
        "failed_frac": failed / runner.attempted, "failures": runner.failures,
        "query_median_s": {
            k: round(statistics.median(v), 4) for k, v in per_query.items()
        },
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
