"""Reconciliation benchmark: one workload per invocation.

    python3 perfbench/run.py --workload recon_pair_dense --seed 1 --seconds 15 --trace 0

Run from the repository root. The package is imported from the checkout
this file sits in, on ``local[nproc]`` in this one process; everything the
run writes (inputs, stage tables, Spark scratch, event log, trace) stays
under ``.perfbench_work/`` and ``.perfbench_traces/`` in that checkout.

``--trace 0`` times the workload's public-API calls for ``--seconds`` and
reports the end-to-end metrics; ``--trace 1`` makes one untraced baseline
call, then one call with layer spans and the Spark event log on, and
reports the per-layer metrics plus the tracing overhead. Both check
every call's output against the fixture oracles. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "metadata_reconciliation_tool_spark")
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
# Spark's default driver heap. The 48 GB package default does not fit the
# host; at 2 GB G1 grew the heap adaptively and peak RSS spread ~12% from
# run to run, at 1 GB it spreads 2-5%.
DRIVER_MEM = "1g"


class ProcTree:
    """Summed RSS (sampled for its peak) and CPU time of this process and
    all its descendants, the Spark JVM and the Python workers it forks,
    read from /proc."""

    def __init__(self, interval: float = 0.5):
        self.pid = os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._tid: int | None = None

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(p))
        out, todo = [], [self.pid]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    def cpu_s(self) -> float:
        """CPU seconds used so far by the tree: each live process's user
        and system time plus that of the children it has reaped."""
        ticks = 0
        for pid in [self.pid, *self.descendants()]:
            ticks += self._ticks(f"/proc/{pid}/stat", 15)
        # minus this sampler's own thread
        if self._tid is not None:
            ticks -= self._ticks(f"/proc/{self.pid}/task/{self._tid}/stat", 13)
        return ticks / self._tick

    @staticmethod
    def _ticks(path: str, end: int) -> int:
        """utime + stime (and with end=15 the reaped children's) of one
        /proc stat file; 0 if the process is gone."""
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0
        return sum(int(x) for x in fields[11:end])

    def rss_mb(self) -> float:
        total = 0
        for pid in [self.pid, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
        return total * self._page / 2**20

    def _run(self) -> None:
        self._tid = threading.get_native_id()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.rss_mb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def configure_env(ncpu: int) -> None:
    """Environment for the Spark JVM and the Python workers it starts,
    set before the JVM launches: scratch dirs inside the checkout, the
    checkout on the workers' import path, no inherited engine knobs."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
        ),
    })
    sys.path.insert(0, ROOT)


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark, tree: ProcTree) -> None:
    """Stop the context, then the gateway JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := tree.descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while tree.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def summary(name: str, values: list[float], unit: str) -> str:
    """Median plus the highest percentile with at least ten samples above
    it; with ten samples or fewer that is the maximum."""
    if not values:
        return f"{name}: no samples"
    n = len(values)
    med = statistics.median(values)
    if n > 10:
        q = 100 * (1 - 10 / n)
        high = statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]
        label = f"p{int(q)}"
    else:
        high, label = max(values), "max"
    return f"{name}: median {med:.4f} {unit}, {label} {high:.4f} {unit} (n={n})"


def timed_call(wl, i: int, result: dict) -> dict | None:
    result["attempted"] += 1
    try:
        facts = wl.call(i)
    except Exception:
        traceback.print_exc()
        result["failed"] += 1
        return None
    if facts["problems"]:
        result["failed"] += 1
        for p in facts["problems"]:
            print(f"check failed ({wl.name} call {i}): {p}", flush=True)
    return facts


def finish(wl, result: dict) -> dict | None:
    try:
        fin = wl.finish()
    except Exception:
        traceback.print_exc()
        result["attempted"] += 1
        result["failed"] += 1
        return None
    if fin is None:
        return None
    result["attempted"] += 1
    if fin["problems"]:
        result["failed"] += 1
        for p in fin["problems"]:
            print(f"check failed ({wl.name} finish): {p}", flush=True)
    return fin


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"package not found next to the benchmark: {PKG_DIR}", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(ncpu)

    from workloads import WORKLOADS, dir_stats

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    from metadata_reconciliation_tool_spark.session import build_session

    tree = ProcTree()
    tree.start()
    t0, cpu0 = time.perf_counter(), tree.cpu_s()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        extra_conf=spark_conf(bool(args.trace)),
    )
    spark.range(1).count()
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, tree.cpu_s)
        t1 = time.perf_counter()
        wl.prepare_inputs()
        inputs_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        setup_cpu_s = tree.cpu_s() - cpu0
        print(f"setup: session {start_s:.2f} s, inputs {inputs_s:.2f} s, "
              f"warm-up {warmup_s:.2f} s; {setup_cpu_s:.2f} CPU s", flush=True)
        result = {"attempted": 0, "failed": 0}
        if args.trace:
            metrics, trace = traced_run(spark, wl, result, start_s, warmup_s)
        else:
            metrics = timed_run(wl, result, args.seconds)
            metrics["setup_s"] = (setup_s, "s")
        stage_mb, stage_files = dir_stats(wl.state_dir())
    finally:
        stop_spark(spark, tree)
        tree.stop()
    if args.trace:
        metrics.update(traced_layers(*trace, args))
        metrics["writers.stage_mb"] = (stage_mb, "MB")
        metrics["writers.files"] = (stage_files, "count")
    else:
        metrics["peak_rss_mb"] = (tree.peak_mb, "MB")
        metrics["stage_bytes_mb"] = (stage_mb, "MB")
    for k, (v, unit) in metrics.items():
        print(f"{k}: {v:.6g} {unit}")
    err = result["failed"] / max(1, result["attempted"])
    print(f"error_rate: {err:.4f} ({result['failed']} of {result['attempted']} "
          "calls raised or failed a check)")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def timed_run(wl, result: dict, seconds: float) -> dict:
    """Closed loop, one caller: the next call starts when the previous one
    and its checks returned, while another such cycle still fits in
    ``seconds`` and the workload has inputs for it; the first call always
    runs. Wall times are printed; the CPU seconds are the reported metric
    because on a shared host they spread far less from run to run."""
    samples: dict[str, list[float]] = {
        "call_s": [], "call_cpu_s": [], "read_s": [], "read_cpu_s": [],
    }
    cycles: list[float] = []
    start = time.perf_counter()
    i = 0
    while not cycles or (
        time.perf_counter() - start + max(cycles) <= seconds
        and (wl.max_calls is None or i < wl.max_calls)
    ):
        c0 = time.perf_counter()
        facts = timed_call(wl, i, result)
        cycles.append(time.perf_counter() - c0)
        i += 1
        if facts is not None:
            for k in ("call_s", "call_cpu_s"):
                samples[k].append(facts[k])
            for k in ("read_s", "read_cpu_s"):
                samples[k] += facts[k]
    print(summary("call wall", samples["call_s"], "s"))
    print(summary("call_cpu_s", samples["call_cpu_s"], "s"))
    print(summary("state read wall", samples["read_s"], "s"))
    print(summary("state read CPU", samples["read_cpu_s"], "s"))
    if not samples["call_cpu_s"]:
        raise RuntimeError("no call completed")
    return {"call_cpu_s": (statistics.median(samples["call_cpu_s"]), "s")}


def traced_run(spark, wl, result, start_s, warmup_s) -> tuple[dict, tuple]:
    """An untraced baseline call, then one call (and the workload's finish)
    with spans on; returns the metrics known here and (tracer, finish)."""
    from tracing import Tracer

    base = timed_call(wl, 0, result)
    tracer = Tracer(spark, f"{wl.name}-seed{wl.seed}")
    tracer.install()
    try:
        facts = timed_call(wl, 1, result)
        fin = finish(wl, result)
    finally:
        tracer.uninstall()
    if base is None or facts is None:
        raise RuntimeError("a call failed; no layer metrics")
    return {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "trace.overhead_s": (facts["call_s"] - base["call_s"], "s"),
        "state.read_s": (statistics.median(facts["read_s"]), "s"),
        "state.live_dirs": (facts["live_dirs"], "count"),
        "state.new_entity_ratio": (facts["new_ratio"], "ratio"),
        "best.matched_entities": (facts["matched"], "count"),
        "clustering.false_merges": (facts["false_merges"], "count"),
        "scoring.persisted_rows": (facts["persisted_rows"], "count"),
    }, (tracer, fin)


def traced_layers(tracer, fin, args) -> dict:
    """Per-layer metrics from the spans and the event log; writes the
    spans file and prints the compaction figures and layer shares."""
    from tracing import layer_metrics, read_event_log

    tasks = read_event_log(os.path.join(WORK, "eventlog"))
    os.makedirs(TRACES, exist_ok=True)
    tracer.dump(
        os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"), tasks
    )
    L = layer_metrics(tracer, tasks)

    def lay(name: str, key: str, default=0.0):
        return L.get(name, {}).get(key, default)

    def attr(name: str, key: str) -> int:
        return L.get(name, {}).get("attrs", {}).get(key, 0)

    mentions = attr("extract", "extract_entities.rows")
    distinct = attr("extract", "distinct_entities.rows")
    scored = attr("scoring", "score_pairs.rows")
    pruned = attr("scoring", "score_pairs.pruned")
    all_tasks = [t for v in L.values() for t in v["tasks"]]
    out = {}
    for name in ("extract", "blocking", "scoring"):
        out[f"{name}.wall_s"] = (lay(name, "wall_s"), "s")
        out[f"{name}.cpu_s"] = (lay(name, "cpu_s"), "s")
        out[f"{name}.py_cpu_s"] = (lay(name, "py_cpu_s"), "s")
    out.update({
        "extract.mentions": (mentions, "count"),
        "extract.distinct_entities": (distinct, "count"),
        "extract.distinct_ratio": (distinct / max(1, mentions), "ratio"),
        "blocking.candidate_pairs": (
            attr("blocking", "dictionary_candidates.rows")
            + attr("blocking", "self_candidates.rows")
            + attr("blocking", "asymmetric_candidates.rows"),
            "count",
        ),
        "blocking.shuffle_mb": (lay("blocking", "shuffle_mb"), "MB"),
        "blocking.task_skew": (lay("blocking", "task_skew", 1.0), "ratio"),
        "scoring.scored_pairs": (scored, "count"),
        "scoring.pruned_pairs": (pruned, "count"),
        "scoring.prune_ratio": (pruned / max(1, scored), "ratio"),
        "scoring.match_pairs": (attr("scoring", "score_pairs.matches"), "count"),
        "clustering.wall_s": (lay("clustering", "wall_s"), "s"),
        "clustering.edges": (attr("scoring", "score_pairs.self_matches"), "count"),
        "clustering.spark_jobs": (lay("clustering", "jobs", 0), "count"),
        "best.wall_s": (lay("best", "wall_s"), "s"),
        "spark.jobs": (sum(v["jobs"] for v in L.values()), "count"),
        "spark.tasks": (len(all_tasks), "count"),
        "spark.gc_s": (sum(t["gc_s"] for t in all_tasks), "s"),
        "spark.spill_mb": (sum(t["spill_b"] for t in all_tasks) / 2**20, "MB"),
        "spark.shuffle_mb": (sum(t["shuffle_b"] for t in all_tasks) / 2**20, "MB"),
    })
    if fin is not None and "compact_s" in fin:
        print(f"incremental.compact_s: {fin['compact_s']:.4f} s; state read "
              f"{fin['pre_compact_read_s']:.4f} s before and "
              f"{fin['post_compact_read_s']:.4f} s after, over "
              f"{fin['live_dirs_pre_compact']} live dirs")
    shares = {k: lay(k, "wall_s") for k in L}
    total = sum(shares.values()) or 1.0
    print("layer share of traced wall: " + ", ".join(
        f"{k} {100 * v / total:.1f}%" for k, v in sorted(shares.items())))
    return out


if __name__ == "__main__":
    sys.exit(main())
