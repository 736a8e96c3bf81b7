"""The benchmark's workloads: inputs from a seed, the timed public-API
calls, and the checks of every call's output against the fixture oracles.

Inputs come from the package's fixture generators and are written to
parquet and read back during set-up, so generation is never timed and the
program only receives the tables.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from metadata_reconciliation_tool_spark.fixtures import (
    build_expected_clusters,
    build_variants,
    entity_pool,
    gen_dictionary,
    gen_transcripts,
)
from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
from metadata_reconciliation_tool_spark.plans.pipeline import ReconConfig, ReconPipeline

TURNS_PER_CONV = 16
# best-match state reads after each call; the median is reported
READS = 5


def dir_stats(path: str) -> tuple[float, int]:
    """(MB on disk, parquet data files) under a stage or state directory."""
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size / 2**20, files


class Oracle:
    """What a correct run must produce for a set of pool entities."""

    def __init__(self, pool):
        self.variants = build_variants(pool)
        clusters = build_expected_clusters(self.variants)
        self.clusters = dict(zip(clusters.entity_key, clusters.cluster_id))
        self.canonical = {
            v.key: f"Q{v.entity_id + 1000}"
            for v in self.variants
            if v.rule == "canonical"
        }

    def check_best(self, rows) -> list[str]:
        by_key = {r.entity_key: r for r in rows}
        problems = []
        if len(by_key) != len(rows):
            problems.append(f"best: {len(rows) - len(by_key)} duplicate entity rows")
        bad = [
            k for k, q in self.canonical.items()
            if k not in by_key
            or by_key[k].right_key != q
            or by_key[k].score != 1.0
        ]
        if bad:
            problems.append(f"best: {len(bad)} canonical variants not matched to their own id at 1.0")
        return problems

    def check_clusters(self, rows) -> tuple[list[str], int]:
        """Recall is exact: every variant is assigned, no expected cluster
        is split, and every produced cluster is a union of whole expected
        clusters. Merges of distinct entities whose names are nearly the
        same are a known precision limit of the scorer at these pool
        densities; they are counted and returned, not failed."""
        got = {r.entity_key: r.cluster_id for r in rows}
        exp = self.clusters
        problems = []
        if set(got) != set(exp):
            problems.append(
                f"clusters: {len(set(got) - set(exp))} unexpected and "
                f"{len(set(exp) - set(got))} missing entity keys"
            )
        produced: dict[str, set[str]] = {}
        for k, cid in exp.items():
            if k in got:
                produced.setdefault(cid, set()).add(got[k])
        split = sum(len(v) > 1 for v in produced.values())
        if split:
            problems.append(f"clusters: {split} expected clusters split apart")
        merged = len(produced) - len({next(iter(v)) for v in produced.values()})
        return problems, merged


class Workload:
    name = ""
    max_calls: int | None = None

    def __init__(self, spark, work_dir: str, seed: int, cpu_clock):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.rng = random.Random(seed)
        # CPU seconds used so far by the whole process tree
        self.cpu_clock = cpu_clock

    def _measure(self, fn):
        """(fn(), wall seconds, process-tree CPU seconds)."""
        c0, t0 = self.cpu_clock(), time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, self.cpu_clock() - c0

    def _write_input(self, df, name: str, partition_by: str | None = None):
        path = os.path.join(self.work, "inputs", name)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        return path

    def _reads(self, read) -> tuple[list, list[float], list[float]]:
        """Materialize the best-match state READS times: (rows, wall of
        each read, [mean CPU seconds per read]). CPU is taken over all the
        reads at once; one read is too short for the 10 ms /proc ticks."""
        walls = []
        c0 = self.cpu_clock()
        for _ in range(READS):
            t0 = time.perf_counter()
            rows = read().collect()
            walls.append(time.perf_counter() - t0)
        return rows, walls, [(self.cpu_clock() - c0) / READS]

    def prepare_inputs(self) -> None:
        """Generate the seed's inputs, write them to parquet, read back."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Full-size untimed calls, so the timed ones find the JIT, the
        generated code and the Python workers warm."""
        raise NotImplementedError

    def call(self, i: int) -> dict:
        """One timed public-API call, its state reads and its checks:
        {"call_s", "call_cpu_s", "read_s": [...], "read_cpu_s": [...],
        "problems": [...], facts}."""
        raise NotImplementedError

    def finish(self) -> dict | None:
        """Work after the calls of the traced run, or None."""
        return None

    def state_dir(self) -> str:
        raise NotImplementedError


class ReconPairDense(Workload):
    name = "recon_pair_dense"
    n_entities = 250
    n_convs = 340

    def prepare_inputs(self) -> None:
        pool = entity_pool(self.n_entities, self.seed)
        self.oracle = Oracle(pool)
        spark = self.spark
        tx = self._write_input(
            gen_transcripts(spark, self.oracle.variants, self.n_convs, TURNS_PER_CONV),
            "transcripts",
        )
        dic = self._write_input(gen_dictionary(spark, pool), "dictionary")
        self.transcripts = spark.read.parquet(tx)
        self.dictionary = spark.read.parquet(dic)
        self._job = None

    def _run(self, job_id: str):
        cfg = ReconConfig(
            job_id=job_id, work_dir=os.path.join(self.work, "jobs"),
            force=True, collect_metrics=False,
        )
        pipe = ReconPipeline(self.spark, cfg)
        out, wall, cpu = self._measure(
            lambda: pipe.run(self.transcripts, self.dictionary)
        )
        return pipe, out, wall, cpu

    def warm_up(self) -> None:
        # two calls: the JIT is still compiling through the second one
        # (measured ~14% more CPU than the third) and would blur the
        # timed call
        for job in ("warmup0", "warmup1"):
            pipe, out, _, _ = self._run(job)
            # later runs of the same seed must reproduce these exactly
            self.stats = dict(pipe.scoring_stats)
            self.clusters = {
                (r.entity_key, r.cluster_id) for r in out["clusters"].collect()
            }
            shutil.rmtree(os.path.join(self.work, "jobs", job), ignore_errors=True)

    def call(self, i: int) -> dict:
        if self._job:
            shutil.rmtree(self.state_dir(), ignore_errors=True)
        self._job = f"run{i}"
        pipe, out, call_s, call_cpu = self._run(self._job)
        best, reads, read_cpus = self._reads(lambda: out["best"])
        crows = out["clusters"].collect()
        problems = self.oracle.check_best(best)
        bad, merged = self.oracle.check_clusters(crows)
        problems += bad
        if {(r.entity_key, r.cluster_id) for r in crows} != self.clusters:
            problems.append("clusters differ from the warm-up run's")
        if pipe.scoring_stats != self.stats:
            problems.append(
                f"scoring_stats {pipe.scoring_stats} differ from the warm-up's {self.stats}"
            )
        return {
            "call_s": call_s, "call_cpu_s": call_cpu,
            "read_s": reads, "read_cpu_s": read_cpus, "problems": problems,
            "matched": sum(r.right_key is not None for r in best),
            "live_dirs": 1, "new_ratio": 1.0, "false_merges": merged,
            "persisted_rows": pipe.scoring_stats.get("persisted_rows") or 0,
        }

    def state_dir(self) -> str:
        return os.path.join(self.work, "jobs", self._job)


class IncrementalIngest(Workload):
    name = "incremental_ingest"
    n_entities = 300
    boot_convs = 240
    batch_convs = 1000
    new_per_batch = 10
    seen_per_batch = 40
    max_batches = 4
    max_calls = max_batches
    job = "inc"

    def prepare_inputs(self) -> None:
        from functools import reduce

        from pyspark.sql import functions as F

        spark = self.spark
        pool = entity_pool(self.n_entities, self.seed)
        half = self.n_entities // 2
        self.ingested = list(pool[:half])
        self.slices = []
        for b in range(self.max_batches):
            lo = half + b * self.new_per_batch
            new = pool[lo: lo + self.new_per_batch]
            seen = self.rng.sample(pool[:half], self.seen_per_batch)
            self.slices.append(sorted(new + seen, key=lambda e: e.entity_id))
        # part 0 is the bootstrap corpus, part b + 1 is batch b
        parts = [(self.ingested, self.boot_convs)] + [
            (s, self.batch_convs) for s in self.slices
        ]
        tx = self._write_input(
            reduce(
                lambda a, c: a.unionByName(c),
                [
                    gen_transcripts(spark, build_variants(ents), convs, TURNS_PER_CONV)
                    .withColumn("part", F.lit(p))
                    for p, (ents, convs) in enumerate(parts)
                ],
            ),
            "transcripts",
            partition_by="part",
        )
        dic = self._write_input(gen_dictionary(spark, pool), "dictionary")
        self.parts = [
            spark.read.parquet(os.path.join(tx, f"part={p}"))
            for p in range(len(parts))
        ]
        self.dictionary = spark.read.parquet(dic)
        self.next_batch = 0

    def warm_up(self) -> None:
        # the bootstrap is the full-size run that warms the shared layers
        ReconPipeline(
            self.spark,
            ReconConfig(job_id=self.job, work_dir=self.work, force=True,
                        collect_metrics=False),
        ).run(self.parts[0], self.dictionary)
        self.inc = IncrementalRecon(self.spark, self.work, self.job)

    def call(self, i: int) -> dict:
        b = self.next_batch
        self.next_batch += 1
        seen_keys = {v.key for v in build_variants(self.ingested)}
        batch_keys = {v.key for v in build_variants(self.slices[b])}
        out, call_s, call_cpu = self._measure(
            lambda: self.inc.ingest_batch(self.parts[b + 1], self.dictionary)
        )
        self.ingested = sorted(
            {e.entity_id: e for e in self.ingested + self.slices[b]}.values(),
            key=lambda e: e.entity_id,
        )
        self.oracle = Oracle(self.ingested)
        rows, reads, read_cpus = self._reads(self.inc.best_matches)
        problems = self.oracle.check_best(rows)
        new = out["new_entities"].count()
        expected_new = len(batch_keys - seen_keys)
        if new != expected_new:
            problems.append(f"batch {b}: {new} new entities, expected {expected_new}")
        bad, merged = self.oracle.check_clusters(out["clusters"].collect())
        problems += bad
        return {
            "call_s": call_s, "call_cpu_s": call_cpu,
            "read_s": reads, "read_cpu_s": read_cpus, "problems": problems,
            "matched": sum(r.right_key is not None for r in rows),
            "live_dirs": 1 + len(self.inc.committed_batches()),
            "new_ratio": expected_new / max(1, len(batch_keys)),
            "false_merges": merged,
            "persisted_rows": out["new_scores"].count(),
        }

    def finish(self) -> dict:
        """Compaction of the live batch dirs; the state must read the same
        before and after."""
        live = 1 + len(self.inc.committed_batches())
        pre, pre_s, _ = self._reads(self.inc.best_matches)
        _, compact_s, _ = self._measure(self.inc.compact)
        post, post_s, _ = self._reads(self.inc.best_matches)
        problems = self.oracle.check_best(post)
        if len(pre) != len(post) or set(map(tuple, pre)) != set(map(tuple, post)):
            problems.append(
                f"best_matches: {len(pre)} rows before compaction, {len(post)} after"
            )
        return {
            "problems": problems,
            "pre_compact_read_s": statistics.median(pre_s),
            "post_compact_read_s": statistics.median(post_s),
            "compact_s": compact_s, "live_dirs_pre_compact": live,
        }

    def state_dir(self) -> str:
        return os.path.join(self.work, self.job)


WORKLOADS = {w.name: w for w in (ReconPairDense, IncrementalIngest)}
