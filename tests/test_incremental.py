"""Incremental reconciliation: batch-2 ingest over batch-1 state must land
in exactly the clusters a full run over everything produces."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_incremental_equals_full_run(spark, bundle, tmp_path):
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    batch1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    batch2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    # bootstrap state with a full run over batch 1
    inc_work = str(tmp_path / "inc")
    cfg1 = ReconConfig(job_id="j", work_dir=inc_work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg1).run(batch1, bundle["dictionary"])

    # ingest batch 2 incrementally
    inc = IncrementalRecon(spark, inc_work, "j")
    out = inc.ingest_batch(batch2, bundle["dictionary"])
    assert out["new_entities"].count() > 0  # batch 2 contributed new keys

    # ground truth: one full run over all transcripts
    full_work = str(tmp_path / "full")
    cfg2 = ReconConfig(job_id="j", work_dir=full_work, force=True, collect_metrics=False)
    full = ReconPipeline(spark, cfg2).run(t, bundle["dictionary"])

    inc_clusters = {
        r.entity_key: r.cluster_id for r in out["clusters"].collect()
    }
    full_clusters = {
        r.entity_key: r.cluster_id for r in full["clusters"].collect()
    }
    assert inc_clusters == full_clusters

    # asymmetry contract: every scored self pair touches a NEW key —
    # old↔old pairs are never (re)scored by an ingest
    new_keys = {r.entity_key for r in out["new_entities"].collect()}
    self_rows = out["new_scores"].filter(F.col("pair_kind") == "self").collect()
    assert len(self_rows) > 0
    assert all(r.left_key in new_keys or r.right_key in new_keys for r in self_rows)


def test_streaming_ingest_equals_full_run(spark, bundle, tmp_path):
    """foreachBatch streaming ingest over the incremental plan: bootstrap on
    batch 1, stream batch 2 in as multiple micro-batches (maxFilesPerTrigger
    =1), final clusters must equal one full batch run over everything."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )
    from metadata_reconciliation_tool_spark.streaming.ingest_stream import (
        stream_ingest_transcripts,
    )

    t = bundle["transcripts"]
    batch1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    batch2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(batch1, bundle["dictionary"])

    stream_dir = str(tmp_path / "stream_in")
    batch2.repartition(2).write.parquet(stream_dir)  # ≥2 files → ≥2 micro-batches
    q = stream_ingest_transcripts(
        spark,
        stream_dir,
        bundle["dictionary"],
        work,
        "j",
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    inc = IncrementalRecon(spark, work, "j")
    committed = inc.committed_batches()
    assert len(committed) >= 2 and all(b.startswith("s") for b in committed)

    full_work = str(tmp_path / "full")
    cfg2 = ReconConfig(job_id="j", work_dir=full_work, force=True, collect_metrics=False)
    full = ReconPipeline(spark, cfg2).run(t, bundle["dictionary"])
    got = {
        r.entity_key: r.cluster_id
        for r in IncrementalRecon(spark, work, "j").clusters_state().collect()
    }
    want = {r.entity_key: r.cluster_id for r in full["clusters"].collect()}
    assert got == want


def test_cluster_refresh_heals_unreflected_batches(spark, bundle, tmp_path):
    """Crash window: batch committed but the cluster refresh never ran. The
    next ingest must fold the unreflected batch's match edges back in (via
    clusters_reflect.json) — prior-star compression alone would lose them."""
    import os
    import shutil

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    parts = [t.filter(F.crc32(F.col("conv_id")) % 3 == i) for i in range(3)]

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(parts[0], bundle["dictionary"])

    clusters_dir = f"{work}/j/stage_clusters"
    saved = str(tmp_path / "saved_clusters")
    shutil.copytree(clusters_dir, saved)  # bootstrap-time clusters

    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(parts[1], bundle["dictionary"])
    # simulate the crash: batch b0 is committed, but roll clusters + reflect
    # sidecar back to their pre-ingest state
    shutil.rmtree(clusters_dir)
    shutil.copytree(saved, clusters_dir)
    os.remove(f"{work}/j/clusters_reflect.json")

    out = IncrementalRecon(spark, work, "j").ingest_batch(
        parts[2], bundle["dictionary"]
    )

    full_work = str(tmp_path / "full")
    cfg2 = ReconConfig(job_id="j", work_dir=full_work, force=True, collect_metrics=False)
    full = ReconPipeline(spark, cfg2).run(t, bundle["dictionary"])
    got = {r.entity_key: r.cluster_id for r in out["clusters"].collect()}
    want = {r.entity_key: r.cluster_id for r in full["clusters"].collect()}
    assert got == want


def test_incremental_crash_recovery_reingests_partial_batch(spark, bundle, tmp_path):
    """A crash between the two state writes must leave the batch invisible
    (uncommitted) so the rerun re-ingests it — round 1 appended
    entities_distinct first, permanently losing the batch's scores."""
    import shutil

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    batch1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    batch2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(batch1, bundle["dictionary"])

    inc = IncrementalRecon(spark, work, "j")
    out = inc.ingest_batch(batch2, bundle["dictionary"])
    clean_clusters = {r.entity_key: r.cluster_id for r in out["clusters"].collect()}
    assert inc.committed_batches() == ["b0"]

    # simulate the crash: entities_distinct written, scoring + marker lost
    bdir = f"{work}/j/batches/b0"
    shutil.rmtree(f"{bdir}/scoring")
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import COMMIT_MARKER

    os.remove(f"{bdir}/{COMMIT_MARKER}")
    assert inc.committed_batches() == []  # partial batch is invisible

    # rerun: same auto batch_id (b0), overwrites leftovers, commits
    out2 = IncrementalRecon(spark, work, "j").ingest_batch(batch2, bundle["dictionary"])
    assert IncrementalRecon(spark, work, "j").committed_batches() == ["b0"]
    got = {r.entity_key: r.cluster_id for r in out2["clusters"].collect()}
    assert got == clean_clusters
    assert out2["new_scores"].count() > 0  # scores re-ingested, not lost


def test_redelivery_of_committed_batch_is_noop(spark, bundle, tmp_path):
    """ADVICE r02 (high): re-calling ingest_batch with an ALREADY-committed
    batch_id (streaming redelivery after a crash between _COMMITTED and the
    checkpoint advancing) must be a no-op — round 2 recomputed an empty
    delta and overwrote the committed dirs with empty frames."""
    import hashlib
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    batch1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    batch2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(batch1, bundle["dictionary"])

    inc = IncrementalRecon(spark, work, "j")
    out1 = inc.ingest_batch(batch2, bundle["dictionary"], batch_id="s000001")
    n_entities = out1["new_entities"].count()
    n_scores = out1["new_scores"].count()
    clusters1 = {r.entity_key: r.cluster_id for r in out1["clusters"].collect()}
    assert n_entities > 0 and n_scores > 0

    def state_digest() -> str:
        h = hashlib.sha256()
        bdir = f"{work}/j/batches/s000001"
        for sub in ("entities_distinct", "scoring"):
            for fname in sorted(os.listdir(f"{bdir}/{sub}")):
                if fname.startswith("."):
                    continue
                with open(f"{bdir}/{sub}/{fname}", "rb") as fh:
                    h.update(fname.encode())
                    h.update(fh.read())
        return h.hexdigest()

    before = state_digest()

    # redeliver the SAME committed batch (at-least-once channel)
    out2 = IncrementalRecon(spark, work, "j").ingest_batch(
        batch2, bundle["dictionary"], batch_id="s000001"
    )
    assert state_digest() == before  # byte-identical state — true no-op
    assert out2["new_entities"].count() == n_entities
    assert out2["new_scores"].count() == n_scores
    clusters2 = {r.entity_key: r.cluster_id for r in out2["clusters"].collect()}
    assert clusters2 == clusters1


def test_redelivery_heals_unreflected_clusters(spark, bundle, tmp_path):
    """Redelivery of a committed batch whose cluster refresh was lost (crash
    after _COMMITTED, before the clusters stage) must heal the clusters —
    the no-op guard may not skip the reflect-sidecar check."""
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    batch1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    batch2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(batch1, bundle["dictionary"])

    inc = IncrementalRecon(spark, work, "j")
    out1 = inc.ingest_batch(batch2, bundle["dictionary"], batch_id="s000001")
    clusters1 = {r.entity_key: r.cluster_id for r in out1["clusters"].collect()}

    # simulate crash-after-commit-before-refresh: roll the reflect sidecar
    # and clusters back to the bootstrap state
    os.remove(f"{work}/j/clusters_reflect.json")
    import shutil

    shutil.rmtree(f"{work}/j/stage_clusters")
    cfg_rebuild = ReconConfig(job_id="j", work_dir=work, collect_metrics=False)
    ReconPipeline(spark, cfg_rebuild).run(batch1, bundle["dictionary"])  # resume rebuilds bootstrap clusters only

    out2 = IncrementalRecon(spark, work, "j").ingest_batch(
        batch2, bundle["dictionary"], batch_id="s000001"
    )
    clusters2 = {r.entity_key: r.cluster_id for r in out2["clusters"].collect()}
    assert clusters2 == clusters1


def _state_rows(spark, work, names=("entities_distinct", "scoring")):
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon

    inc = IncrementalRecon(spark, work, "j")
    out = {}
    for name in names:
        df = inc._read_state(name)
        out[name] = sorted(map(tuple, df.collect()))
    return out


def test_compaction_preserves_state_and_drops_batch_dirs(spark, bundle, tmp_path):
    """Round-2 verdict item 4: compact() folds committed batch dirs into one
    consolidated dir — reads identical before/after, old dirs gone, and the
    next auto-id ingest still lands in the clusters a full run produces."""
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(b2, bundle["dictionary"])
    inc.ingest_batch(b3, bundle["dictionary"])
    assert inc.committed_batches() == ["b0", "b1"]

    before = _state_rows(spark, work)
    clusters_before = sorted(map(tuple, inc.clusters_state().collect()))

    cid = inc.compact()
    assert cid == "compact000000"
    assert inc.committed_batches() == [cid]
    assert not os.path.isdir(f"{work}/j/batches/b0")
    assert not os.path.isdir(f"{work}/j/batches/b1")
    assert _state_rows(spark, work) == before
    clusters_after = sorted(map(tuple, inc.clusters_state().collect()))
    assert clusters_after == clusters_before

    # compact of a single consolidated dir is a no-op
    assert inc.compact() is None

    # post-compaction ingest: auto id must NOT reuse a covered id
    more = inc.ingest_batch(
        bundle["transcripts"].limit(0), bundle["dictionary"]
    )  # empty batch exercises the id path cheaply
    assert inc.committed_batches() == [f"b{2}", cid] or inc.committed_batches() == [
        "b2",
        cid,
    ]
    assert more["new_entities"].count() == 0


def test_compaction_crash_before_cleanup_heals(spark, bundle, tmp_path):
    """Crash between the compaction commit and the covered-dir cleanup:
    leftover covered dirs are invisible to reads and removed at the next
    ingest entry."""
    import os
    import shutil

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(b2, bundle["dictionary"])
    inc.ingest_batch(b3, bundle["dictionary"])

    # stash a committed batch dir to re-plant after compaction (simulates
    # the cleanup step never running)
    stash = str(tmp_path / "stash_b0")
    shutil.copytree(f"{work}/j/batches/b0", stash)
    before = _state_rows(spark, work)
    inc.compact()
    shutil.copytree(stash, f"{work}/j/batches/b0")  # crash-before-cleanup state

    # the replanted covered dir is invisible: reads identical, not listed
    assert inc.committed_batches() == ["compact000000"]
    assert _state_rows(spark, work) == before

    # next ingest heals: covered leftover removed
    inc.ingest_batch(bundle["transcripts"].limit(0), bundle["dictionary"])
    assert not os.path.isdir(f"{work}/j/batches/b0")


def test_auto_compaction_triggers_at_threshold(spark, bundle, tmp_path):
    """auto_compact_every=2: once at least 2 batches are committed AND a
    newer live batch exists, the older ones fold into one consolidated dir
    from inside ingest_batch — the just-ingested batch stays live so the
    RETURNED delta frames remain evaluable — and reads stay identical to a
    twin run with auto-compaction disabled."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 4 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 4 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 4 == 2)
    b4 = t.filter(F.crc32(F.col("conv_id")) % 4 == 3)

    runs = {}
    deltas = {}
    for label, every in (("auto", 2), ("plain", None)):
        work = str(tmp_path / label)
        cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
        ReconPipeline(spark, cfg).run(b1, bundle["dictionary"])
        inc = IncrementalRecon(spark, work, "j", auto_compact_every=every)
        inc.ingest_batch(b2, bundle["dictionary"], batch_id="b0")
        inc.ingest_batch(b3, bundle["dictionary"], batch_id="b1")
        out = inc.ingest_batch(b4, bundle["dictionary"], batch_id="b2")
        # the RETURNED delta frames must stay evaluable AFTER the ingest
        # that triggered auto-compaction (a lazy plan over the pre-batch
        # state union would read dirs compaction just deleted)
        deltas[label] = (out["new_entities"].count(), out["new_scores"].count())
        runs[label] = (inc, work)

    auto, auto_work = runs["auto"]
    plain, plain_work = runs["plain"]
    # b0+b1 folded; b2 (the live batch backing the returned deltas) kept
    assert auto.committed_batches() == ["b2", "compact000000"]
    assert plain.committed_batches() == ["b0", "b1", "b2"]
    assert deltas["auto"] == deltas["plain"]
    assert _state_rows(spark, auto_work) == _state_rows(spark, plain_work)


def test_redelivery_of_compacted_batch_is_noop(spark, bundle, tmp_path):
    """Redelivery of a batch whose dir compaction already folded away must
    be a no-op with empty delta frames — NOT a re-ingest that writes a
    phantom empty committed dir under a manifest-masked id."""
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(b2, bundle["dictionary"], batch_id="s000001")
    inc.ingest_batch(b3, bundle["dictionary"], batch_id="s000002")
    inc.compact()
    assert inc.committed_batches() == ["compact000000"]
    before = _state_rows(spark, work)

    out = inc.ingest_batch(b2, bundle["dictionary"], batch_id="s000001")
    assert out["new_entities"].count() == 0
    assert out["new_scores"].count() == 0
    assert out["clusters"].count() > 0
    assert not os.path.isdir(f"{work}/j/batches/s000001")  # no phantom dir
    assert inc.committed_batches() == ["compact000000"]
    assert _state_rows(spark, work) == before


def test_thresholds_persisted_at_bootstrap_and_inherited(spark, bundle, tmp_path):
    """ADVICE r3 medium: a bootstrap scored under a non-default decision bar
    must not silently diverge from an incremental session constructed with
    defaults — the bars are persisted in job_config.json and read back."""
    import pytest

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    work = str(tmp_path / "inc")
    cfg = ReconConfig(
        job_id="j", work_dir=work, force=True, collect_metrics=False,
        match_threshold=0.65, success_threshold=0.42,
    )
    ReconPipeline(spark, cfg).run(
        t.filter(F.crc32(F.col("conv_id")) % 2 == 0), bundle["dictionary"]
    )

    # default-constructed incremental inherits the persisted bars
    inc = IncrementalRecon(spark, work, "j")
    assert inc.match_threshold == 0.65
    assert inc.success_threshold == 0.42

    # explicitly repeating the persisted bars is fine
    ok = IncrementalRecon(spark, work, "j", match_threshold=0.65,
                          success_threshold=0.42)
    assert ok.success_threshold == 0.42

    # contradicting them raises instead of silently rescoring under new bars
    with pytest.raises(ValueError, match="success_threshold"):
        IncrementalRecon(spark, work, "j", success_threshold=0.5)
    with pytest.raises(ValueError, match="match_threshold"):
        IncrementalRecon(spark, work, "j", match_threshold=0.8)

    # no job_config.json (state from an older build) → module defaults
    legacy = IncrementalRecon(spark, str(tmp_path / "nothere"), "j")
    assert legacy.match_threshold == 0.70
    assert legacy.success_threshold == 0.5


def test_ambiguous_single_dot_stage_target_warns(spark):
    """ADVICE r3 low: db.table (single dot, no slash) is treated as a
    relative path — but loudly, once."""
    import warnings

    from metadata_reconciliation_tool_spark.sources import writers as W

    W._WARNED_AMBIGUOUS.discard("db.table")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert W._is_table_identifier("db.table") is False
        assert W._is_table_identifier("catalog.db.table") is True
        assert W._is_table_identifier("out/db.table") is False
    msgs = [str(w.message) for w in caught]
    assert any("ambiguous" in m for m in msgs)
    # warned once per target only
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        W._is_table_identifier("db.table")
    assert not [w for w in again if "ambiguous" in str(w.message)]


def _dir_snapshot(d):
    import os

    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[p] = (os.path.getmtime(p), os.path.getsize(p))
    return out


def test_leveled_compaction_excludes_prior_consolidated_dir(spark, bundle, tmp_path):
    """Round-3 verdict item 2: a compaction cycle must not re-read or
    rewrite the previous consolidated dir — bytes scale with the batches
    since the last compaction, not with total state. Proven by file-level
    snapshot: compact000000 is bit-untouched by the second compact()."""
    import json
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    parts = [t.filter(F.crc32(F.col("conv_id")) % 5 == i) for i in range(5)]
    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(parts[0], bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(parts[1], bundle["dictionary"], batch_id="s000001")
    inc.ingest_batch(parts[2], bundle["dictionary"], batch_id="s000002")
    assert inc.compact() == "compact000000"

    snap0 = _dir_snapshot(f"{work}/j/batches/compact000000")

    inc.ingest_batch(parts[3], bundle["dictionary"], batch_id="s000003")
    inc.ingest_batch(parts[4], bundle["dictionary"], batch_id="s000004")
    before = _state_rows(spark, work)
    assert inc.compact() == "compact000001"

    # L0 fold only: prior consolidated dir live, bit-untouched, NOT covered
    assert inc.committed_batches() == ["compact000000", "compact000001"]
    assert _dir_snapshot(f"{work}/j/batches/compact000000") == snap0
    with open(f"{work}/j/batches/compact000001/covers.json") as fh:
        assert json.load(fh) == ["s000003", "s000004"]
    assert not os.path.isdir(f"{work}/j/batches/s000003")
    assert _state_rows(spark, work) == before


def test_consolidated_dirs_merge_at_level_threshold(spark, bundle, tmp_path):
    """L1: only when merge_consolidated_at consolidated dirs accumulate do
    they fold together; the merged manifest covers TRANSITIVELY, so a
    redelivered batch id two levels deep is still a recognized no-op."""
    import json

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    parts = [t.filter(F.crc32(F.col("conv_id")) % 5 == i) for i in range(5)]
    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(parts[0], bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(parts[1], bundle["dictionary"], batch_id="s000001")
    inc.ingest_batch(parts[2], bundle["dictionary"], batch_id="s000002")
    assert inc.compact() == "compact000000"

    inc.ingest_batch(parts[3], bundle["dictionary"], batch_id="s000003")
    inc.ingest_batch(parts[4], bundle["dictionary"], batch_id="s000004")
    before = _state_rows(spark, work)
    # merge_consolidated_at=2: L0 folds the fresh dirs -> compact000001,
    # then L1 merges [compact000000, compact000001] -> compact000002
    assert inc.compact(merge_consolidated_at=2) == "compact000002"
    assert inc.committed_batches() == ["compact000002"]
    with open(f"{work}/j/batches/compact000002/covers.json") as fh:
        covers = set(json.load(fh))
    # transitive: the per-batch ids folded away at L0 stay covered
    assert {"compact000000", "compact000001",
            "s000001", "s000002", "s000003", "s000004"} <= covers
    assert _state_rows(spark, work) == before

    # redelivery of a batch two fold-levels deep is a no-op (not a phantom
    # empty re-ingest): its id is still recognized via transitive covers
    out = inc.ingest_batch(parts[1], bundle["dictionary"], batch_id="s000001")
    assert out["new_entities"].count() == 0
    assert out["new_scores"].count() == 0
    assert inc.committed_batches() == ["compact000002"]
    assert _state_rows(spark, work) == before


def test_dict_broadcast_gate_reprobes_on_dictionary_change(spark, bundle, tmp_path):
    """ADVICE r4 low: the broadcast-gate verdict is keyed on the dictionary
    plan's identity — an ingest with a DIFFERENT dictionary re-probes
    instead of reusing a stale verdict."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)
    work = str(tmp_path / "w")
    ReconPipeline(
        spark, ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ).run(b1, bundle["dictionary"])

    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(b2, bundle["dictionary"])
    assert len(inc._dict_broadcast) == 1
    # same dictionary again: cached, no new entry
    inc.ingest_batch(b3, bundle["dictionary"], batch_id="bx")
    assert len(inc._dict_broadcast) == 1
    # a different dictionary (extra row) gets its own probed verdict
    extra = bundle["dictionary"].unionByName(bundle["dictionary"].limit(1))
    inc.ingest_batch(b3.limit(0), extra, batch_id="by")
    assert len(inc._dict_broadcast) == 2


def test_read_state_survives_empty_partitioned_bootstrap(spark, bundle, tmp_path):
    """ADVICE r4 low: a bootstrap whose partitioned scoring stage is EMPTY
    (zero candidate pairs) must stay readable — _read_state goes through
    read_stage's _schema anchor instead of a bare spark.read.parquet."""
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.sources import writers as W

    work = str(tmp_path / "w")
    base = os.path.join(work, "j")
    # bootstrap with rows in entities_distinct but an EMPTY partitioned
    # scoring stage — the exact shape a zero-candidate bootstrap writes
    ents = spark.createDataFrame(
        [("e1", "n", "n", "person")],
        "entity_key string, name string, norm_name string, entity_type string",
    )
    W.write_stage(ents, os.path.join(base, "stage_entities_distinct"))
    scores = spark.createDataFrame(
        [],
        "left_key string, right_key string, score double, is_match boolean, "
        "pair_kind string",
    )
    W.write_stage(scores, os.path.join(base, "stage_scoring"), ["pair_kind"])
    inc = IncrementalRecon(spark, work, "j")
    assert inc._read_state("scoring").count() == 0
    assert inc._read_state("entities_distinct").count() == 1


def test_read_state_schema_equals_inferred_union(spark, bundle, tmp_path):
    """State reads pass the bootstrap stage's schema instead of inferring
    one per dir; after two ingests they must still equal the per-dir
    inferred union — same column names, types and rows."""
    import os
    from functools import reduce

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )
    from metadata_reconciliation_tool_spark.sources import writers as W

    t = bundle["transcripts"]
    work = str(tmp_path / "inc")
    ReconPipeline(
        spark,
        ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False),
    ).run(t.filter(F.crc32(F.col("conv_id")) % 3 == 0), bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j", auto_compact_every=None)
    for k in (1, 2):
        inc.ingest_batch(
            t.filter(F.crc32(F.col("conv_id")) % 3 == k), bundle["dictionary"]
        )
    batches = inc.committed_batches()
    assert len(batches) == 2

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    for name in ("entities_distinct", "scoring", "best"):
        inferred = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=False),
            [W.read_stage(spark, os.path.join(work, "j", f"stage_{name}"))]
            + [
                spark.read.parquet(os.path.join(work, "j", "batches", b, name))
                for b in batches
            ],
        )
        got = inc._read_state(name)
        assert got.columns == inferred.columns, name
        assert [f.dataType for f in got.schema] == [
            f.dataType for f in inferred.schema
        ], name
        assert rows(got) == rows(inferred), name


def test_incremental_best_equals_full_run(spark, bundle, tmp_path):
    """Round-4 verdict item 2: after N ingests, best_matches() must equal
    the full-run stage_best exactly — post-bootstrap entities get best
    rows too, and old entities' rows are untouched."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)

    inc_work = str(tmp_path / "inc")
    ReconPipeline(
        spark,
        ReconConfig(job_id="j", work_dir=inc_work, force=True, collect_metrics=False),
    ).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, inc_work, "j")
    out2 = inc.ingest_batch(b2, bundle["dictionary"])
    out3 = inc.ingest_batch(b3, bundle["dictionary"])
    # the delta covers exactly the batch's new entities
    assert out2["new_best"].count() == out2["new_entities"].count()
    assert out3["new_best"].count() == out3["new_entities"].count()

    full_work = str(tmp_path / "full")
    full = ReconPipeline(
        spark,
        ReconConfig(job_id="j", work_dir=full_work, force=True, collect_metrics=False),
    ).run(t, bundle["dictionary"])

    got = sorted(map(tuple, inc.best_matches().collect()))
    want = sorted(map(tuple, full["best"].collect()))
    assert got == want and len(got) > 0
    # and post-bootstrap entities really do have matched best rows
    new_keys = {r.entity_key for r in out2["new_entities"].collect()}
    matched_new = [
        r for r in inc.best_matches().collect()
        if r.entity_key in new_keys and r.right_key is not None
    ]
    assert matched_new


def test_incremental_best_redelivery_noop_and_compaction(spark, bundle, tmp_path):
    """Redelivering a committed batch must not duplicate best rows, and
    compaction must carry the best deltas into the consolidated dir."""
    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 3 == 1)
    b3 = t.filter(F.crc32(F.col("conv_id")) % 3 == 2)
    work = str(tmp_path / "w")
    ReconPipeline(
        spark,
        ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False),
    ).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    inc.ingest_batch(b2, bundle["dictionary"], batch_id="k2")
    inc.ingest_batch(b3, bundle["dictionary"], batch_id="k3")
    before = sorted(map(tuple, inc.best_matches().collect()))

    # redelivery of a committed batch: no-op, stored delta returned
    again = inc.ingest_batch(b2, bundle["dictionary"], batch_id="k2")
    assert again["new_best"].count() > 0
    assert sorted(map(tuple, inc.best_matches().collect())) == before

    # compaction folds the deltas; reader output unchanged
    cid = inc.compact()
    assert cid is not None
    assert sorted(map(tuple, inc.best_matches().collect())) == before

    # redelivery of a now-compacted batch: empty delta, state unchanged
    ghost = inc.ingest_batch(b2, bundle["dictionary"], batch_id="k2")
    assert ghost["new_best"].count() == 0
    assert sorted(map(tuple, inc.best_matches().collect())) == before


def test_cluster_refresh_writes_touched_overlay_not_corpus(spark, bundle, tmp_path):
    """Round-5 verdict item 1: a per-batch cluster refresh must write an
    overlay that scales with the batch's touched components — and must
    never rewrite the bootstrap clusters stage. Proven two ways: the base
    stage is file-level bit-untouched by the ingest, and the written delta
    holds (touched members + the batch's new entities) rows, far below the
    corpus count."""
    import os

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    # bootstrap on most of the corpus, ingest a smaller slice
    big = t.filter(F.crc32(F.col("conv_id")) % 3 != 0)
    small = t.filter(F.crc32(F.col("conv_id")) % 3 == 0)

    work = str(tmp_path / "inc")
    cfg = ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False)
    ReconPipeline(spark, cfg).run(big, bundle["dictionary"])
    corpus_rows = spark.read.parquet(f"{work}/j/stage_clusters").count()

    base_snap = _dir_snapshot(f"{work}/j/stage_clusters")
    inc = IncrementalRecon(spark, work, "j")
    out = inc.ingest_batch(small, bundle["dictionary"])
    n_new = out["new_entities"].count()
    assert n_new > 0

    # the base stage was not rewritten — byte-identical files
    assert _dir_snapshot(f"{work}/j/stage_clusters") == base_snap

    # the overlay exists and is batch-scaled: every row is either a new
    # entity or a member of a component touched by the batch's match edges
    delta_path = f"{work}/j/batches/b0/clusters_delta"
    assert os.path.isdir(delta_path)
    delta = spark.read.parquet(delta_path)
    n_delta = delta.count()
    assert n_delta < corpus_rows
    edges = out["new_scores"].filter("pair_kind = 'self' and is_match")
    endpoints = {r.left_key for r in edges.collect()} | {
        r.right_key for r in edges.collect()
    }
    prior = {
        r.entity_key: r.cluster_id
        for r in spark.read.parquet(f"{work}/j/stage_clusters").collect()
    }
    touched_cids = {prior[k] for k in endpoints if k in prior}
    touched_members = {k for k, c in prior.items() if c in touched_cids}
    new_keys = {r.entity_key for r in out["new_entities"].collect()}
    allowed = touched_members | new_keys
    got_keys = {r.entity_key for r in delta.collect()}
    assert got_keys <= allowed
    assert new_keys <= got_keys  # every new entity got an assignment row

    # and the resolved view equals a full run over everything
    full = ReconPipeline(
        spark,
        ReconConfig(
            job_id="j", work_dir=str(tmp_path / "full"), force=True,
            collect_metrics=False,
        ),
    ).run(t, bundle["dictionary"])
    got = {r.entity_key: r.cluster_id for r in out["clusters"].collect()}
    want = {r.entity_key: r.cluster_id for r in full["clusters"].collect()}
    assert got == want


def test_persisted_scores_policy_inherited_by_ingest(spark, bundle, tmp_path):
    """Batch scoring dirs follow the bootstrap's persisted-scores policy
    (job_config.json pruned_dict_top_k): no pruned self rows, pruned dict
    rows capped per entity. A pre-round-5 bootstrap config WITHOUT the key
    persists everything — matching what that bootstrap actually wrote."""
    import json

    from metadata_reconciliation_tool_spark.plans.incremental import IncrementalRecon
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    t = bundle["transcripts"]
    b1 = t.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    b2 = t.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    work = str(tmp_path / "inc")
    ReconPipeline(
        spark,
        ReconConfig(job_id="j", work_dir=work, force=True, collect_metrics=False),
    ).run(b1, bundle["dictionary"])
    inc = IncrementalRecon(spark, work, "j")
    assert inc.pruned_dict_top_k == 10
    out = inc.ingest_batch(b2, bundle["dictionary"])
    ns = out["new_scores"]
    assert ns.filter("score_pruned and pair_kind = 'self'").count() == 0
    over = (
        ns.filter("score_pruned")
        .groupBy("left_key", "pair_kind")
        .count()
        .filter(F.col("count") > 10)
        .count()
    )
    assert over == 0

    # pre-round-5 config (no pruned_dict_top_k key) → persist everything
    cfg_path = f"{work}/j/job_config.json"
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    cfg.pop("pruned_dict_top_k")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    legacy = IncrementalRecon(spark, work, "j")
    assert legacy.pruned_dict_top_k is None
