"""Idempotent-resume fixture (FIXTURES.md F6): OLD-run → commit → NEW-run
must equal the one-shot run at every tier; replays are no-ops; retention
drops are metadata-only. The Spark recast of the reference's update-mode
consistency test (/root/reference/kf/utils/split_data_4test.py:25-50)."""

import pytest
from pyspark.sql import functions as F

from kfts_insar_spark.operators.compress import decompress_tier
from kfts_insar_spark.pipeline import TierPipeline
from kfts_insar_spark.synth import sequences

N = 4000


def _tier_rows(spark, pipe, tier):
    df = pipe.read_tier(spark, tier)
    if df is None:
        return []
    cols = [c for c in df.columns if c != "pday"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def seq(spark):
    return sequences(spark, N).cache()


def test_split_run_equals_oneshot(spark, seq, tmp_path_factory):
    one = TierPipeline(str(tmp_path_factory.mktemp("oneshot")))
    res = one.run(spark, seq)
    assert res["status"] == "ok"

    split_es = seq.approxQuantile("ingest_es", [0.5], 0)[0]
    two = TierPipeline(str(tmp_path_factory.mktemp("split")))
    r1 = two.run(spark, seq.filter(F.col("ingest_es") <= split_es))
    r2 = two.run(spark, seq)  # resumes: only slots past the watermark
    assert r1["status"] == r2["status"] == "ok"
    assert r2["watermark_es"] > r1["watermark_es"]

    for tier in ("raw", "1h", "1d", "gapfilled"):
        assert _tier_rows(spark, one, tier) == _tier_rows(spark, two, tier), tier

    # compressed tier decodes to the raw tier exactly
    back = decompress_tier(two.read_tier(spark, "compressed"))
    got = sorted((r.source, r.bucket_es, r.value) for r in back.collect())
    want = sorted(
        (r[0], r[1], float(r[3]))
        for r in _tier_rows(spark, two, "raw")  # (source,bucket,n,sum,min,max)
    )
    assert got == want


def test_replay_is_noop(spark, seq, tmp_path):
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    sid_before = pipe.raw.current_snapshot_id()
    res = pipe.run(spark, seq)
    assert res["status"] == "noop"
    assert pipe.raw.current_snapshot_id() == sid_before


def test_retention_and_time_travel(spark, tmp_path):
    # smaller batches → ~500 slots ≈ 42 h of grid → spans ≥2 UTC days
    seq = sequences(spark, N, docs_per_batch=8)
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    sid = pipe.raw.current_snapshot_id()
    days = sorted(
        r.pday for r in pipe.read_tier(spark, "raw").select("pday").distinct().collect()
    )
    if len(days) < 2:
        pytest.skip("need ≥2 days of buckets")
    import datetime as dt

    cutoff = int(
        dt.datetime.strptime(days[1], "%Y-%m-%d")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
    pipe.expire_raw_before(cutoff)
    left = {r.pday for r in pipe.read_tier(spark, "raw").select("pday").distinct().collect()}
    assert days[0] not in left and days[1] in left
    # time travel back to pre-retention snapshot sees the dropped day
    old = pipe.raw.read(spark, snapshot_id=sid)
    assert days[0] in {r.pday for r in old.select("pday").distinct().collect()}
    # 1d tier keeps the downsampled history for the expired day
    assert days[0] in {
        r.pday for r in pipe.read_tier(spark, "1d").select("pday").distinct().collect()
    }


def test_checkpoint_lineage_records_all_stages(spark, seq, tmp_path):
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    entries = pipe.log.entries()
    stages = {e["stage"] for e in entries}
    assert stages == {
        "tier_raw",
        "tier_series",
        "tier_1h",
        "tier_1d",
        "tier_compressed",
        "tier_gapfilled",
    }
    for e in entries:
        assert e["n_rows"] > 0 and e["total_bytes"] > 0
        assert all("bytes" in p and "n_files" in p for p in e["partitions"])


def test_vacuum_drops_only_expired(spark, seq, tmp_path):
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    # second snapshot via an overwrite so snapshot 0 has exclusive files
    import pyspark.sql.functions as F

    h = pipe.read_tier(spark, "1h")
    n_h = h.count()  # materialize BEFORE vacuum (h lazily reads old files)
    pipe.h1.overwrite_partitions(h, ["pday"])
    before = pipe.h1.snapshots()
    assert len(before) >= 2
    res = pipe.h1.vacuum(keep_last=1)
    assert res["removed_snapshots"] == len(before) - 1
    # current snapshot still reads fine
    assert pipe.read_tier(spark, "1h").count() == n_h


def test_retention_keeps_watermark_no_reingest(spark, seq, tmp_path):
    """Regression: drop_partitions must inherit table properties — losing
    watermark_es made the next run re-ingest everything and double-count."""
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    wm = pipe.raw.property("watermark_es")
    days = sorted(
        r.pday
        for r in pipe.read_tier(spark, "raw").select("pday").distinct().collect()
    )
    import datetime as dt

    cutoff = int(
        dt.datetime.strptime(days[-1], "%Y-%m-%d")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
    pipe.expire_raw_before(cutoff)
    assert pipe.raw.property("watermark_es") == wm
    n_after_drop = pipe.read_tier(spark, "raw").count()
    res = pipe.run(spark, seq)  # same input → must be a noop, not a re-ingest
    assert res["status"] == "noop"
    assert pipe.read_tier(spark, "raw").count() == n_after_drop


def test_heal_after_crash_between_commits(spark, seq, tmp_path_factory):
    """Regression: a crash after the raw commit but before the downstream
    commits must be healed on the next run, even if no new data arrives."""
    from kfts_insar_spark.operators.rollup import rollup_raw

    one = TierPipeline(str(tmp_path_factory.mktemp("heal_one")))
    one.run(spark, seq)

    split_es = seq.approxQuantile("ingest_es", [0.5], 0)[0]
    pipe = TierPipeline(str(tmp_path_factory.mktemp("heal_two")))
    pipe.run(spark, seq.filter(F.col("ingest_es") <= split_es))

    # simulate the crash: commit ONLY the raw increment of batch 2
    wm = int(pipe.raw.property("watermark_es"))
    fresh = seq.filter(F.col("ingest_es") > wm)
    hi = int(fresh.agg(F.max("ingest_es")).first()[0])
    inc = rollup_raw(fresh, with_max_ingest=True).withColumn(
        "pday",
        F.date_format(F.timestamp_seconds(F.col("bucket_es")), "yyyy-MM-dd"),
    )
    pipe.raw.append(
        inc, partition_by=["pday"], properties={"watermark_es": hi}, coalesce=4
    )

    res = pipe.run(spark, seq)  # no new data — but the run must heal
    assert res["status"] == "noop"
    for tier in ("raw", "1h", "1d", "gapfilled"):
        assert _tier_rows(spark, one, tier) == _tier_rows(spark, pipe, tier), tier


def test_gapfill_parallelism_shape(spark, seq, tmp_path):
    """The KF stage must operate on (source, shard) sub-series — well above
    the 5-source ceiling — and the state snapshot carries one row each."""
    pipe = TierPipeline(str(tmp_path), kf_shards=16)
    pipe.run(spark, seq)
    st = pipe.read_tier(spark, "state")
    n_series = st.select("doc_id").distinct().count()
    assert n_series > 16, n_series  # ~5 sources × 16 shards
    g = pipe.read_tier(spark, "gapfilled")
    assert g.select("source", "shard").distinct().count() == n_series


def test_resumed_run_task_count(spark, seq, tmp_path):
    """AQE must coalesce the shuffles under the pipeline's persisted frames
    (Kalman kernel, stitch, raw days): a one-hour resumed run is a few KB
    per stage, yet with a cached plan's partitioning left fixed it ran 116
    tasks on this 8-partition session; coalesced it runs 53."""
    import time

    hi = seq.agg(F.max("ingest_es")).first()[0]
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq.filter(F.col("ingest_es") <= hi - 3600))

    # job ids, not a job group: the pipeline's pool threads do not inherit
    # the caller's group
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert pipe.run(spark, seq)["status"] == "ok"
    jobs = sorted(set(tracker.getJobIdsForGroup()) - before)
    assert jobs
    # the status store trails the listener bus: a job reads SUCCEEDED only
    # after all its task and stage events are counted
    deadline = time.monotonic() + 30
    while any(tracker.getJobInfo(j).status != "SUCCEEDED" for j in jobs):
        assert time.monotonic() < deadline, "jobs did not finish"
        time.sleep(0.1)
    tasks = sum(
        si.numCompletedTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if (si := tracker.getStageInfo(s)) is not None
    )
    assert 0 < tasks <= 64, (len(jobs), tasks)


def test_compact_binpacks_small_files(spark, seq, tmp_path):
    """SnapshotTable.compact (Iceberg rewrite_data_files analog): three
    incremental appends leave >=3 files per touched day; compaction
    rewrites each day to one file, preserves rows/values and the table
    properties (watermark), and prior snapshots still read the old files."""
    pipe = TierPipeline(str(tmp_path / "t"))
    cuts = seq.approxQuantile("ingest_es", [0.35, 0.7], 0)
    pipe.run(spark, seq.filter(F.col("ingest_es") <= cuts[0]))
    pipe.run(spark, seq.filter(F.col("ingest_es") <= cuts[1]))
    pipe.run(spark, seq)
    raw = pipe.raw
    before = _tier_rows(spark, pipe, "raw")
    sid_before = raw.current_snapshot_id()
    files_before = len(raw.manifest()["files"])
    wm = raw.property("watermark_es")

    per_day: dict = {}
    for e in raw.manifest()["files"]:
        per_day.setdefault(e["partition"].get("pday"), []).append(e)
    assert any(len(v) >= 2 for v in per_day.values()), "fixture has no small files"

    res = raw.compact(spark, target_bytes=128 * 1024 * 1024, min_files=2)
    assert res["partitions"] >= 1
    assert res["files_after"] < res["files_before"]
    assert len(raw.manifest()["files"]) < files_before
    # one file per compacted day
    per_day_after: dict = {}
    for e in raw.manifest()["files"]:
        per_day_after.setdefault(e["partition"].get("pday"), []).append(e)
    for day, group in per_day.items():
        if len(group) >= 2:
            assert len(per_day_after[day]) == 1, day
    # logical content identical, properties inherited
    assert _tier_rows(spark, pipe, "raw") == before
    assert raw.property("watermark_es") == wm
    # time travel: the pre-compaction snapshot still reads the old files
    old = raw.read(spark, snapshot_id=sid_before)
    cols = [c for c in old.columns if c != "pday"]
    assert sorted(tuple(r) for r in old.select(*cols).collect()) == before
    # and a replayed pipeline run on the compacted table is still a noop
    sid = raw.current_snapshot_id()
    pipe.run(spark, seq)
    assert raw.current_snapshot_id() == sid


def test_concurrent_commit_detected(spark, seq, tmp_path):
    """Optimistic concurrency: a commit planned against a stale parent
    snapshot must fail instead of silently dropping the interleaved
    writer's files (Iceberg commit semantics)."""
    from kfts_insar_spark.sources.snapshot import (
        ConcurrentCommitError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    t.append(df)
    # writer A plans (reads parent), writer B commits in between
    sid, parent = t._next_sid()
    files = t._write_files(df, sid, None)
    t.append(df)  # writer B wins, taking the same snapshot id
    # same-sid race: A must NOT clobber B's committed manifest
    with pytest.raises(ConcurrentCommitError):
        t._commit(sid, files, "append", None, parent)
    # stale-parent race with a fresh sid
    with pytest.raises(ConcurrentCommitError):
        t._commit(sid + 1, files, "append", None, parent)
    # table still reads writer B's state: 20 rows, manifest intact
    assert t.read(spark).count() == 20
    assert t.manifest() is not None


def test_append_stats_properties_and_empty_skip(spark, tmp_path):
    """Manifest column stats (footer min/max), watermark-from-stats via
    properties_fn, and skip_if_empty semantics."""
    from kfts_insar_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(100).selectExpr(
        "id", "id + 1000 AS ies", "CAST(id % 3 AS STRING) AS k"
    )
    sid = t.append(
        df,
        partition_by=["k"],
        stats_cols=["ies"],
        properties_fn=lambda es: {
            "watermark_es": max(int(e["stats"]["ies"][1]) for e in es)
        },
    )
    assert sid == 0
    # stats recorded per file; global max == true max
    entries = t.manifest()["files"]
    assert all("ies" in e.get("stats", {}) for e in entries)
    assert max(int(e["stats"]["ies"][1]) for e in entries) == 1099
    assert min(int(e["stats"]["ies"][0]) for e in entries) == 1000
    assert int(t.property("watermark_es")) == 1099

    # empty increment: no commit, no snapshot advance, properties intact
    empty = df.filter("id < 0")
    assert t.append(empty, partition_by=["k"], skip_if_empty=True) is None
    assert t.current_snapshot_id() == 0
    assert int(t.property("watermark_es")) == 1099
    assert t.read(spark).count() == 100


def test_read_incremental_between_snapshots(spark, tmp_path):
    """Iceberg incremental-scan analog: each commit's delta is readable
    without rescanning the table; overwritten partitions count as added."""
    from kfts_insar_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id", "CAST(id % 2 AS STRING) AS k"
    )
    s0 = t.append(mk(0, 10), partition_by=["k"])
    s1 = t.append(mk(10, 25), partition_by=["k"])
    inc = t.read_incremental(spark, after_snapshot_id=s0, until_snapshot_id=s1)
    assert sorted(r.id for r in inc.collect()) == list(range(10, 25))
    # everything-up-to form
    assert t.read_incremental(spark, None, s0).count() == 10
    # an overwrite's files are that snapshot's delta
    s2 = t.overwrite_partitions(
        mk(100, 104).filter("k = '0'"), ["k"]
    )
    inc2 = t.read_incremental(spark, after_snapshot_id=s1)
    got = sorted(r.id for r in inc2.collect())
    assert got == [100, 102]
    assert t.read_incremental(spark, s2) is None


def test_upsert_merge_semantics(spark, tmp_path):
    """Copy-on-write upsert: matched keys replaced, unmatched carried over,
    untouched partitions metadata-identical, old snapshot time-travels."""
    import pandas as pd

    from kfts_insar_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ups"))
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 3, 4],
                "v": [10, 20, 30, 40],
                "pday": ["d1", "d1", "d2", "d2"],
            }
        )
    )
    sid0 = t.append(base, partition_by=["pday"])
    d2_files_before = {
        e["path"] for e in t.manifest()["files"] if e["partition"]["pday"] == "d2"
    }
    up = spark.createDataFrame(
        pd.DataFrame({"k": [2, 5], "v": [99, 50], "pday": ["d1", "d1"]})
    )
    t.upsert(spark, up, key_cols=["k"], partition_by=["pday"])
    got = {
        (r.k, r.pday): r.v
        for r in t.read(spark).select("k", "v", "pday").collect()
    }
    assert got == {
        (1, "d1"): 10,  # unmatched row in touched partition carried over
        (2, "d1"): 99,  # matched key replaced
        (5, "d1"): 50,  # new key inserted
        (3, "d2"): 30,  # untouched partition intact
        (4, "d2"): 40,
    }
    d2_files_after = {
        e["path"] for e in t.manifest()["files"] if e["partition"]["pday"] == "d2"
    }
    assert d2_files_after == d2_files_before  # metadata-only for d2
    old = {
        (r.k, r.pday): r.v
        for r in t.read(spark, snapshot_id=sid0).select("k", "v", "pday").collect()
    }
    assert old[(2, "d1")] == 20  # time travel sees pre-merge data


def test_correct_raw_restates_tiers(spark, seq, tmp_path):
    """Restating one raw bucket rewrites only its day, cascades into the
    derived tiers, preserves the watermark, and leaves the next run a noop."""
    from kfts_insar_spark.operators.rollup import HOUR_SECONDS

    pipe = TierPipeline(str(tmp_path / "restate"), run_gapfill=False)
    pipe.run(spark, seq)
    wm_before = int(pipe.raw.property("watermark_es"))

    raw = pipe.read_tier(spark, "raw")
    victim = raw.orderBy("source", "bucket_es").first()
    cor = raw.filter(
        (F.col("source") == victim.source)
        & (F.col("bucket_es") == victim.bucket_es)
    ).select(
        "source", "bucket_es",
        (F.col("n_docs") + 0).alias("n_docs"),
        (F.col("sum_tok") + 1000).alias("sum_tok"),
        "min_tok", "max_tok",
    )
    res = pipe.correct_raw(spark, cor)
    assert res["status"] == "restated" and len(res["days"]) == 1

    # raw reflects the correction; watermark preserved; replay is a noop
    got = pipe.read_tier(spark, "raw").filter(
        (F.col("source") == victim.source)
        & (F.col("bucket_es") == victim.bucket_es)
    ).first()
    assert got.sum_tok == victim.sum_tok + 1000
    assert int(pipe.raw.property("watermark_es")) == wm_before
    assert pipe.run(spark, seq)["status"] == "noop"

    # the 1h tier equals a fresh cascade from the corrected raw tier
    from kfts_insar_spark.operators.rollup import TIER_COLS, rollup_cascade

    want = sorted(
        tuple(r)
        for r in rollup_cascade(
            pipe.read_tier(spark, "raw").select(*TIER_COLS), HOUR_SECONDS
        ).collect()
    )
    have = sorted(
        tuple(r)
        for r in pipe.read_tier(spark, "1h").select(*TIER_COLS).collect()
    )
    assert have == want


def test_schema_evolution_read(spark, tmp_path):
    """Iceberg add-column semantics: later commits may add columns; a
    merge_schema read resolves the union schema with NULL backfill for
    pre-evolution files, and time travel still sees the old schema."""
    import pandas as pd

    from kfts_insar_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "evo"))
    sid0 = t.append(
        spark.createDataFrame(
            pd.DataFrame({"k": [1, 2], "v": [10, 20], "pday": ["d1", "d1"]})
        ),
        partition_by=["pday"],
    )
    t.append(
        spark.createDataFrame(
            pd.DataFrame(
                {"k": [3], "v": [30], "quality": [0.9], "pday": ["d2"]}
            )
        ),
        partition_by=["pday"],
    )
    evo = t.read(spark, merge_schema=True)
    assert "quality" in evo.columns
    rows = {r.k: r.quality for r in evo.select("k", "quality").collect()}
    assert rows[3] == pytest.approx(0.9)
    assert rows[1] is None and rows[2] is None  # NULL backfill
    old = t.read(spark, snapshot_id=sid0, merge_schema=True)
    assert "quality" not in old.columns  # time travel: pre-evolution schema


def test_correct_docs_rebuilds_affected_gapfill(spark, seq, tmp_path):
    """Document-level restatement: correct_docs must leave every tier —
    including the KF gap-filled tier and the state table — bit-identical
    to a cold pipeline run on the corrected input, while touching only
    the affected (source, shard) sub-series' state."""
    from kfts_insar_spark.operators.rollup import RAW_SECONDS

    pipe = TierPipeline(str(tmp_path / "a"), kf_shards=4)
    pipe.run(spark, seq)
    state_before = {
        r.doc_id: (r.k_done, r.idx0, tuple(r.m))
        for r in pipe.read_tier(spark, "state").collect()
    }

    # victim: one document; the correction replaces its whole raw bucket's
    # docs with the victim's n_tok bumped
    victim = seq.orderBy("doc_id").first()
    vb = (victim.ingest_es // RAW_SECONDS) * RAW_SECONDS
    bucket_docs = seq.filter(
        (F.col("source") == victim.source)
        & ((F.col("ingest_es") / RAW_SECONDS).cast("long") * RAW_SECONDS == vb)
    )
    cor_docs = bucket_docs.withColumn(
        "n_tok",
        F.when(F.col("doc_id") == victim.doc_id, F.col("n_tok") + 500).otherwise(
            F.col("n_tok")
        ),
    )
    res = pipe.correct_docs(spark, cor_docs)
    assert res["status"] == "restated"
    assert res["rebuilt_subseries"] >= 1
    assert res["rows"]["gap_rebuilt"] > 0

    # cold pipeline on the corrected input
    seq_cor = seq.withColumn(
        "n_tok",
        F.when(F.col("doc_id") == victim.doc_id, F.col("n_tok") + 500).otherwise(
            F.col("n_tok")
        ),
    )
    cold = TierPipeline(str(tmp_path / "b"), kf_shards=4)
    cold.run(spark, seq_cor)

    for tier in ("raw", "1h", "1d", "series", "gapfilled"):
        assert _tier_rows(spark, pipe, tier) == _tier_rows(spark, cold, tier), tier

    # state: affected sub-series equal the cold run's; untouched sub-series
    # keep their exact pre-correction rows
    state_after = {
        r.doc_id: (r.k_done, r.idx0, tuple(r.m))
        for r in pipe.read_tier(spark, "state").collect()
    }
    state_cold = {
        r.doc_id: (r.k_done, r.idx0, tuple(r.m))
        for r in cold.read_tier(spark, "state").collect()
    }
    assert state_after == state_cold
    affected = {
        f"{victim.source}/{r.shard}"
        for r in cor_docs.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int").alias("shard")
        ).distinct().collect()
    }
    for doc, st in state_after.items():
        if doc not in affected:
            assert st == state_before[doc], f"untouched {doc} state changed"

    # correction preserved the watermark → replay is still a noop
    assert pipe.run(spark, seq_cor)["status"] == "noop"


def test_remove_orphans_deletes_failed_commit_debris(spark, tmp_path):
    """Files written by a commit that never landed (crash or
    ConcurrentCommitError loser) are in NO manifest — vacuum can't see
    them; remove_orphans deletes them, honoring the in-flight grace
    window, without touching committed files."""
    import os

    from kfts_insar_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(10).selectExpr("id", "cast(id % 2 as int) as k")
    t.append(df)
    committed = [e["path"] for e in t.manifest()["files"]]

    # stage the failed commit: data files land, manifest never swaps
    sid, _parent = t._next_sid()
    orphans = [e["path"] for e in t._write_files(df, sid, None)]
    assert all(os.path.exists(p) for p in orphans)

    # a young orphan is protected (a live writer holds exactly this state)
    assert t.remove_orphans(older_than_seconds=3600)["removed_files"] == 0
    assert all(os.path.exists(p) for p in orphans)

    res = t.remove_orphans(older_than_seconds=-1)
    assert res["removed_files"] >= len(orphans)
    assert not any(os.path.exists(p) for p in orphans)
    # committed data intact, table still reads
    assert all(os.path.exists(p) for p in committed)
    assert t.read(spark).count() == 10
    # idempotent
    assert t.remove_orphans(older_than_seconds=-1)["removed_files"] == 0


def test_maintain_compacts_and_reclaims(spark, seq, tmp_path):
    """maintain() runs compaction + snapshot expiry + orphan GC across
    every tier without changing any table's current content, watermark,
    or the next run's noop status."""
    import os

    pipe = TierPipeline(str(tmp_path / "m"), kf_shards=4)
    split_es = seq.approxQuantile("ingest_es", [0.5], 0)[0]
    pipe.run(spark, seq.filter(F.col("ingest_es") <= split_es))
    pipe.run(spark, seq)  # second commit → expirable snapshots
    before = {t: _tier_rows(spark, pipe, t) for t in ("raw", "1h", "gapfilled")}
    wm = int(pipe.raw.property("watermark_es"))

    # stage failed-commit debris on the state table
    st_df = pipe.read_tier(spark, "state")
    staged = pipe.kf_state.stage_all(st_df)
    orphans = [e["path"] for e in staged["files"]]

    rep = pipe.maintain(spark, keep_snapshots=1, orphan_grace_seconds=-1)
    assert set(rep) == {"raw", "1h", "1d", "compressed", "series",
                       "gapfilled", "state"}
    assert sum(r["expired_snapshots"] for r in rep.values()) > 0
    assert not any(os.path.exists(p) for p in orphans)
    for t, rows in before.items():
        assert _tier_rows(spark, pipe, t) == rows, t
    assert int(pipe.raw.property("watermark_es")) == wm
    assert pipe.run(spark, seq)["status"] == "noop"


def test_correct_docs_multi_bucket_multi_source(spark, seq, tmp_path):
    """Restatement spanning several buckets and sources in ONE correction
    frame still equals the cold run — the partition-granular CoW and the
    sub-series rebuild must compose (the test fixture's ingest window is
    one UTC day, so the span axis here is buckets × sources)."""
    from kfts_insar_spark.operators.rollup import RAW_SECONDS

    pipe = TierPipeline(str(tmp_path / "a"), kf_shards=4)
    pipe.run(spark, seq)

    # victims: earliest and latest docs overall (different days by
    # construction of the synthetic ingest window) + a mid doc
    vs = seq.orderBy("ingest_es").limit(1).collect() + \
         seq.orderBy(F.col("ingest_es").desc()).limit(1).collect()
    buckets = {(v.source, (v.ingest_es // RAW_SECONDS) * RAW_SECONDS) for v in vs}
    vids = {v.doc_id for v in vs}
    cond = None
    for s, b in buckets:
        c = (F.col("source") == s) & (
            (F.col("ingest_es") / RAW_SECONDS).cast("long") * RAW_SECONDS == b
        )
        cond = c if cond is None else (cond | c)
    bucket_docs = seq.filter(cond)
    bump = F.when(F.col("doc_id").isin(vids), F.col("n_tok") + 123).otherwise(
        F.col("n_tok")
    )
    assert len(buckets) >= 2  # the correction really spans buckets/sources
    res = pipe.correct_docs(spark, bucket_docs.withColumn("n_tok", bump))
    assert res["status"] == "restated"

    cold = TierPipeline(str(tmp_path / "b"), kf_shards=4)
    cold.run(spark, seq.withColumn("n_tok", bump))
    for tier in ("raw", "1h", "1d", "series", "gapfilled"):
        assert _tier_rows(spark, pipe, tier) == _tier_rows(spark, cold, tier), tier
    assert pipe.run(spark, seq.withColumn("n_tok", bump))["status"] == "noop"


def test_crash_between_gap_commit_and_state_publish_heals(spark, seq, tmp_path):
    """The round-2 review's crash window, exercised end-to-end: the gap
    tier commits, then the process dies before the staged state manifest
    publishes. The next run must heal (stale state → idempotent re-run of
    the same window), converge to the cold one-shot result, and the
    staged state files must be GC-able orphans."""
    import os

    pipe = TierPipeline(str(tmp_path / "p"), kf_shards=4)
    split_es = seq.approxQuantile("ingest_es", [0.5], 0)[0]
    pipe.run(spark, seq.filter(F.col("ingest_es") <= split_es))

    staged_box = {}
    orig = pipe.kf_state.commit_staged

    def boom(staged, properties=None):
        staged_box["files"] = [e["path"] for e in staged["files"]]
        raise RuntimeError("injected crash before state publish")

    pipe.kf_state.commit_staged = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(spark, seq)
    pipe.kf_state.commit_staged = orig

    # the crash left: gap tier AT the new watermark, state BEHIND it,
    # staged state files on disk but in no manifest
    wm_raw = int(pipe.raw.property("watermark_es"))
    assert int(pipe.gap.property("watermark_es")) == wm_raw
    assert int(pipe.kf_state.property("watermark_es", -1)) < wm_raw
    assert staged_box["files"] and all(
        os.path.exists(p) for p in staged_box["files"]
    )

    # restart (fresh pipeline object): heal re-runs the gapfill window
    restarted = TierPipeline(str(tmp_path / "p"), kf_shards=4)
    restarted.run(spark, seq)
    assert int(restarted.kf_state.property("watermark_es")) == wm_raw

    cold = TierPipeline(str(tmp_path / "cold"), kf_shards=4)
    cold.run(spark, seq)
    for tier in ("raw", "gapfilled"):
        assert _tier_rows(spark, restarted, tier) == _tier_rows(
            spark, cold, tier
        ), tier
    st_a = sorted(
        (r.doc_id, r.k_done, tuple(r.m))
        for r in restarted.read_tier(spark, "state").collect()
    )
    st_b = sorted(
        (r.doc_id, r.k_done, tuple(r.m))
        for r in cold.read_tier(spark, "state").collect()
    )
    assert st_a == st_b

    # the crashed attempt's staged files are orphans: no manifest lists
    # them, and GC removes them without touching the live table
    restarted.kf_state.remove_orphans(older_than_seconds=-1)
    assert not any(os.path.exists(p) for p in staged_box["files"])
    assert restarted.read_tier(spark, "state").count() == len(st_a)


def test_quality_and_rebuild_survive_crash_window(
    spark, seq, tmp_path, capsys, monkeypatch
):
    """ADVICE r3 (low): in the gap-vs-state crash window the series tier
    holds buckets PAST the committed grid (step >= k_done); the quality
    subcommand and _rebuild_gapfill must clamp to the committed grid
    instead of scattering past the kernel's dense buffer (IndexError).
    And with NO committed grid at all (crash before the first state
    publish / run_gapfill off), quality reports cleanly instead of
    crashing on an empty t_grid."""
    import json

    from kfts_insar_spark import cli

    base = str(tmp_path / "p")
    pipe = TierPipeline(base, kf_shards=4)
    split_es = seq.approxQuantile("ingest_es", [0.5], 0)[0]
    pipe.run(spark, seq.filter(F.col("ingest_es") <= split_es))

    def boom(staged, properties=None):
        raise RuntimeError("injected crash before state publish")

    pipe.kf_state.commit_staged = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(spark, seq)

    # series is now ahead of the committed grid
    m = int(pipe.kf_state.property("k_done", 0))
    lo = int(pipe.kf_state.property("grid_lo"))
    from kfts_insar_spark.operators.rollup import RAW_SECONDS

    ser = pipe.read_tier(spark, "series")
    assert m > 0
    assert ser.filter(F.col("bucket_es") >= lo + m * RAW_SECONDS).count() > 0

    # quality over the crashed state: must complete, scoring only the
    # committed window (cli.main reuses the active session; keep it alive)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["quality", "--base", base])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["subseries"] > 0

    # doc-level rebuild over the crashed state: clamps to the grid
    pair_rows = (
        ser.select("source", "shard").distinct().limit(2).collect()
    )
    pairs = [(r.source, int(r.shard)) for r in pair_rows]
    assert pipe._rebuild_gapfill(spark, pairs) >= 0

    # no committed grid at all -> clean note, not a crash
    empty = TierPipeline(str(tmp_path / "empty"), kf_shards=4)
    assert empty._rebuild_gapfill(spark, pairs) == 0
    rc = cli.main(["quality", "--base", str(tmp_path / "empty")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["subseries"] == 0 and "note" in out


def test_read_tier_rejects_legacy_codec_format(spark, seq, tmp_path):
    """ADVICE r4 (medium): resuming a pre-upgrade table directory must fail
    loudly — a legacy untagged ts stream's first byte is 0x00 (epoch t0 <
    2^56), which would silently parse as tag 0 shifted by one byte."""
    import json
    import os

    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    assert pipe.read_tier(spark, "compressed").count() > 0  # current format ok

    sid = pipe.comp.current_snapshot_id()
    mpath = os.path.join(pipe.comp.path, "manifests", f"{sid}.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["properties"]["codec_format"]  # simulate a pre-upgrade table
    with open(mpath, "w") as f:
        json.dump(m, f)
    # a fresh TierPipeline = the real scenario (a new process resumes the
    # old dir); the original instance may legitimately serve its cached
    # parse — committed manifests are immutable, only this simulation edits
    # one in place
    fresh = TierPipeline(str(tmp_path))
    with pytest.raises(ValueError, match="codec_format"):
        fresh.read_tier(spark, "compressed")


def test_time_travel_read_checks_snapshot_codec_format(spark, seq, tmp_path):
    """The codec gate must check the manifest being READ: a time-travel
    read of a pre-upgrade snapshot bypasses a current-snapshot-only check
    (r5 review finding)."""
    import json
    import os

    from kfts_insar_spark.operators.compress import CODEC_FORMAT

    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq)
    sid = pipe.comp.current_snapshot_id()
    # commit a clean v2 full overwrite on top, then doctor the OLD manifest
    cur = pipe.comp.read(spark)
    pipe.comp.overwrite_partitions(
        cur, ["pday"], properties={"codec_format": CODEC_FORMAT}
    )
    mpath = os.path.join(pipe.comp.path, "manifests", f"{sid}.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["properties"]["codec_format"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    fresh = TierPipeline(str(tmp_path))
    assert fresh.read_tier(spark, "compressed") is not None  # current ok
    with pytest.raises(ValueError, match="codec_format"):
        fresh.read_tier(spark, "compressed", snapshot_id=sid)


def test_partial_overwrite_cannot_stamp_v2_over_legacy_partitions(
    spark, tmp_path
):
    """An incremental resume of a pre-upgrade table must refuse to stamp
    codec_format=2 while untouched legacy day partitions survive (table-
    level property would vouch for files the commit never rewrote)."""
    import json
    import os

    # data spanning >1 day so the resume's affected days exclude day 1
    seq2 = sequences(spark, 600, docs_per_batch=1)
    split = int(seq2.approxQuantile("ingest_es", [0.4], 0)[0])
    pipe = TierPipeline(str(tmp_path))
    pipe.run(spark, seq2.filter(F.col("ingest_es") <= split))
    days1 = set(pipe.comp.last_commit_partitions("pday"))
    sid = pipe.comp.current_snapshot_id()
    mpath = os.path.join(pipe.comp.path, "manifests", f"{sid}.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["properties"]["codec_format"]  # simulate pre-upgrade table
    with open(mpath, "w") as f:
        json.dump(m, f)
    fresh = TierPipeline(str(tmp_path))
    # resume over the full input: if the increment leaves any legacy day
    # untouched the compressed stage must raise; if the increment happens
    # to cover every prior day the commit legitimately re-materializes
    try:
        fresh.run(spark, seq2)
        new_days = set(fresh.comp.last_commit_partitions("pday"))
        assert days1 <= new_days, "v2 stamped but legacy days survived"
    except ValueError as e:
        assert "legacy streams" in str(e) or "codec_format" in str(e)
