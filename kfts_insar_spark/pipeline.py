"""The end-to-end incremental job: ingest → raw tier → 1h → 1d → compressed,
snapshot-committed, watermark-resumable.

Spark recast of the reference's two entry points (SURVEY.md §3.1-3.2):
the one-shot batch run (kfts.py) and the update-mode restart
(``loadcheck_pastoutputs``, /root/reference/kfts.py:252-330). The MPI/mpio
coordination is replaced by: one shuffle per tier, atomic snapshot commits,
and an ingest watermark in snapshot properties.

Idempotency contract
--------------------
- ingest is append-only on the 300 s batch grid and a run always processes
  *whole* batch slots with ``ingest_es > watermark`` — so every raw bucket is
  produced exactly once, by exactly one run → the raw tier is APPEND-only;
- 1h/1d buckets span many slots → affected coarse partitions are recomputed
  from the (already committed) finer tier and OVERWRITTEN — replays cannot
  double-count because overwrite replaces, never adds;
- the watermark advances only in the same commit that publishes the data, so
  a crash before commit re-processes the same slots into the same buckets.

Tier tables partition by ``pday`` (UTC day string) — retention drops expired
raw partitions via metadata-only deletes (SnapshotTable.drop_partitions).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointLog
from .operators.compress import CODEC_FORMAT, compress_tier
from .operators.kalman import (
    KFConfig,
    explode_kf_output,
    kalman_gapfill_combined,
)
from .operators.rollup import (
    DAY_SECONDS,
    HOUR_SECONDS,
    RAW_SECONDS,
    TIER_COLS,
    merge_shard_partials,
    rollup_cascade,
    rollup_raw,
    rollup_series,
    rollup_series_partial,
)
from .sources.snapshot import SnapshotTable


def _pday(col: str = "bucket_es"):
    return F.date_format(F.timestamp_seconds(F.col(col)), "yyyy-MM-dd").alias("pday")


def _write_tasks(spark: SparkSession, n_parts: int | None = None) -> int:
    """Scale-adaptive optimize-write parallelism for tier commits.

    The snapshot writer hash-clusters on the partition column, so the file
    count per pday is one regardless of task count — but parquet encode and
    per-file commit parallelize across tasks. The previous constant 4
    serialized multi-million-row tier writes onto 4 cores (measured as the
    single largest cost of the bulk ingest and the gap-fill output commit).
    Derived from the session's parallelism, not the local core count, so the
    same code sizes itself on a cluster; override with
    SPARK_GRAFT_WRITE_TASKS for deployments that want explicit control.

    ``n_parts`` (the number of partition values this write touches, when the
    caller knows it from commit metadata) clamps the task count: tasks
    beyond one-per-day are guaranteed empty, and a small resume increment
    paying ~30 no-op task launches per commit measurably regressed the
    incremental path (sf0.1 A/B 1.127 before this clamp)."""
    env = os.environ.get("SPARK_GRAFT_WRITE_TASKS")
    if env:
        wt = max(1, int(env))
    else:
        wt = max(4, min(256, spark.sparkContext.defaultParallelism))
    if n_parts is not None:
        wt = max(1, min(wt, int(n_parts)))
    return wt


# per-source token-count series are O(10^5..10^6) magnitude — noise scales
# accordingly (the reference's config-scalar role, kfts.py [KALMAN] section)
DEFAULT_KF_CFG = KFConfig(
    model=[("POLY", 1)], sig_y=5e4, sig_i=1e4, sig_a=1e7, t_sep=4
)


class TierPipeline:
    def __init__(
        self,
        base_dir: str,
        salt_buckets: int = 0,
        kf_cfg: KFConfig = DEFAULT_KF_CFG,
        run_gapfill: bool = True,
        kf_shards: int = 32,
    ):
        self.base = base_dir
        self.raw = SnapshotTable(os.path.join(base_dir, "tier_raw"))
        self.h1 = SnapshotTable(os.path.join(base_dir, "tier_1h"))
        self.d1 = SnapshotTable(os.path.join(base_dir, "tier_1d"))
        self.comp = SnapshotTable(os.path.join(base_dir, "tier_compressed"))
        # KF-stage input: (source, doc-hash shard) sub-series — 5 sources
        # alone cap the kernel at 5 docs; 5 × kf_shards sub-series set the
        # kernel's batch width, while AQE sizes the stage's task count from
        # its shuffle bytes
        self.series = SnapshotTable(os.path.join(base_dir, "tier_series"))
        self.gap = SnapshotTable(os.path.join(base_dir, "tier_gapfilled"))
        self.kf_state = SnapshotTable(os.path.join(base_dir, "kf_state"))
        self.log = CheckpointLog(os.path.join(base_dir, "checkpoint.jsonl"))
        self.salt_buckets = salt_buckets
        self.kf_cfg = kf_cfg
        self.run_gapfill = run_gapfill
        self.kf_shards = kf_shards
        # wall-clock per named section of the last run() — concurrent
        # sections (derive_tiers / gapfill overlap) each report their own
        # wall span, so the sum can exceed the run's elapsed time. Driver
        # sections that only BUILD lazy plans attribute their jobs to
        # whichever later section triggers the action; set
        # SPARK_GRAFT_STAGE_TIMINGS=1 to force-materialize the KF kernel
        # inside its own section for clean attribution (changes the
        # execution overlap — use on probe runs, not headline timings).
        self.stage_sec: dict[str, float] = {}

    @contextmanager
    def _stage(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.stage_sec[name] = round(
                self.stage_sec.get(name, 0.0) + time.perf_counter() - t0, 4
            )

    # ------------------------------------------------------------------ run
    def run(self, spark: SparkSession, seq: DataFrame) -> dict:
        """Process all ingest batches newer than the committed watermark."""
        self.stage_sec = {}
        wm = int(self.raw.property("watermark_es", -1))
        # Heal first: a crash between the raw commit and the downstream
        # commits leaves 1h/1d/compressed/gapfilled lagging raw's watermark;
        # without this the next run would treat the increment as already
        # processed (raw watermark advanced) and those tiers would stay
        # permanently short of it.
        with self._stage("heal"):
            self._heal(spark, seq, wm)
        # ---- raw tier: append-only (each 300 s bucket is born complete).
        # ONE scan of the base table: the increment is aggregated and
        # written in the same job, and the new watermark derives from the
        # max-ingest footer statistics of the files actually committed —
        # there is no separate bounds action, so a live source cannot slip
        # rows between a bounds read and the write (they simply land in the
        # next run), and the watermark describes exactly the published
        # data. Row counts / affected partitions for every stage likewise
        # come from the manifest metadata — each producing plan executes
        # exactly once (the write), never again for metrics.
        fresh = seq.filter(F.col("ingest_es") > F.lit(wm))
        # With the KF stage on, the shard-level partials serve BOTH ingest
        # tiers from ONE base scan: raw = shard merge (exactly the salted
        # two-stage aggregation — shard is the same doc-hash salt), series =
        # the partials themselves. The partials are persisted, so the two
        # commits read the SAME materialized increment — no second scan and
        # no window for a live source to diverge the tiers.
        with self._stage("ingest_raw"):
            partial = None
            if self.run_gapfill:
                # localCheckpoint (not persist): the series commit re-reads
                # this frame AFTER the raw commit fixed the watermark from
                # its footer stats. A persisted frame can silently recompute
                # from the live source on cache eviction, picking up rows
                # past the committed watermark → double-counted KF input on
                # the next run. A checkpoint truncates lineage: partitions
                # either serve the materialization the raw commit saw, or
                # the job FAILS (lost partitions are not recomputable) and
                # the next run heals through the bounded fallback scan in
                # _ingest_series.
                partial = rollup_series_partial(
                    fresh, self.kf_shards, with_max_ingest=True
                ).localCheckpoint(eager=False)
                raw_inc = merge_shard_partials(partial, with_max_ingest=True)
            else:
                raw_inc = rollup_raw(
                    fresh, salt_buckets=self.salt_buckets, with_max_ingest=True
                )
            # checkpoint the merged increment: the raw write materializes it
            # and the 1h/compressed derivation then reads THESE blocks
            # instead of re-scanning the parquet files the commit just wrote
            # (one fewer tier scan per run; the prior-snapshot read below
            # covers boundary days). Same lost-partition contract as
            # `partial`: serve the materialization the commit saw, or fail.
            prior_sid = self.raw.current_snapshot_id()
            with self._stage("i_ckpt"):
                raw_inc = raw_inc.withColumn("pday", _pday()).localCheckpoint(
                    eager=False
                )
            with self._stage("i_append"):
                sid = self.raw.append(
                    raw_inc,
                partition_by=["pday"],
                coalesce=_write_tasks(spark),  # optimize-write (scale-adaptive)
                stats_cols=["max_ies"],
                properties_fn=lambda entries: {
                    "watermark_es": max(
                        int(e["stats"]["max_ies"][1]) for e in entries
                    )
                },
                skip_if_empty=True,
            )
            if sid is None:
                if partial is not None:
                    partial.unpersist()
                raw_inc.unpersist()
                return {"status": "noop", "watermark_es": wm}
            with self._stage("i_post"):
                new_wm = int(self.raw.property("watermark_es", wm))
                n_raw = self.raw.last_commit_rows()
                days = self.raw.last_commit_partitions("pday")
                self.log.record(
                    "tier_raw", sid, new_wm, self.raw.manifest()["files"], n_raw
                )

        result = {
            "status": "ok",
            "watermark_es": new_wm,
            "rows": {"raw": n_raw},
            "snapshots": {"raw": sid},
        }

        # ---- after the raw commit, two independent chains remain:
        # (a) the derived tiers (1h/1d/compressed) read the checkpointed raw
        #     increment + the prior raw snapshot;
        # (b) the series commit (from the persisted shard partials) followed
        #     by the KF gap-fill stage that reads it.
        # Run the chains as concurrent Spark jobs so their per-stage fixed
        # costs (plan compile + commit) and their compute overlap — the
        # series ingest previously serialized between the raw commit and the
        # fork, costing its full wall on the critical path. The KF stage is
        # the north_star core (Kalman predict/update state drives gap-fill
        # of missing acquisition slots; reference update mode = T1).
        if self.run_gapfill and not os.environ.get("SPARK_GRAFT_SEQUENTIAL"):
            from concurrent.futures import ThreadPoolExecutor

            def _timed_tiers():
                with self._stage("derive_tiers"):
                    return self._derive_tiers(
                        spark, days, new_wm, inc=raw_inc, prior_sid=prior_sid
                    )

            def _timed_series_gap():
                with self._stage("ingest_series"):
                    self._ingest_series(
                        spark, seq, new_wm, partial=partial, wm_partial=wm
                    )
                partial.unpersist()
                with self._stage("gapfill"):
                    return self._run_gapfill(spark, new_wm)

            with ThreadPoolExecutor(2) as ex:
                f_tiers = ex.submit(_timed_tiers)
                f_gap = ex.submit(_timed_series_gap)
                drows, dsids = f_tiers.result()
                gres = f_gap.result()
            raw_inc.unpersist()
            result["rows"]["gapfilled"] = gres["n_rows"]
            result["snapshots"]["gapfilled"] = gres["snapshot_id"]
        else:
            if self.run_gapfill:
                with self._stage("ingest_series"):
                    self._ingest_series(
                        spark, seq, new_wm, partial=partial, wm_partial=wm
                    )
                partial.unpersist()
            with self._stage("derive_tiers"):
                drows, dsids = self._derive_tiers(
                    spark, days, new_wm, inc=raw_inc, prior_sid=prior_sid
                )
            raw_inc.unpersist()
            if self.run_gapfill:
                with self._stage("gapfill"):
                    gres = self._run_gapfill(spark, new_wm)
                result["rows"]["gapfilled"] = gres["n_rows"]
                result["snapshots"]["gapfilled"] = gres["snapshot_id"]
        result["rows"].update(drows)
        result["snapshots"].update(dsids)
        return result

    def _ingest_series(
        self,
        spark: SparkSession,
        seq: DataFrame,
        upto: int,
        partial: DataFrame | None = None,
        wm_partial: int | None = None,
    ) -> None:
        """Append the (source, shard, 300 s bucket) sub-series increment for
        ingest slots in (series watermark, upto] — idempotent per slot.

        ``partial`` (with ``wm_partial``, the lower bound it was filtered
        at) reuses the persisted shard partials from the raw ingest when the
        series watermark sits exactly at that bound — the normal path after
        healing; no second base scan. Any other alignment (crash heal with a
        lagging series tier) falls back to a bounded scan of ``seq``."""
        wm_s = int(self.series.property("watermark_es", -1))
        if wm_s >= upto:
            return
        if partial is not None and wm_partial is not None and wm_s == wm_partial:
            inc = partial.select(
                "source", "shard", "bucket_es", "sum_tok", "n_docs"
            ).withColumn("pday", _pday())
        else:
            inc = rollup_series(
                seq.filter(
                    (F.col("ingest_es") > F.lit(wm_s))
                    & (F.col("ingest_es") <= F.lit(upto))
                ),
                self.kf_shards,
            ).withColumn("pday", _pday())
        sid = self.series.append(
            inc,
            partition_by=["pday"],
            properties={"watermark_es": upto},
            # the increment's buckets sit in (wm_s, upto] — day span bounds
            # the partition count this write can touch
            coalesce=_write_tasks(spark, (upto - max(wm_s, 0)) // 86400 + 2),
            stats_cols=["bucket_es"],
        )
        self.log.record(
            "tier_series",
            sid,
            upto,
            self.series.manifest()["files"],
            self.series.last_commit_rows(),
        )

    def _derive_tiers(
        self,
        spark: SparkSession,
        days: list,
        wm: int,
        inc: DataFrame | None = None,
        prior_sid: int | None = None,
    ) -> tuple[dict, dict]:
        """Recompute the 1h/1d/compressed tiers for the affected ``days``
        and overwrite those partitions.

        ``inc`` (the checkpointed raw increment the commit just wrote, with
        ``prior_sid`` = the raw snapshot BEFORE that commit) serves the
        affected days from memory: increment rows come from the checkpoint
        blocks and only BOUNDARY days — affected days that already had rows
        before this commit — read parquet, through the prior snapshot's
        manifest pruned to those days (append-mostly ingest prunes this to
        zero files, metadata-only). Without ``inc`` (heal / restatement
        paths, gapfill-off… any caller that cannot vouch the increment
        frame equals the committed files) the committed raw tier is read.
        Affected-day reads use manifest-level FILE pruning (``where=``) —
        no full-tier scan, no per-day plan nodes."""
        from concurrent.futures import ThreadPoolExecutor

        dayset = set(days)
        in_days = lambda p: p.get("pday") in dayset  # noqa: E731
        # one frame of the affected raw days, shared by the 1h and
        # compressed stages (and transitively the 1d stage via h_inc)
        if inc is not None:
            raw_days = inc.filter(F.col("pday").isin(days)).select(*TIER_COLS)
            prior = (
                self.raw.read(spark, snapshot_id=prior_sid, where=in_days)
                if prior_sid is not None
                else None
            )
            if prior is not None:
                raw_days = raw_days.unionByName(prior.select(*TIER_COLS))
            raw_days = raw_days.persist()
        else:
            raw_days = (
                self.raw.read(spark, where=in_days).select(*TIER_COLS).persist()
            )
        if os.environ.get("SPARK_GRAFT_STAGE_TIMINGS"):
            # probe mode only: materialize the shared frame in its own
            # section so the concurrent 1h/compressed jobs don't race the
            # cache fill (attribution, not a semantics change)
            with self._stage("t_raw_days"):
                raw_days.count()

        def run_1h_1d():
            # ---- 1h: recompute affected days from committed raw, overwrite
            h_inc = rollup_cascade(raw_days, HOUR_SECONDS).withColumn(
                "pday", _pday()
            ).persist()
            try:
                with self._stage("t_1h_write"):
                    sid_h = self.h1.overwrite_partitions(
                        h_inc, ["pday"], properties={"watermark_es": wm},
                        coalesce=_write_tasks(spark, len(days)),
                    )
                n_h = self.h1.last_commit_rows()
                files_h = self.h1.manifest()["files"]
                # ---- 1d: cascade from the SAME recomputed 1h increment (it
                # is exactly the affected days' 1h content — no re-read)
                d_inc = rollup_cascade(
                    h_inc.select(*TIER_COLS), DAY_SECONDS
                ).withColumn("pday", _pday())
                with self._stage("t_1d_write"):
                    sid_d = self.d1.overwrite_partitions(
                        d_inc, ["pday"], properties={"watermark_es": wm},
                        coalesce=_write_tasks(spark, len(days)),
                    )
                n_d = self.d1.last_commit_rows()
                files_d = self.d1.manifest()["files"]
            finally:
                h_inc.unpersist()
            return sid_h, n_h, files_h, sid_d, n_d, files_d

        def run_compressed():
            # ---- compressed raw chunks for affected days (Gorilla).
            # codec_format is a TABLE-level property, so stamping v2 from a
            # partial-day overwrite would vouch for legacy partitions this
            # commit never rewrote (their untagged streams would then pass
            # read_tier's gate and decode to garbage). Refuse unless the
            # prior snapshot is already v2 or every prior partition is
            # being overwritten right now (full re-materialization).
            prior_c = self.comp.manifest()
            if prior_c is not None and prior_c["files"]:
                pf = prior_c.get("properties", {}).get("codec_format")
                if (pf is None or int(pf) != CODEC_FORMAT) and not {
                    e["partition"].get("pday") for e in prior_c["files"]
                } <= dayset:
                    raise ValueError(
                        f"compressed tier at {self.comp.path} holds "
                        f"codec_format={pf!r} partitions outside this "
                        f"commit's overwrite set; stamping v{CODEC_FORMAT} "
                        "would mask their legacy streams — re-materialize "
                        "the whole tier from raw (expire/drop it, then "
                        "re-run) instead of resuming incrementally"
                    )
            c_inc = compress_tier(raw_days).withColumn("pday", _pday())
            with self._stage("t_comp_write"):
                sid_c = self.comp.overwrite_partitions(
                    c_inc,
                    ["pday"],
                    properties={"watermark_es": wm, "codec_format": CODEC_FORMAT},
                    coalesce=_write_tasks(spark, len(days)),
                )
            return sid_c, self.comp.last_commit_rows(), self.comp.manifest()["files"]

        try:
            # the 1h→1d chain and the compressed tier are independent given
            # the committed raw tier — run them as concurrent Spark jobs
            # (different tables, no shared commit state); the per-stage plan
            # compile + commit fixed costs overlap instead of serializing
            def _timed_hd():
                with self._stage("tiers_1h_1d"):
                    return run_1h_1d()

            def _timed_c():
                with self._stage("tiers_compressed"):
                    return run_compressed()

            with ThreadPoolExecutor(2) as ex:
                f_hd = ex.submit(_timed_hd)
                f_c = ex.submit(_timed_c)
                sid_h, n_h, files_h, sid_d, n_d, files_d = f_hd.result()
                sid_c, n_c, files_c = f_c.result()
        finally:
            raw_days.unpersist()
        self.log.record("tier_1h", sid_h, wm, files_h, n_h)
        self.log.record("tier_1d", sid_d, wm, files_d, n_d)
        self.log.record("tier_compressed", sid_c, wm, files_c, n_c)
        return (
            {"1h": n_h, "1d": n_d, "compressed": n_c},
            {"1h": sid_h, "1d": sid_d, "compressed": sid_c},
        )

    def _raw_days_since(self, wm_tier: int) -> list:
        """pday partitions whose raw files were added by commits with a
        watermark newer than ``wm_tier`` — metadata-only (manifest diff)."""
        days: set = set()
        prev_paths: set = set()
        for s in self.raw.snapshots():
            new = [e for e in s["files"] if e["path"] not in prev_paths]
            prev_paths = {e["path"] for e in s["files"]}
            s_wm = int(s.get("properties", {}).get("watermark_es", -1))
            if s_wm > wm_tier:
                days.update(
                    e["partition"]["pday"] for e in new if "pday" in e["partition"]
                )
        return sorted(days)

    def _heal(self, spark: SparkSession, seq: DataFrame, wm_raw: int) -> None:
        """Bring downstream tiers up to raw's committed watermark before
        processing new data (crash-resume for a failure between the raw
        commit and any downstream commit)."""
        if wm_raw < 0:
            return
        lagging = [
            t
            for t in (self.h1, self.d1, self.comp)
            if int(t.property("watermark_es", -1)) < wm_raw
        ]
        if lagging:
            days = self._raw_days_since(
                min(int(t.property("watermark_es", -1)) for t in lagging)
            )
            if days:
                self._derive_tiers(spark, days, wm_raw)
        if self.run_gapfill:
            self._ingest_series(spark, seq, wm_raw)
            if int(self.kf_state.property("watermark_es", -1)) < wm_raw:
                self._run_gapfill(spark, wm_raw)

    def _run_gapfill(self, spark: SparkSession, wm: int) -> dict:
        """Gap-fill the (source, shard) sub-series with the Kalman kernel.

        Scale shape: per-(source, shard) doc-wide rows → ONE mapInPandas
        kernel execution emitting output AND resumable state together
        (persisted, so the two tier writes share it), grid bounds from the
        manifest or committed state. 5 × kf_shards sub-series set the
        kernel's batch width; AQE sets the stage's task count from its
        shuffle bytes (one task for an hourly increment).
        """
        import numpy as np

        _t_meta = time.perf_counter()
        # existence from the manifest alone — building the full-table scan
        # DataFrame costs a driver-side file-listing/py4j round trip that
        # the resumed path (which reads only the pruned window below) never
        # uses
        m_series = self.series.manifest()
        if m_series is None or not m_series["files"]:
            return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
        series_now = None
        # grid bounds WITHOUT scanning the series history: hi is implied by
        # the run watermark (bucket_es = bucket(ingest_es) and wm is the
        # max ingest_es committed this run); lo is the committed grid
        # origin. Only the very first run (no state yet) scans for the min —
        # and even that min comes from the manifest's footer stats when
        # every file carries them (zero Spark jobs).
        lo = self.kf_state.property("grid_lo")
        if lo is None:
            stats = [e.get("stats", {}).get("bucket_es") for e in m_series["files"]]
            if all(s is not None for s in stats):
                lo = min(int(s[0]) for s in stats)
            else:
                series_now = self.series.read(spark)
                lo = series_now.agg(F.min("bucket_es")).first()[0]
        lo = int(lo)
        hi = (int(wm) // RAW_SECONDS) * RAW_SECONDS
        m = int((hi - lo) // RAW_SECONDS) + 1
        prev = self.kf_state.read(spark)
        k_done_prev = int(self.kf_state.property("k_done", 0))
        if prev is not None and m <= k_done_prev:
            self.stage_sec["kf_meta"] = round(time.perf_counter() - _t_meta, 4)
            return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
        cover_min_step = (
            int(self.kf_state.property("idx0", 0)) if prev is not None else 0
        )

        # Incremental scan: with committed state, only steps inside the
        # resume window matter (the kernel re-emits [idx0, k_done) from
        # state and consumes >= k_done) — scanning the WHOLE series history
        # every run would make the per-run cost grow with total history.
        # A sub-series first appearing later (new source) has no earlier
        # data by construction, so the bound is lossless for cold starts
        # too. File-level pday pruning happens at the manifest.
        if cover_min_step > 0:
            cover_es = lo + cover_min_step * RAW_SECONDS
            import datetime as dt

            cut_day = dt.datetime.utcfromtimestamp(cover_es).strftime("%Y-%m-%d")
            # two metadata pruning levels before the scan: partition (pday)
            # and footer bucket_es max — a file whose newest bucket is
            # older than the resume window never opens
            scan = self.series.read(
                spark,
                where=lambda p: p.get("pday", "") >= cut_day,
                stats_where=lambda s: "bucket_es" not in s
                or int(s["bucket_es"][1]) >= int(cover_es),
            ).filter(F.col("bucket_es") >= F.lit(int(cover_es)))
        else:
            scan = (
                series_now
                if series_now is not None
                else self.series.read(spark)
            )

        # doc-wide SPARSE layout: one row per sub-series with sorted
        # (steps, vals) arrays — densified by O(n) numpy scatter inside the
        # kernel runner. (A JVM-side dense build via map lookups is O(n²)
        # per series: measured as the entire stage cost on long grids.)
        step = ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int")
        ent = F.array_sort(F.collect_list(F.struct(F.col("step"), F.col("value"))))
        wide = (
            scan.filter(F.col("bucket_es") >= F.lit(lo))
            .select(
                F.concat_ws("/", "source", "shard").alias("doc_id"),
                step.alias("step"),
                F.col("sum_tok").cast("double").alias("value"),
            )
            .groupBy("doc_id")
            .agg(ent.alias("_e"))
            .select(
                "doc_id",
                F.transform(F.col("_e"), lambda s: s["step"]).alias("steps"),
                F.transform(F.col("_e"), lambda s: s["value"]).alias("vals"),
            )
        )
        if prev is not None:
            # FULL outer: a sub-series with state but no rows inside the
            # incremental window must still resume (gap-forecast to the new
            # grid end and keep its state current), and a brand-new
            # sub-series cold-starts
            wide = wide.join(prev, "doc_id", "full")

        self.stage_sec["kf_meta"] = round(time.perf_counter() - _t_meta, 4)
        combined = kalman_gapfill_combined(wide, t_grid, self.kf_cfg).persist()
        if os.environ.get("SPARK_GRAFT_STAGE_TIMINGS"):
            # probe mode: force the kernel job into its own section (the
            # incremental scan + doc-wide groupBy + mapInPandas kernel +
            # persist). Default runs leave `combined` lazy so the state
            # write overlaps the output explode/stitch — don't enable this
            # on headline timings.
            with self._stage("kf_kernel"):
                combined.count()
        from concurrent.futures import ThreadPoolExecutor

        state_pool = ThreadPoolExecutor(1)
        try:
            # COMMIT ORDER IS LOAD-BEARING: output tier FIRST, state SECOND.
            # If the state commit (watermark_es/k_done advanced) landed
            # before the output commit and the process crashed in between,
            # _heal would see kf_state caught up and skip the gap re-run,
            # and the early return above (m <= k_done_prev) would refuse to
            # re-emit — the increment's gap-filled rows would be permanently
            # lost. With output-first, a crash leaves stale state and the
            # next run re-executes the same window idempotently (overwrite
            # replaces, never adds).
            #
            # The state WRITE (the expensive half: Spark job + footer
            # stats over the persisted `combined`) still overlaps the
            # output explode/stitch/write — only its manifest swap waits
            # for the gap commit. A crash in between leaves unreferenced
            # state files (remove_orphans reclaims them) and stale state.
            f_state = state_pool.submit(
                self.kf_state.stage_all,
                combined.select("doc_id", "k_done", "idx0", "m", "P"),
                None,  # partition_by
                2,  # coalesce: tiny table — one file beats 32 footer reads
            )
            _t_out = time.perf_counter()
            out = explode_kf_output(combined, t_grid, with_t=False)
            src_shard = F.split(F.col("doc_id"), "/")
            rows = (
                out
                # the kernel slices each doc's emit to [emit0, M) so archived
                # steps never reach the explode; this filter is a residual
                # guard against NaN/NULL phases (pandas→Arrow NULL trip)
                .filter(F.col("phase").isNotNull() & ~F.isnan("phase"))
                .select(
                    F.element_at(src_shard, 1).alias("source"),
                    F.element_at(src_shard, 2).cast("int").alias("shard"),
                    (
                        F.lit(lo) + F.col("step").cast("long") * F.lit(RAW_SECONDS)
                    ).alias("bucket_es"),
                    "phase",
                    "std",
                    # NaN (no update at this step) → NULL for the stitch
                    F.when(F.isnan("innov"), F.lit(None)).otherwise(
                        F.col("innov")
                    ).alias("innov"),
                    "gap_filled",
                )
                .withColumn("pday", _pday())
            )

            # stitch: the resume re-emits the overlap window; affected day
            # partitions get (old rows before the window) ∪ (re-emitted
            # rows). Incremental-cost discipline: `rows` (∝ increment) is
            # persisted once and the prior tier is read ONLY through
            # manifest-level pday pruning — the full-history scans +
            # duplicated explode subtree of the naive stitch were the
            # resume run's dominant cost (measured 2.6 s of a 4.2 s stage).
            cover_min = lo + cover_min_step * RAW_SECONDS
            rows_cached = None
            n_gap_parts = None
            if self.gap.manifest() is not None:
                import datetime as dt

                out_cols = rows.columns
                rows = rows_cached = rows.persist()
                with self._stage("g_touched"):
                    touched = {
                        r.pday for r in rows.select("pday").distinct().collect()
                    }
                n_gap_parts = len(touched)
                cover_day = dt.datetime.utcfromtimestamp(
                    int(cover_min)
                ).strftime("%Y-%m-%d")
                # re-emitted overlap steps carry refined phase/std but not
                # their historical innovation/gap flags (those belong to the
                # step's original update) — stitch back from the prior tier.
                # Overlap steps all sit at/after cover_day, and cold-start
                # docs have no prior rows at all → pruning is lossless.
                hist = self.gap.read(
                    spark, where=lambda p: p.get("pday", "") >= cover_day
                )
                if hist is not None:
                    hist = hist.select(
                        "source",
                        "shard",
                        "bucket_es",
                        F.col("innov").alias("_innov_old"),
                        F.col("gap_filled").alias("_gap_old"),
                    )
                    rows = (
                        rows.join(hist, ["source", "shard", "bucket_es"], "left")
                        .withColumn("innov", F.coalesce("innov", "_innov_old"))
                        .withColumn(
                            "gap_filled", F.coalesce("_gap_old", "gap_filled")
                        )
                        .select(*out_cols)
                    )
                # keep prior rows below the overlap window, but only in day
                # partitions this commit rewrites (cold-started sub-series
                # emit their full history, touching older days too)
                keep_src = self.gap.read(
                    spark,
                    where=lambda p: p.get("pday", "") in touched,
                    # only files that can hold rows below the overlap window
                    stats_where=lambda s: "bucket_es" not in s
                    or int(s["bucket_es"][0]) < int(cover_min),
                )
                if keep_src is not None:
                    keep_old = keep_src.filter(
                        F.col("bucket_es") < F.lit(int(cover_min))
                    ).select(*out_cols)
                    rows = keep_old.unionByName(rows)
            with self._stage("g_write"):
                sid = self.gap.overwrite_partitions(
                    rows,
                    ["pday"],
                    properties={"watermark_es": wm},
                    coalesce=_write_tasks(spark, n_gap_parts),
                    stats_cols=["bucket_es"],
                )
            n_rows = self.gap.last_commit_rows()
            if rows_cached is not None:
                rows_cached.unpersist()
            self.stage_sec["kf_output"] = round(
                time.perf_counter() - _t_out, 4
            )
            # the state's idx0 is uniform across docs (grid-determined): L
            # kept params + last t_sep phases → idx0 = m − t_sep.
            # Gap commit has landed — NOW publish the staged state.
            with self._stage("kf_state_commit"):
                self.kf_state.commit_staged(
                    f_state.result(),
                    properties={
                        "grid_lo": lo,
                        "k_done": m,
                        "idx0": max(0, m - self.kf_cfg.t_sep),
                        "watermark_es": wm,
                    },
                )
        finally:
            state_pool.shutdown(wait=True)
            combined.unpersist()
        self.log.record("tier_gapfilled", sid, wm, self.gap.manifest()["files"], n_rows)
        return {"n_rows": n_rows, "snapshot_id": sid}

    # ---------------------------------------------------------- restatement
    def correct_raw(self, spark: SparkSession, corrections: DataFrame) -> dict:
        """Late-data restatement: upsert corrected raw buckets (keyed by
        (source, bucket_es)) into the raw tier and recompute the derived
        1h/1d/compressed partitions of the affected days from the
        corrected raw tier.

        This is the correction path the append-only watermark contract
        cannot serve: a bucket whose value was wrong after ingest (late
        backfill, upstream restatement) must REPLACE its row — an append
        would double-count, and a full recompute would rescan history.
        Cost is partition-sized: only the touched pday partitions rewrite
        (copy-on-write upsert), and only those days' derived tiers
        recompute. The ingest watermark is preserved by property
        inheritance, so the next incremental run is unaffected.

        The KF gap-filled tier is NOT restated here: a raw-level
        (source, bucket) correction cannot be attributed to the KF
        stage's (source, doc-hash shard) sub-series without the
        underlying documents. Use :meth:`correct_docs` — the
        document-level restatement — when the pipeline runs with
        gap-fill; it derives BOTH tiers' corrections from the corrected
        documents and cold-rebuilds exactly the affected sub-series.
        """
        cor = corrections
        if "max_ies" not in cor.columns:
            # raw files carry a max_ies stats column; corrected buckets
            # keep the watermark axis consistent without advancing it
            cor = cor.withColumn("max_ies", F.col("bucket_es").cast("long"))
        cor = cor.withColumn("pday", _pday())
        sid = self.raw.upsert(
            spark,
            cor,
            key_cols=["source", "bucket_es"],
            partition_by=["pday"],
            coalesce=_write_tasks(spark),
            stats_cols=["max_ies"],
        )
        wm = int(self.raw.property("watermark_es", -1))
        days = self.raw.last_commit_partitions("pday")
        self.log.record(
            "tier_raw_restate", sid, wm, self.raw.manifest()["files"],
            self.raw.last_commit_rows(),
        )
        drows, dsids = self._derive_tiers(spark, days, wm)
        return {
            "status": "restated",
            "watermark_es": wm,
            "days": days,
            "rows": drows,
            "snapshots": {"raw": sid, **dsids},
        }

    def correct_docs(self, spark: SparkSession, docs: DataFrame) -> dict:
        """Document-level restatement: ``docs`` (base-table schema: doc_id,
        n_tok, source, ingest_es) REPLACES the full document content of
        every raw bucket it touches. From the corrected documents this
        derives, in one pass over the (tiny) correction frame:

        - the raw-tier corrections (shard-partial merge — the same salted
          two-stage aggregation as ingest) → :meth:`correct_raw` upserts
          them and recomputes the affected days' 1h/1d/compressed tiers;
        - the series-tier corrections at (source, shard, bucket) → upsert
          keyed on (source, bucket_es), i.e. WHOLESALE replacement of the
          corrected buckets' shard rows (a shard whose docs vanished from
          the bucket must lose its row, not keep a stale one);
        - the affected (source, shard) sub-series — the union of shards
          present at the corrected buckets before OR after the upsert —
          whose Kalman recursions are then cold-rebuilt from the restated
          series (:meth:`_rebuild_gapfill`). Untouched sub-series keep
          their rows and state bit-for-bit.

        Cost discipline at scale: the correction frame is metadata-sized,
        tier rewrites are partition-granular copy-on-write, and the KF
        rebuild runs only |affected pairs| ≤ sources × kf_shards
        sub-series over the committed grid — never the whole tier.
        """
        docs = docs.persist()
        try:
            partial = rollup_series_partial(
                docs, self.kf_shards, with_max_ingest=True
            )
            raw_cor = merge_shard_partials(partial, with_max_ingest=True)
            res = self.correct_raw(spark, raw_cor)
            if not self.run_gapfill:
                return res
            ser_cor = partial.select(
                "source", "shard", "bucket_es", "sum_tok", "n_docs"
            ).withColumn("pday", _pday())
            keys = ser_cor.select("source", "bucket_es").distinct()
            cur = self.series.read(spark)
            pairs_df = ser_cor.select("source", "shard").distinct()
            if cur is not None:
                old_pairs = (
                    cur.join(keys, ["source", "bucket_es"])
                    .select("source", "shard")
                    .distinct()
                )
                pairs_df = pairs_df.union(old_pairs).distinct()
            # ≤ sources × kf_shards rows — metadata-scale by construction
            pairs = [(r.source, int(r.shard)) for r in pairs_df.collect()]
            n_src = len({s for s, _ in pairs})
            if len(pairs) > max(1, n_src) * self.kf_shards:
                # production-path invariant — a bare assert is stripped
                # under python -O, silently disabling this guard
                raise RuntimeError(
                    f"correct_docs collected {len(pairs)} (source, shard) "
                    f"pairs for {n_src} sources × kf_shards="
                    f"{self.kf_shards}; the driver-side collect is only "
                    "safe at metadata scale — if shard cardinality grew, "
                    "keep the rebuild set distributed"
                )
            sid_s = self.series.upsert(
                spark,
                ser_cor,
                key_cols=["source", "bucket_es"],
                partition_by=["pday"],
                coalesce=_write_tasks(spark),
                stats_cols=["bucket_es"],
            )
            self.log.record(
                "tier_series_restate",
                sid_s,
                int(self.series.property("watermark_es", -1)),
                self.series.manifest()["files"],
                self.series.last_commit_rows(),
            )
            n_reb = self._rebuild_gapfill(spark, pairs)
            res["rebuilt_subseries"] = len(pairs)
            res["rows"]["gap_rebuilt"] = n_reb
            return res
        finally:
            docs.unpersist()

    def _rebuild_gapfill(self, spark: SparkSession, pairs: list) -> int:
        """Cold-rebuild the KF gap-fill for the given (source, shard)
        sub-series from the restated series tier over the COMMITTED grid
        [grid_lo, k_done): fresh state (no init), full-history re-emit,
        copy-on-write upsert into the gap tier keyed on (source, shard),
        and a state-table row replacement for exactly those docs. The
        watermark/grid properties are inherited unchanged — a correction
        never advances ingest progress.

        (Reference analog: restating consumed history is impossible in
        update mode, kfts.py:252-330 — the reference would re-run the
        whole stack; here the rebuild is confined to the sub-series the
        correction actually touched.)
        """
        import numpy as np

        lo = self.kf_state.property("grid_lo")
        if lo is None or not pairs:
            return 0
        lo = int(lo)
        m = int(self.kf_state.property("k_done", 0))
        if m <= 0:
            # no committed gap-fill grid (run_gapfill disabled, or a crash
            # before the first state publish): nothing to restate
            return 0
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
        keys = [f"{s}/{sh}" for s, sh in pairs]
        # series rows at/after lo + m steps were ingested after the last
        # gap-fill commit (or sit in the series-vs-state crash window) —
        # they are outside the committed grid and would scatter past the
        # kernel's dense buffer
        hi = lo + m * RAW_SECONDS
        ser = (
            self.series.read(spark)
            .withColumn("doc_id", F.concat_ws("/", "source", "shard"))
            .filter(F.col("doc_id").isin(keys))
            .filter((F.col("bucket_es") >= F.lit(lo)) & (F.col("bucket_es") < F.lit(hi)))
        )
        step = ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int")
        ent = F.array_sort(F.collect_list(F.struct(F.col("step"), F.col("value"))))
        wide = (
            ser.select(
                "doc_id",
                step.alias("step"),
                F.col("sum_tok").cast("double").alias("value"),
            )
            .groupBy("doc_id")
            .agg(ent.alias("_e"))
            .select(
                "doc_id",
                F.transform(F.col("_e"), lambda s: s["step"]).alias("steps"),
                F.transform(F.col("_e"), lambda s: s["value"]).alias("vals"),
            )
        )
        combined = kalman_gapfill_combined(wide, t_grid, self.kf_cfg).persist()
        try:
            out = explode_kf_output(combined, t_grid, with_t=False)
            src_shard = F.split(F.col("doc_id"), "/")
            rows = (
                out.filter(F.col("phase").isNotNull() & ~F.isnan("phase"))
                .select(
                    F.element_at(src_shard, 1).alias("source"),
                    F.element_at(src_shard, 2).cast("int").alias("shard"),
                    (
                        F.lit(lo) + F.col("step").cast("long") * F.lit(RAW_SECONDS)
                    ).alias("bucket_es"),
                    "phase",
                    "std",
                    F.when(F.isnan("innov"), F.lit(None)).otherwise(
                        F.col("innov")
                    ).alias("innov"),
                    "gap_filled",
                )
                .withColumn("pday", _pday())
            )
            sid = self.gap.upsert(
                spark,
                rows,
                key_cols=["source", "shard"],
                partition_by=["pday"],
                coalesce=_write_tasks(spark),
                stats_cols=["bucket_es"],
            )
            n_rows = self.gap.last_commit_rows()
            new_state = combined.select("doc_id", "k_done", "idx0", "m", "P")
            st = self.kf_state.read(spark)
            if st is not None:
                new_state = st.filter(~F.col("doc_id").isin(keys)).unionByName(
                    new_state
                )
            self.kf_state.overwrite_all(new_state, coalesce=2)
        finally:
            combined.unpersist()
        self.log.record(
            "tier_gapfilled_rebuild",
            sid,
            int(self.gap.property("watermark_es", -1)),
            self.gap.manifest()["files"],
            n_rows,
        )
        return n_rows

    # ---------------------------------------------------------- maintenance
    def maintain(
        self,
        spark: SparkSession,
        keep_snapshots: int = 2,
        orphan_grace_seconds: float = 86400.0,
        compact_target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Periodic table maintenance across every tier — the job a real
        deployment schedules nightly (Iceberg: rewrite_data_files +
        expire_snapshots + remove_orphan_files):

        1. ``compact``: bin-pack the small files each incremental commit
           leaves behind (scan cost grows with file count, not bytes);
        2. ``vacuum``: expire snapshots beyond ``keep_snapshots``,
           deleting data files only they referenced (time travel remains
           valid for the kept window);
        3. ``remove_orphans``: reclaim failed-commit debris older than
           the grace window (files no manifest references — including
           state files staged by a crashed two-phase commit).

        Safe under the resume contract: all three only touch files that
        are either unreferenced or superseded; the current snapshot and
        its properties (watermarks) are never modified."""
        tables = {
            "raw": self.raw, "1h": self.h1, "1d": self.d1,
            "compressed": self.comp, "series": self.series,
            "gapfilled": self.gap, "state": self.kf_state,
        }
        report: dict = {}
        for name, t in tables.items():
            c = t.compact(spark, target_bytes=compact_target_bytes)
            v = t.vacuum(keep_last=keep_snapshots)
            o = t.remove_orphans(older_than_seconds=orphan_grace_seconds)
            report[name] = {
                "compacted_files": c.get("files_before", 0),
                "expired_snapshots": v.get("removed_snapshots", 0),
                "removed_files": v.get("removed_files", 0)
                + o.get("removed_files", 0),
            }
        return report

    # ------------------------------------------------------------ retention
    def expire_raw_before(self, cutoff_es: int) -> int:
        """Retention: drop raw partitions strictly older than the cutoff day.
        Metadata-only delete; 1h/1d tiers keep the downsampled history."""
        import datetime as dt

        cut = dt.datetime.utcfromtimestamp(cutoff_es).strftime("%Y-%m-%d")
        return self.raw.drop_partitions(
            lambda p: p.get("pday", "") < cut,
            properties={"retention_cutoff": cut},
        )

    # ------------------------------------------------------------- reads
    def read_tier(self, spark: SparkSession, tier: str, snapshot_id: int | None = None):
        tbl = {
            "raw": self.raw,
            "1h": self.h1,
            "1d": self.d1,
            "compressed": self.comp,
            "series": self.series,
            "gapfilled": self.gap,
            "state": self.kf_state,
        }[tier]
        if tier == "compressed":
            # version-gate the manifest actually being read: a time-travel
            # read of a pre-upgrade snapshot must fail the same way a
            # current read of a pre-upgrade table does (the CURRENT
            # property says nothing about an older snapshot's files)
            m = tbl.manifest(snapshot_id)
            if m is not None:
                fmt = m.get("properties", {}).get("codec_format")
                if fmt is None or int(fmt) != CODEC_FORMAT:
                    raise ValueError(
                        f"compressed tier at {tbl.path} (snapshot "
                        f"{m.get('snapshot_id')}) has codec_format={fmt!r}, "
                        f"engine expects v{CODEC_FORMAT}; pre-upgrade "
                        "untagged chunks would decode to garbage — "
                        "re-materialize the tier (re-run the pipeline over "
                        "the raw tier) before reading it"
                    )
        return tbl.read(spark, snapshot_id)
