"""The benchmark scenario: one closed-loop client driving the tier engine
through its public API.

Both workloads start the same way: a cold full build (backfill) of a
history prefix into a fresh base dir, timed. Then each repeats one op:

- ``steady_ingest``: the scheduler resumes with one-hour increments, then
  runs one retention pass (``expire_raw_before`` at the retention horizon,
  then ``maintain``). The op is one increment: snapshot commits, the
  checkpoint log and the gap tier's re-emit of the touched day.
- ``serve_reads``: one retention pass, then a single client runs a read mix
  over the tiers: the age-routed readthrough, a deep-history decode of the
  compressed tier, the last day of the gap-filled tier and a time-travel
  read of the raw tier from before retention. The op is one pass of the
  mix: snapshot reads, pruning and codec decode, no writes.

A traced run performs every phase of both, so it reports every per-layer
metric whichever workload it is given. All correctness checks run outside
the timed regions.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass

import pandas as pd

import oracle
from oracle import DAY_S, HOUR_S, RAW_S, TIER_COLS

SLOTS_PER_DAY = DAY_S // RAW_S * 7 // 8  # synth leaves every 8th slot empty
# synth's default density: an hour of input is about 600 docs and 50 raw
# rows, the steady hourly feed the tiers are built for
DOCS_PER_SLOT = 50
INPUT_COLS = ["doc_id", "n_tok", "source", "ingest_es"]
# the history ends at this hour of its last day, so the timed increments sit
# mid-way through a day cycle (the gap tier re-emits the whole current day on
# every increment: cost grows through the day)
HISTORY_HOUR = 11
# increments timed per run, at least; the first one after the backfill
# (the session's first resume) measured no slower than the ones after it,
# so it is timed with them
MIN_INCREMENTS = 2
# the first read passes are slow while the JVM compiles the planner's hot
# paths (the tier checks before them start that); the untimed ones take the
# steep part of that slope off the timed ones
WARM_READ_PASSES = 3
# read passes timed per run, at least; see reads() for the passes that
# steal time spoils
MIN_READ_PASSES = 8
MAX_READ_PASSES = 2 * MIN_READ_PASSES
# a pass during which the hypervisor took more than this share of the VM's
# CPU time (steal) measures the host's other tenants more than the program:
# a read pass is short Spark stages that wait for their slowest task, and on
# a 4-vCPU VM a run with 15 % steal read 60 % slower than calm runs
STEAL_MAX = 0.01


@dataclass(frozen=True)
class Sizes:
    history_days: int  # the history ends at HISTORY_HOUR of its last day
    # retention keeps the raw tier's days from this many days before its
    # watermark's day on; older days are dropped
    retention_days: int

    def n_docs(self) -> int:
        # synth spreads n_docs over n_docs/DOCS_PER_SLOT non-empty slots;
        # two spare days leave room for as many increments as a run takes
        return (self.history_days + 2) * SLOTS_PER_DAY * DOCS_PER_SLOT


# workload -> (sizes, phases of an untraced run after the input, the
# scenario metric reported as op_p50_s). The reads change no tier, so
# serve_reads checks the tiers before them.
WORKLOADS = {
    # an increment's cost does not grow with the history behind it, so a
    # short history; retention drops its first day
    "steady_ingest": (Sizes(history_days=3, retention_days=1),
                      ("backfill", "ingest", "retention", "check_tiers"), "ingest_p50_s"),
    # six days give the readthrough all three routes (raw newest day, 1h the
    # four days before it, 1d older); retention drops the first two days,
    # which the deep read decodes from the compressed tier
    "serve_reads": (Sizes(history_days=6, retention_days=3),
                    ("backfill", "retention", "check_tiers", "reads"), "read_pass_p50_s"),
}
TRACED_PHASES = ("backfill", "ingest", "retention", "check_tiers", "reads")


class Ledger:
    """Ops attempted and failed; a failure is an exception or a failed check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name: str, fn):
        """Run ``fn``; returns (result, wall seconds), or (None, None) if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # an op that raises is a failed op; keep going
            self.fail(name, f"{type(e).__name__}: {e}")
            return None, None
        return res, time.perf_counter() - t0

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr, flush=True)

    def check(self, name: str, err: str | None) -> bool:
        """Count a failed check against an op already attempted."""
        if err is None:
            return True
        self.fail(name, err)
        return False


class RssSampler:
    """Peak resident memory of this process and every process under it
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5) -> None:
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(period,), daemon=True)
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)

    def _loop(self, period: float) -> None:
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for pid in process_tree(os.getpid()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        kb = int(f.read().split()[1]) * self._page_kb
                    with open(f"/proc/{pid}/comm") as f:
                        comm = f.read().strip()
                except (OSError, ValueError, IndexError):
                    continue
                key = "self" if pid == os.getpid() else comm
                parts[key] = parts.get(key, 0) + kb
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(period)


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the whole VM since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def calm_passes(steal: list[float], n_min: int) -> list[int]:
    """Indices of the passes the read medians are taken over: those with
    steal below :data:`STEAL_MAX`, or the ``n_min`` with the least steal
    when fewer were."""
    by_steal = sorted(range(len(steal)), key=steal.__getitem__)
    return sorted(by_steal[:max(n_min, sum(s < STEAL_MAX for s in steal))])


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


# ------------------------------------------------------------ phases
class Scenario:
    def __init__(self, spark, sizes: Sizes, seed: int, seconds: float,
                 work_dir: str, cores: int, tracer=None) -> None:
        self.spark = spark
        self.sz = sizes
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.cores = cores
        self.tracer = tracer
        self.ledger = Ledger()
        self.m: dict[str, float] = {}  # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.ops: list[tuple[str, bool, float, float]] = []  # kind, traced, lo, hi
        self.stage: dict[str, list[dict]] = {"build": [], "inc": []}
        self.inc_rows: list[dict] = []
        self.samples: dict[str, list[float]] = {}  # raw walls behind the medians
        self.read_walls: dict[str, list[float]] = {
            k: [] for k in ("readthrough", "deep", "gap", "timetravel")}
        self.pass_walls: list[float] = []
        self.pass_steal: list[float] = []  # steal share of the VM during each pass
        self.tail_info: dict[str, dict] = {}  # percentile and n behind each tail
        self._gap_upto: int | None = None

    def phases(self, names) -> list:
        """A run's phases: the input, then the named phases."""
        return [self.materialize_input, *(getattr(self, n) for n in names)]

    # -- helpers
    def _traced(self, on: bool):
        if self.tracer is not None:
            self.tracer.enabled = on

    def _op(self, kind: str, name: str, fn, traced: bool = False):
        self._traced(traced)
        lo = time.time()
        if self.tracer is not None and traced:
            with self.tracer.span(name, "op"):
                res, wall = self.ledger.op(name, fn)
        else:
            res, wall = self.ledger.op(name, fn)
        self.ops.append((kind, traced, lo, time.time()))
        self._traced(False)
        return res, wall

    # -- setup
    def materialize_input(self) -> None:
        from kfts_insar_spark.synth import sequences
        from pyspark.sql import functions as F

        path = os.path.join(self.work, "input")
        # the doc-hash shard that defines the gap-fill sub-series, kept
        # beside the input for the checks; the pipeline never reads it
        shard = F.pmod(F.xxhash64("doc_id"), F.lit(32)).cast("int").alias("shard")
        t0 = time.perf_counter()
        (sequences(self.spark, self.sz.n_docs(), seed=self.seed,
                   docs_per_batch=DOCS_PER_SLOT)
         .select(*INPUT_COLS, shard).orderBy("ingest_es").write.parquet(path))
        self.layer["setup.input_s"] = time.perf_counter() - t0
        self.seq = self.spark.read.parquet(path).select(*INPUT_COLS)

        import pyarrow.parquet as pq

        self.docs = pq.read_table(
            path, columns=["source", "shard", "ingest_es", "n_tok"]).to_pandas()
        self.t_hist = int(self.docs["ingest_es"].min()) // DAY_S * DAY_S + (
            self.sz.history_days - 1) * DAY_S + HISTORY_HOUR * HOUR_S

    def prefix(self, upto_es: int):
        from pyspark.sql import functions as F

        return self.seq.filter(F.col("ingest_es") < F.lit(upto_es))

    # -- backfill
    def backfill(self) -> None:
        from kfts_insar_spark.pipeline import TierPipeline

        base = os.path.join(self.work, "tiers")
        n = int((self.docs["ingest_es"] < self.t_hist).sum())

        def build():
            self.pipe = TierPipeline(base)
            return self.pipe.run(self.spark, self.prefix(self.t_hist))

        res, wall = self._op("build", "backfill", build, traced=self.tracer is not None)
        if res is None:
            raise RuntimeError("backfill failed; nothing to resume from")
        self.stage["build"].append(dict(self.pipe.stage_sec))
        self.samples["backfill"] = [wall]
        self.m["backfill_docs_per_s"] = n / wall
        self.upto = self.t_hist
        tables = self.tables()
        tier_bytes = sum(sum(e["bytes"] for e in (t.manifest() or {"files": []})["files"])
                         for t in tables.values())
        self.m["stored_bytes_per_doc"] = tier_bytes / n
        comp = self.pipe.read_tier(self.spark, "compressed").select(
            "n_points", "ts_codec", "val_codec").toPandas()
        self.layer["codec.bytes_per_point"] = float(
            (comp["ts_codec"].map(len).sum() + comp["val_codec"].map(len).sum())
            / comp["n_points"].sum())

    def tables(self) -> dict:
        p = self.pipe
        return {"raw": p.raw, "1h": p.h1, "1d": p.d1, "compressed": p.comp,
                "series": p.series, "gapfilled": p.gap, "state": p.kf_state}

    # -- increments
    def ingest(self) -> None:
        """Hourly increments, closed loop, for at least ``seconds`` and at
        least :data:`MIN_INCREMENTS`; their median is ``ingest_p50_s``. The
        first is the session's first resume and is also reported as
        ``ingest_first_s``. Traced runs time three: untraced, traced,
        untraced, so a warm-up trend cancels out of the overhead."""
        plain, traced_walls = [], []
        n_min = MIN_INCREMENTS + (self.tracer is not None)
        t_start = time.perf_counter()
        i = 0
        while i < n_min or time.perf_counter() - t_start < self.seconds:
            if self.upto + HOUR_S > int(self.docs["ingest_es"].max()):
                break  # input exhausted
            self.upto += HOUR_S
            traced = self.tracer is not None and i == 1
            before = self._table_rows(("gapfilled", "1h"))
            res, wall = self._op("inc", f"increment {i}",
                                 lambda: self.pipe.run(self.spark, self.prefix(self.upto)),
                                 traced=traced)
            i += 1
            if res is None:
                continue
            if res.get("status") != "ok":
                self.ledger.check(f"increment {i - 1}", f"status {res.get('status')}")
            if i == 1:
                self.layer["ingest_first_s"] = wall
            (traced_walls if traced else plain).append(wall)
            self.stage["inc"].append(dict(self.pipe.stage_sec))
            after = self._table_rows(("gapfilled", "1h"))
            self.inc_rows.append({t: (after[t][1], after[t][0] - before[t][0])
                                  for t in after})
        walls = plain + traced_walls
        self.samples["ingest"] = walls
        self.samples["ingest_first"] = [self.layer.get("ingest_first_s")]
        self.layer["ingest_p50_s"] = median(walls)
        v, pct, n = tail(walls)
        self.layer["ingest_tail_s"] = v
        self.tail_info["ingest_tail_s"] = {"percentile": pct, "n": n}
        self.ingest_walls = (plain, traced_walls)

    def _table_rows(self, names) -> dict[str, tuple[int, int]]:
        """(rows in the current snapshot, rows of its last commit's files)."""
        t = self.tables()
        out = {}
        for n in names:
            m = t[n].manifest() or {"files": []}
            out[n] = (sum(e.get("rows", 0) for e in m["files"]),
                      t[n].last_commit_rows())
        return out

    # -- retention
    def horizon(self, wm: int) -> int:
        """Start of the oldest day retention keeps at watermark ``wm``."""
        return (wm - self.sz.retention_days * DAY_S) // DAY_S * DAY_S

    def retention(self) -> None:
        wm = int(self.pipe.raw.property("watermark_es"))
        self.cutoff_es = self.horizon(wm)

        def expire_and_maintain():
            self.pipe.expire_raw_before(wm - self.sz.retention_days * DAY_S)
            return self.pipe.maintain(self.spark)

        _, wall = self._op("retention", "retention", expire_and_maintain,
                           traced=self.tracer is not None)
        self.samples["retention"] = [wall]
        self.layer["retention_s"] = wall if wall is not None else float("nan")

    # -- reads
    def _read_set(self):
        """The four queries and their checks against the current state."""
        from kfts_insar_spark.operators.compress import decompress_tier
        from pyspark.sql import functions as F

        spark, pipe = self.spark, self.pipe
        wm = int(pipe.raw.property("watermark_es"))
        last_day = oracle.day_str([wm])[0]
        # the raw tier as it was at its oldest retained snapshot: on
        # serve_reads, before retention dropped its oldest days
        tt_sid = pipe.raw.snapshots()[0]["snapshot_id"]
        tt_props = pipe.raw.manifest(tt_sid)["properties"]
        cutoff = self.horizon(wm)

        def q_readthrough():
            raw = pipe.read_tier(spark, "raw").select(*TIER_COLS)
            h1 = pipe.read_tier(spark, "1h").select(*TIER_COLS)
            d1 = pipe.read_tier(spark, "1d").select(*TIER_COLS)
            hi = raw.agg(F.max("bucket_es")).first()[0]
            c1 = (int(hi) // DAY_S) * DAY_S
            c2 = c1 - 4 * DAY_S
            pick = lambda df, tier, cond: df.filter(cond).select(  # noqa: E731
                F.lit(tier).alias("tier"), *TIER_COLS)
            return (pick(raw, "raw", F.col("bucket_es") >= c1)
                    .unionByName(pick(h1, "1h", (F.col("bucket_es") >= c2)
                                      & (F.col("bucket_es") < c1)))
                    .unionByName(pick(d1, "1d", F.col("bucket_es") < c2)))

        def q_deep():
            comp = pipe.read_tier(spark, "compressed").filter(F.col("bucket_es") < cutoff)
            return (decompress_tier(comp)
                    .groupBy("source", ((F.col("bucket_es") / DAY_S).cast("long") * DAY_S)
                             .alias("day_es"))
                    .agg(F.sum("value").alias("value")))

        def q_gap():
            return (pipe.read_tier(spark, "gapfilled").filter(F.col("pday") == last_day)
                    .select(*oracle.GAP_KEYS, "phase", "std", "innov", "gap_filled"))

        def q_timetravel():
            return pipe.read_tier(spark, "raw", snapshot_id=tt_sid).select(*TIER_COLS)

        key = (self.upto, tt_sid)
        if getattr(self, "_read_key", None) != key:
            docs = self.docs[self.docs["ingest_es"] < self.upto]
            tiers = {w: oracle.rollup(docs, w) for w in (RAW_S, HOUR_S, DAY_S)}
            gap_want = self.gap_expected()
            self._read_want = {
                "readthrough": oracle.readthrough(tiers[RAW_S], tiers[HOUR_S], tiers[DAY_S]),
                "deep": oracle.deep_days(tiers[RAW_S], cutoff),
                "gap": gap_want[oracle.day_str(gap_want["bucket_es"]) == last_day],
                "timetravel": oracle.raw_at(self.docs, tt_props),
            }
            empty = sorted(k for k, v in self._read_want.items() if v.empty)
            if empty:  # a check of no rows would pass whatever the query did
                raise RuntimeError(f"read queries with no rows to check: {empty}")
            self._read_key = key
        want = self._read_want
        checks = {
            "readthrough": lambda g: oracle.compare_exact(
                want["readthrough"], g, ["tier", "source", "bucket_es"]),
            "deep": lambda g: oracle.compare_exact(want["deep"], g, ["source", "day_es"]),
            "gap": lambda g: oracle.compare_gap(want["gap"], g)[0],
            "timetravel": lambda g: oracle.compare_exact(
                want["timetravel"], g, ["source", "bucket_es"]),
        }
        queries = {"readthrough": q_readthrough, "deep": q_deep, "gap": q_gap,
                   "timetravel": q_timetravel}
        return queries, checks

    def read_pass(self, timed: bool = True) -> None:
        """One pass of the read mix; a timed pass whose four queries all
        pass their checks adds its wall (their sum) to ``pass_walls``."""
        queries, checks = self._read_set()
        traced = timed and self.tracer is not None and len(self.pass_walls) % 2 == 1
        walls = {}
        steal0, total0 = steal_ticks()
        for name, q in queries.items():
            got, wall = self._op("read" if timed else "read_warm", f"read {name}",
                                 lambda q=q: q().toPandas(), traced=traced)
            if got is not None and self.ledger.check(f"read {name}", checks[name](got)):
                walls[name] = wall
        steal1, total1 = steal_ticks()
        if timed and len(walls) == len(queries):
            for name, wall in walls.items():
                self.read_walls[name].append(wall)
            self.pass_walls.append(sum(walls.values()))
            self.pass_steal.append((steal1 - steal0) / max(1, total1 - total0))

    def reads(self) -> None:
        """Untimed passes compile the read plans and warm the JVM (a
        serving process pays that once, not per query); then timed passes,
        one after the other, for at least ``seconds`` and until
        :data:`MIN_READ_PASSES` of them ran with steal below
        :data:`STEAL_MAX`, or :data:`MAX_READ_PASSES` ran. The read medians
        are over those clean passes; when too few were clean, over the
        :data:`MIN_READ_PASSES` with the least steal. Traced runs alternate
        untraced and traced passes."""
        for _ in range(WARM_READ_PASSES):
            self.read_pass(timed=False)
        t0 = time.perf_counter()
        attempts = 0

        while attempts < MAX_READ_PASSES and (
                sum(s < STEAL_MAX for s in self.pass_steal) < MIN_READ_PASSES
                or time.perf_counter() - t0 < self.seconds):
            self.read_pass()
            attempts += 1
        kept = calm_passes(self.pass_steal, MIN_READ_PASSES)
        walls = {k: [v[i] for i in kept] for k, v in self.read_walls.items()}
        self.samples.update({f"read_{k}": v for k, v in self.read_walls.items()})
        self.samples["read_pass"] = self.pass_walls
        self.samples["read_pass_steal"] = self.pass_steal
        self.samples["read_pass_kept"] = kept
        self.layer["read_pass_p50_s"] = median([self.pass_walls[i] for i in kept])
        self.layer["readthrough_p50_s"] = median(walls["readthrough"])
        self.layer["deep_read_p50_s"] = median(walls["deep"])
        self.layer["gap_read_p50_s"] = median(walls["gap"])
        self.layer["timetravel_read_p50_s"] = median(walls["timetravel"])
        v, pct, n = tail([w for ws in walls.values() for w in ws])
        self.layer["read_tail_s"] = v
        self.tail_info["read_tail_s"] = {"percentile": pct, "n": n}

    # -- checks
    def gap_expected(self) -> pd.DataFrame:
        from kfts_insar_spark.pipeline import DEFAULT_KF_CFG

        if self._gap_upto != self.upto:
            self._series = oracle.series_partials(
                self.docs[self.docs["ingest_es"] < self.upto])
            self._gap_want = oracle.kf_one_shot(
                self._series, int(self.pipe.gap.property("watermark_es")), DEFAULT_KF_CFG)
            self._gap_upto = self.upto
        return self._gap_want

    def check_tiers(self, tier_frames: dict[str, pd.DataFrame] | None = None) -> None:
        """Final tier state against the input: raw (retained days), 1h, 1d,
        the compressed tier decoded back to raw buckets, and the gap tier
        against a one-shot kernel build of the same prefix."""
        frames = tier_frames if tier_frames is not None else self.read_tiers()
        docs = self.docs[self.docs["ingest_es"] < self.upto]
        raw = oracle.rollup(docs, RAW_S)
        kept = raw[raw["bucket_es"] >= self.cutoff_es]
        dec_want = raw[["source", "bucket_es"]].assign(value=raw["sum_tok"].astype("float64"))
        errs = {
            "raw": oracle.compare_exact(kept, frames["raw"], ["source", "bucket_es"]),
            "1h": oracle.compare_exact(oracle.rollup(docs, HOUR_S), frames["1h"],
                                       ["source", "bucket_es"]),
            "1d": oracle.compare_exact(oracle.rollup(docs, DAY_S), frames["1d"],
                                       ["source", "bucket_es"]),
            "compressed": oracle.compare_exact(dec_want, frames["compressed"],
                                               ["source", "bucket_es"]),
        }
        gap_err, worst = oracle.compare_gap(self.gap_expected(), frames["gapfilled"])
        errs["gapfilled"] = gap_err
        self.layer["pipeline.gap_max_abs_diff"] = worst
        for name, err in errs.items():
            self.ledger.attempted += 1
            self.ledger.check(f"tier {name}", err)

    def read_tiers(self) -> dict[str, pd.DataFrame]:
        from kfts_insar_spark.operators.compress import decompress_tier

        s, p = self.spark, self.pipe
        return {
            "raw": p.read_tier(s, "raw").select(*TIER_COLS).toPandas(),
            "1h": p.read_tier(s, "1h").select(*TIER_COLS).toPandas(),
            "1d": p.read_tier(s, "1d").select(*TIER_COLS).toPandas(),
            "compressed": decompress_tier(p.read_tier(s, "compressed")).toPandas(),
            "gapfilled": p.read_tier(s, "gapfilled").select(
                *oracle.GAP_KEYS, "phase", "std", "innov", "gap_filled").toPandas(),
        }

    # -- per-layer numbers from public state and direct kernel calls
    def probe_layers(self) -> None:
        import probes
        from kfts_insar_spark.pipeline import DEFAULT_KF_CFG

        self.gap_expected()
        hist = self._series[self._series["bucket_es"] < self.t_hist]
        self.layer["kalman.kernel_points_per_s"] = probes.kalman_rate(
            hist, DEFAULT_KF_CFG, None)
        self.layer["kalman.resume_points_per_s"] = probes.kalman_rate(
            self._series, DEFAULT_KF_CFG, HOUR_S // RAW_S)
        raw = oracle.rollup(self.docs[self.docs["ingest_es"] < self.t_hist], RAW_S)
        enc, dec, exact = probes.codec_rates(raw)
        self.ledger.attempted += 1
        self.ledger.check("codec round trip", None if exact else "decode != input")
        self.layer["codec.encode_points_per_s"] = enc
        self.layer["codec.decode_points_per_s"] = dec

        def stage(kind, *names):
            return median([sum(s.get(n, 0.0) for n in names) for s in self.stage[kind]])

        self.layer["pipeline.gap_chain_s"] = stage("inc", "ingest_series", "gapfill")
        self.layer["pipeline.tier_chain_s"] = stage("inc", "derive_tiers")
        self.layer["pipeline.kf_output_s"] = stage("inc", "kf_output")
        self.layer["pipeline.g_touched_s"] = stage("inc", "g_touched")
        self.layer["pipeline.heal_s"] = stage("inc", "heal")
        self.layer["pipeline.ingest_raw_s"] = stage("build", "ingest_raw")
        self.layer["pipeline.g_write_s"] = stage("build", "g_write")
        for t, key in (("gapfilled", "gap"), ("1h", "1h")):
            self.layer[f"snapshot.rows_written_per_new_row_{key}"] = median(
                [r[t][0] / max(1, r[t][1]) for r in self.inc_rows])
        self.layer["snapshot.live_files"] = float(sum(
            len((t.manifest() or {"files": []})["files"]) for t in self.tables().values()))
        queries, _ = self._read_set()
        self.layer["snapshot.read_files"] = median(
            [len(q().inputFiles()) for q in queries.values()])

