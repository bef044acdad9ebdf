"""Resumable validation runs: snapshot-pinned, per-unit checkpoint ledger.

North-rule requirement (BASELINE.json ``north_rule``): runs over the
10^12-row table must be *resumable from checkpoint with per-partition
lineage + metrics rows*. The reference has no analog — it is a single
eager R process whose only recovery is "re-upload the file"
(``/root/reference/PRIME_App/server.R:666-790``); this module is the
scale-out replacement (SURVEY.md §2.10, §4.2.5).

Design
------
The input is split into **units** — either the values of a low-cardinality
partition column (Iceberg identity-partition analog: unit scans become
partition-pruned) or ``pmod(xxhash64(key), n_buckets)`` hash buckets
(Iceberg ``bucket(N, image_id)`` analog: unit scans are a pushed-down
filter over the same files, chosen when no physical partitioning exists).
Each unit runs the full ValidationSuite on its slice; its verdicts,
violations and a lineage/metrics row land under ``out_dir`` partitioned by
``unit=...``; then a tiny JSON manifest ``_ledger/<unit>.json`` is
committed via atomic rename. A crash between sink write and manifest
commit re-runs that one unit — every sink write is an idempotent
overwrite of the unit's own partition directory, so replays converge.

Units that are not resumed run concurrently, from a thread pool of at
most one thread per driver CPU: Spark runs jobs submitted from separate
threads concurrently, so one unit's driver work (planning, fitting,
collecting verdicts) overlaps another unit's jobs. On 4 cores, 16 units
over 16k rows took 34–40% less wall time than one after another, at the
same CPU, and twice as many threads as CPUs was no faster (README,
concurrent checkpoint units). The suite scores each run on its own
copies of the checks, so units share no fitted state. Results keep unit
order; the first unit error or an interrupt stops the units not yet
started and is raised once the running ones are done. A unit's
``violation_rows`` is counted by its own violations write.

Snapshot pinning: the ledger records a fingerprint of the input (Iceberg
snapshot id when the table provides one; else sorted (path, size,
mtime) digest of the parquet files). A resume against a *different*
snapshot refuses to mix results unless ``allow_snapshot_change=True``.

At cluster scale each unit is one Spark job over ~1/n of the data; units
are sized so a unit's shuffle state fits comfortably in the cluster
(n_buckets scales with table size, not executor count — the same ledger
works at N and 4N executors, which is what makes the scaling-efficiency
criterion measurable on an identical input).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from anomalydetection_spark.session import local_frame
from anomalydetection_spark.suite import ValidationSuite

LEDGER_DIR = "_ledger"

LINEAGE_SCHEMA = (
    "unit string, snapshot string, rows long, checks int, verdicts int, "
    "failed int, violation_rows long, elapsed_sec double, committed_at string"
)


def driver_cpus() -> int:
    """CPUs the driver process may run on: its affinity set where the OS
    reports one, else the machine's CPU count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def input_fingerprint(spark: SparkSession, path: str) -> str:
    """Pin the input data version. Parquet-dir fallback for the sandbox;
    an Iceberg deployment would use the table's current-snapshot-id (same
    contract: equal fingerprint ⇔ same data version).

    File listing goes through the Hadoop FileSystem API so ``s3a://`` /
    ``hdfs://`` inputs fingerprint their real file set — a driver-local
    ``os.walk`` would see nothing there and return one constant digest
    for every remote input, silently defeating snapshot pinning.

    Both branches emit identical entries for the same data: paths
    RELATIVE to the listed root and mtimes at MILLISECOND granularity
    (Hadoop reports ms natively; locally ``st_mtime_ns // 1e6``). Second
    granularity would open a 1000× wider false-equal window: a
    same-length file overwritten within the same second as the pinned
    snapshot would fingerprint identically and the runner would silently
    resume committed units against changed data — the exact failure the
    snapshot pin exists to catch. Relative paths keep 'equal fingerprint
    ⇔ same data version' stable when identical data is moved or
    remounted."""
    entries = []
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        root = fs.makeQualified(hpath).toUri().getPath().rstrip("/")
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            p = st.getPath().toUri().getPath()
            rel = p[len(root):].lstrip("/") if p.startswith(root) else p
            entries.append(
                f"{rel}:{st.getLen()}:{st.getModificationTime()}"
            )
    except Exception:
        # no JVM gateway (Spark Connect): local filesystem only
        if not os.path.exists(path):
            raise ValueError(
                f"cannot fingerprint {path!r}: Hadoop FileSystem listing "
                "failed and the path is not on the local filesystem"
            )
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith("_") or f.startswith("."):
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    # st_mtime_ns // 1e6 is exact ms (float st_mtime*1000
                    # can truncate 1ms differently than Java lastModified)
                    f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns // 1_000_000}"
                )
    if not entries:
        raise ValueError(
            f"cannot fingerprint {path!r}: no data files found — refusing "
            "to pin an empty digest (it would match every other empty input)"
        )
    digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()
    # Versioned format: v2 = relative paths + MILLISECOND mtimes. The
    # prefix makes a format bump distinguishable from real data drift —
    # a ledger committed under the unversioned second-granularity format
    # ("parquet:<digest>") mismatches v2 on unchanged data, and the
    # resume error below names the migration instead of implying the
    # input changed.
    return f"parquet:v2:{digest[:16]}"


@dataclass
class UnitResult:
    unit: str
    rows: int
    verdicts: int
    failed: int
    violation_rows: int
    # the unit's wall time from its suite run to its ledger commit; units
    # run concurrently, so these overlap and do not sum to the run's wall
    elapsed_sec: float
    skipped: bool = False


@dataclass
class RunReport:
    snapshot: str
    units: list[UnitResult] = field(default_factory=list)

    @property
    def completed(self) -> int:
        return len([u for u in self.units if not u.skipped])

    @property
    def resumed(self) -> int:
        return len([u for u in self.units if u.skipped])


class CheckpointedRunner:
    """Drives a ValidationSuite over units, concurrently, with an
    idempotent per-unit ledger."""

    def __init__(
        self,
        suite: ValidationSuite,
        out_dir: str,
        unit_col: str | None = None,
        bucket_key: str | None = None,
        n_buckets: int = 16,
        allow_snapshot_change: bool = False,
        stage_buckets: bool = False,
        staging_gc_ttl_sec: float = 24 * 3600,
    ):
        if (unit_col is None) == (bucket_key is None):
            raise ValueError("exactly one of unit_col / bucket_key is required")
        if stage_buckets and bucket_key is None:
            raise ValueError("stage_buckets applies to bucket_key mode only")
        from anomalydetection_spark.checks import RowCountCheck

        if not any(isinstance(c, RowCountCheck) for c in suite.checks):
            suite = ValidationSuite(
                list(suite.checks) + [RowCountCheck()],
                table_name=suite.table_name,
                partition_by=suite.partition_by,
            )
        self.suite = suite
        self.out_dir = out_dir
        self.unit_col = unit_col
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        self.allow_snapshot_change = allow_snapshot_change
        self.stage_buckets = stage_buckets
        # staging copies of OTHER tags whose _IN_USE marker is younger
        # than this are presumed live (another runner sharing out_dir)
        # and exempt from GC; each runner refreshes its own marker per run
        self.staging_gc_ttl_sec = staging_gc_ttl_sec
        self._staging_marker: str | None = None

    # -- ledger primitives -------------------------------------------------
    def _unit_scheme(self) -> str:
        """Identity of the unit PARTITIONING: a committed unit is only
        resumable when the rows its label denotes are the same set —
        which depends on the bucketing config, not just the label."""
        if self.bucket_key is not None:
            return f"bucket:{self.bucket_key}:n{self.n_buckets}"
        return f"col:{self.unit_col}"

    def _ledger_path(self, unit: str) -> str:
        return os.path.join(self.out_dir, LEDGER_DIR, f"{unit}.json")

    def _commit(self, unit: str, payload: dict[str, Any]) -> None:
        path = self._ledger_path(unit)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)  # atomic commit point

    def _completed(self, unit: str, snapshot: str) -> dict | None:
        path = self._ledger_path(unit)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            rec = json.load(f)
        if rec.get("unit_scheme") != self._unit_scheme():
            # same unit LABEL, different unit CONTENTS: a bucket=0003
            # committed under pmod(hash, 4) covers different rows than
            # bucket=0003 under pmod(hash, 8) — stale, re-run
            return None
        if rec.get("snapshot") != snapshot and not self.allow_snapshot_change:
            old = rec.get("snapshot") or ""
            fmt_note = ""
            if old.startswith("parquet:") and not old.startswith("parquet:v2:"):
                fmt_note = (
                    " NOTE: the committed snapshot uses the pre-v2 "
                    "fingerprint format (second-granularity mtimes); the "
                    "v2 format (ms mtimes) changes every fingerprint once "
                    "even on unchanged data — if the input is known "
                    "unchanged, this is the one-time format migration, "
                    "not data drift."
                )
            raise RuntimeError(
                f"unit {unit!r} was committed against snapshot "
                f"{old!r} but the input is now {snapshot!r}; "
                "pass allow_snapshot_change=True to redo against the new "
                "snapshot (stale units are re-run, not mixed)." + fmt_note
            )
        if rec.get("snapshot") != snapshot:
            return None  # stale → re-run
        return rec

    # -- unit planning -------------------------------------------------------
    def _staged_units(self, df: DataFrame, snapshot: str) -> list[tuple[str, DataFrame]]:
        """One-pass bucket staging: write the input ONCE partitioned by
        the computed bucket, then every unit is a partition-pruned read
        of its own directory. Trades one full write (+read) for the
        non-staged mode's n_buckets× scan amplification — the right call
        on plain unpartitioned parquet whenever n_buckets is more than
        ~2-3; an Iceberg table bucket-partitioned on the key needs
        neither (unit predicates prune natively). The staging copy is
        keyed by the input snapshot fingerprint AND the bucket config
        (n_buckets, bucket_key) — a rerun with a different bucket count
        or key must restage, or its units would partition-prune against
        a stale layout and silently validate zero rows."""
        spark = df.sparkSession
        tag = (f"{snapshot}__{self.bucket_key}__n{self.n_buckets}"
               .replace(":", "_").replace("/", "_"))
        root = os.path.join(self.out_dir, "_staging")
        staged = os.path.join(root, tag)
        # Liveness marker FIRST, as a SIBLING of the tag dir
        # (root/<tag>._IN_USE): it must exist before the staged write
        # starts — during a fresh write the tag dir has no _SUCCESS yet,
        # and a concurrent runner sharing out_dir with a different
        # snapshot/bucket config would otherwise GC the in-progress copy
        # mid-write (racing Spark's commit can leave a dir with _SUCCESS
        # but missing part files, which later runs would silently reuse).
        # Sibling placement also keeps it out of write.mode('overwrite')'s
        # delete of the tag dir itself. Held for the duration of run(),
        # removed at run end; the TTL reclaims markers leaked by crashes.
        os.makedirs(root, exist_ok=True)
        marker = os.path.join(root, f"{tag}._IN_USE")
        with open(marker, "w") as fh:
            fh.write("")
        self._staging_marker = marker
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            # GC stale staging copies before writing a new one: a tag for
            # a different snapshot or bucket config can never be resumed
            # against by THIS runner (the ledger's unit_scheme/snapshot
            # checks reject it), and each copy is input-sized — without
            # this, every config change would leave a full copy of the
            # table behind. Deletion is scoped to tags whose sibling
            # _IN_USE marker is missing or older than staging_gc_ttl_sec:
            # a concurrent runner refreshes its marker BEFORE it starts
            # writing, so its copy is protected for its whole lifetime.
            import shutil
            import time

            now = time.time()
            for old in os.listdir(root):
                if old == tag or old == f"{tag}._IN_USE":
                    continue
                if old.endswith("._IN_USE"):
                    # marker file: its OWN GC pass — a marker whose tag
                    # dir is already gone (crash between rmtree(dir) and
                    # remove(marker), or a racing runner's rmtree) has no
                    # dir branch left to reclaim it, so expire it here by
                    # the same TTL rule or it accumulates forever
                    tag_dir = os.path.join(root, old[: -len("._IN_USE")])
                    if not os.path.exists(tag_dir):
                        try:
                            expired = (now - os.path.getmtime(
                                os.path.join(root, old))
                                >= self.staging_gc_ttl_sec)
                        except OSError:
                            expired = False
                        if expired:
                            try:
                                os.remove(os.path.join(root, old))
                            except OSError:
                                pass
                    continue
                old_marker = os.path.join(root, f"{old}._IN_USE")
                try:
                    fresh = (now - os.path.getmtime(old_marker)
                             < self.staging_gc_ttl_sec)
                except OSError:
                    fresh = False
                if not fresh:
                    shutil.rmtree(os.path.join(root, old),
                                  ignore_errors=True)
                    try:
                        os.remove(old_marker)
                    except OSError:
                        pass
            b = F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.n_buckets))
            (
                df.withColumn("__bucket", b)
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(staged)
            )
        sdf = spark.read.parquet(staged)
        return [
            (
                f"bucket={i:04d}",
                sdf.filter(F.col("__bucket") == F.lit(i)).drop("__bucket"),
            )
            for i in range(self.n_buckets)
        ]

    def _units(self, df: DataFrame, snapshot: str = "unpinned") -> list[tuple[str, DataFrame]]:
        if self.unit_col is not None:
            # keep the ORIGINAL typed values for the filter (stringifying
            # then comparing col == lit(str) is lossy for non-string
            # columns and matches nothing for NULL — rows would silently
            # belong to no unit while the ledger commits the run complete)
            vals = [r[0] for r in df.select(self.unit_col).distinct().collect()]
            vals.sort(key=lambda v: (v is not None, str(v)))  # NULL unit first
            units = []
            seen_labels: set[str] = set()
            for v in vals:
                label = f"{self.unit_col}=" + str(v).replace("/", "_")
                if label in seen_labels:  # e.g. 1 vs '1' stringify alike
                    raise ValueError(
                        f"unit label collision on {label!r}; unit_col values "
                        "must stringify uniquely"
                    )
                seen_labels.add(label)
                pred = (
                    F.col(self.unit_col).isNull()
                    if v is None
                    else F.col(self.unit_col) == F.lit(v)
                )
                units.append((label, df.filter(pred)))
            return units
        if self.stage_buckets:
            return self._staged_units(df, snapshot)
        # WARNING — scan amplification: each unit filters the FULL input
        # by pmod(xxhash64(key), n), so a resumable run over plain
        # unpartitioned parquet reads the table n_buckets times. This is
        # the Iceberg ``bucket(N, key)`` analog and is the right shape
        # ONLY when the table is physically bucketed (unit scans prune);
        # otherwise pass ``stage_buckets=True`` for the one-pass staged
        # variant.
        b = F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.n_buckets))
        return [
            (f"bucket={i:04d}", df.filter(b == F.lit(i)))
            for i in range(self.n_buckets)
        ]

    # -- main ---------------------------------------------------------------
    def run(self, df: DataFrame, input_path: str | None = None,
            snapshot: str | None = None) -> RunReport:
        spark = df.sparkSession
        if snapshot is None:
            snapshot = (
                input_fingerprint(spark, input_path) if input_path else "unpinned"
            )
        report = RunReport(snapshot=snapshot)
        lineage_rows = []
        try:
            return self._run_units(df, spark, snapshot, report, lineage_rows)
        finally:
            # release the staging liveness marker so the NEXT config
            # change can GC this copy; crashes that skip this line are
            # covered by the marker TTL
            if self._staging_marker is not None:
                try:
                    os.remove(self._staging_marker)
                except OSError:
                    pass
                self._staging_marker = None

    def _run_unit(self, unit: str, slice_df: DataFrame, spark,
                  snapshot: str) -> tuple[dict, UnitResult, list[dict]]:
        """Write one unit's sinks, then commit its ledger entry."""
        t0 = time.time()
        res = self.suite.run(slice_df, spark)
        unit_dir = os.path.join(self.out_dir, "verdicts", f"unit={unit}")
        res.verdicts.write.mode("overwrite").parquet(unit_dir)
        viol_rows = 0
        if res.violations is not None:
            vdir = os.path.join(self.out_dir, "violations", f"unit={unit}")
            # counted by the write itself: a second read of the
            # directory would cost a listing job and a count
            obs = Observation()
            (res.violations.observe(obs, F.count(F.lit(1)).alias("rows"))
             .write.mode("overwrite").parquet(vdir))
            viol_rows = obs.get["rows"]
        vlocal = res.verdicts.collect()
        res.release()  # unit's sinks are written — free decode caches
        scorecard = [{
            "row_key": unit + (f"/{v['partition']}" if v["partition"] else ""),
            "check": v["check"], "passed": bool(v["passed"]),
        } for v in vlocal]
        rows = int(next(
            (v["value"] for v in vlocal
             if v["metric"] == "row_count" and v["partition"] == ""), -1,
        ))
        failed = len([v for v in vlocal if not v["passed"]])
        elapsed = time.time() - t0
        payload = {
            "unit": unit, "snapshot": snapshot,
            "unit_scheme": self._unit_scheme(), "rows": rows,
            "checks": len(self.suite.checks), "verdicts": len(vlocal),
            "failed": failed, "violation_rows": viol_rows,
            "elapsed_sec": round(elapsed, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._commit(unit, payload)
        return payload, UnitResult(unit, rows, len(vlocal), failed, viol_rows,
                                   elapsed), scorecard

    def _run_units(self, df: DataFrame, spark, snapshot: str,
                   report: RunReport, lineage_rows: list) -> RunReport:
        scorecard_rows: list[dict] = []
        resumed_units: list[str] = []
        jsc = spark.sparkContext._jsc.sc()
        props, tags = jsc.getLocalProperties(), spark.getTags()

        def unit_thread(unit: str, slice_df: DataFrame):
            # a fresh clone per unit: Spark writes per-job state (SQL
            # execution ids) into the properties, so threads share none
            jsc.setLocalProperties(props.clone())
            for tag in tags:
                spark.addTag(tag)
            return self._run_unit(unit, slice_df, spark, snapshot)

        # The pool starts a thread per submitted unit until it holds
        # driver_cpus() of them, so it never outnumbers the pending units.
        with ThreadPoolExecutor(driver_cpus()) as pool:
            try:
                for unit, slice_df in self._units(df, snapshot):
                    rec = self._completed(unit, snapshot)
                    if rec is None:
                        report.units.append(pool.submit(unit_thread, unit, slice_df))
                        continue
                    report.units.append(
                        UnitResult(unit, rec["rows"], rec["verdicts"], rec["failed"],
                                   rec["violation_rows"], rec["elapsed_sec"],
                                   skipped=True)
                    )
                    resumed_units.append(unit)
                for f in as_completed(
                        [u for u in report.units if isinstance(u, Future)]):
                    f.result()  # raises the first unit error
            except BaseException:
                # a unit error or an interrupt: units not yet started
                # never start; the running ones finish (each commits its
                # ledger entry only after its sinks) before this raises
                pool.shutdown(cancel_futures=True)
                raise
        for i, u in enumerate(report.units):
            if isinstance(u, Future):
                payload, report.units[i], rows = u.result()
                lineage_rows.append(payload)
                scorecard_rows.extend(rows)
        if resumed_units:
            # resumed units still appear on the scorecard — ONE
            # partition-pruned read of the verdicts root (dir name
            # `unit=<u>` is a partition column; the isin filter prunes
            # to exactly the resumed dirs), not a driver loop of one
            # tiny Spark job per unit: a 512-bucket full resume would
            # otherwise pay 512 sequential plan+schedule round-trips
            # before rendering anything (review r05). A resumed unit's
            # verdicts were committed, so a failed read here is a fault
            # of the output directory and raises, never a short scorecard.
            vdf = (
                spark.read.parquet(os.path.join(self.out_dir, "verdicts"))
                .filter(F.col("unit").isin(resumed_units))
                .select("unit", "partition", "check", "passed")
            )
            for v in vdf.collect():
                scorecard_rows.append({
                    "row_key": v["unit"] + (f"/{v['partition']}"
                                            if v["partition"] else ""),
                    "check": v["check"], "passed": bool(v["passed"]),
                })
        if lineage_rows:
            local_frame(
                spark,
                [
                    (p["unit"], p["snapshot"], p["rows"], p["checks"], p["verdicts"],
                     p["failed"], p["violation_rows"], p["elapsed_sec"], p["committed_at"])
                    for p in lineage_rows
                ],
                LINEAGE_SCHEMA,
            ).write.mode("append").parquet(os.path.join(self.out_dir, "lineage"))
        if scorecard_rows:
            # reviewer-facing artifact beside the parquet sinks: the
            # (unit[/partition] × check) failure matrix with total
            # row/col and column-by-total ordering — the reference's
            # Excel scorecard shape (PRIME_App/utils.R:398-405,
            # App/utils.R:589-593) as CSV + HTML
            from anomalydetection_spark.report import render_scorecard

            render_scorecard(scorecard_rows, self.out_dir,
                             row_label="unit")
        return report
