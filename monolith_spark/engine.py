"""MonolithDB — the engine facade: two-table layout + query plans.

Layout (SURVEY.md §7.1):
- ``series`` dim:  [series_id long, signature string, labels map<string,string>]
- ``samples`` fact: [series_id long, timestamp long(ms), value double],
  Parquet partitioned by ``chunk_id = floor(timestamp / chunk_size_ms)``
  — the Spark mapping of the reference's Chunk
  (/root/reference/src/chunk/chunk.rs:68-96); partition pruning replaces
  chunk selection (/root/reference/src/db.rs:225-252).

Scale notes (100 TB):
- The dim is tiny relative to the fact (≤ millions of series vs
  trillions of samples) → matcher evaluation is a broadcast join; the
  fact table is never shuffled on the query path.
- Facts are appended time-sorted within partitions so Parquet row-group
  min/max stats give the reference's per-series binary search (F3) for
  free.
- Content-hash series ids make ingest idempotent and lock-free — the
  reference serializes every insert behind a chunk RwLock
  (/root/reference/src/chunk/chunk.rs:110-114); here concurrent
  writers can only produce duplicate dim rows, which reads drop.
- Ingest picks its path from the input. An IngestBatch — a decoded
  request, already on the driver as label maps and point columns — is
  appended in process, as the reference appends a request: no
  DataFrame is built, series ids come from a memo of Spark's own
  signature + xxhash64 (bounded to the live dim's series; a label set
  not seen yet costs one jobless LocalRelation collect), and each
  chunk's rows are written with pyarrow, samples and exemplars in one
  commit. Any DataFrame (Parquet scans, rules, streaming micro-batches)
  takes the Spark write, the only one that handles data the driver
  does not hold. On both, known series cost no dim work: a batch's
  distinct series_ids are checked on the driver against the live dim
  files' ids, cached per (immutable) file name, and only a batch
  carrying a new series runs the dim anti-join and appends a dim file
  — so a steady-state request write makes zero py4j calls.

Snapshot isolation (manifest-as-commit):
- Every mutation — ingest append, compaction, delete, retention —
  becomes visible through ONE atomic pointer swing: data files are
  staged, then a new manifest version (the JSON list of live files per
  table) is written and ``_manifest/CURRENT`` is atomically replaced.
  Readers resolve CURRENT at plan time, so a reader that planned
  before a rewrite keeps executing against the files its snapshot
  names — the Spark-native equivalent of the reference's chunk swap
  lock (/root/reference/src/db.rs:269-318), without blocking anyone.
- A crash at ANY point before the pointer swing is a no-op: staged
  files are unreferenced (``vacuum`` reclaims them); there is no
  recovery protocol, no staged-rename window, no pid heuristics.
- Space is reclaimed by an explicit ``vacuum(grace_ms)`` — files
  unreferenced by retained snapshots AND older than the grace are
  deleted (the grace must exceed the longest in-flight query/write,
  Delta-VACUUM semantics). At cluster scale the same commit protocol
  runs against an object store with a conditional-put on CURRENT; the
  flat JSON manifest would become a manifest tree past ~10^6 files.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from monolith_spark.labels import (
    EQ,
    RE,
    SAMPLES_SCHEMA,
    LabelMatcher,
    matcher_predicate,
    regex_literal_set,
    series_id_expr,
    signature_sql_text,
    superset_predicate,
)
from monolith_spark.operators.timeseries import (
    chunk_pred,
    detect_skewed_key,
    time_trim,
    to_timeseries,
    to_timeseries_salted,
    valid_points,
)

# Reference default chunk size: 12000 seconds (/root/reference/src/lib.rs:44,
# converted at /root/reference/src/common/option.rs:25-31). We use ms
# uniformly (the reference's ms/s confusion is documented in SURVEY §2.6 ST3).
DEFAULT_CHUNK_MS = 12_000 * 1000

QueryMatcher = LabelMatcher
_LABELS_SCHEMA = StructType([SAMPLES_SCHEMA["labels"]])


def _fsync_dir(path: str) -> None:
    """Make the renames into ``path`` durable: a rename is a change to
    the directory, so it survives a power loss only once the directory
    itself is fsync'd."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _labels_array(maps: list[dict[str, str]]):
    """One Arrow map<string,string> entry per label dict."""
    import pyarrow as pa

    offsets, keys, values = [0], [], []
    for m in maps:
        keys.extend(m)
        values.extend(m.values())
        offsets.append(len(keys))
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(keys, pa.string()),
        pa.array(values, pa.string()),
    )


@dataclass
class Points:
    """One point kind of an IngestBatch, as columns: per point, the
    index of its series in ``IngestBatch.labels``, its timestamp (ms)
    and value, and for exemplars its own label map."""

    owner: np.ndarray  # int64
    timestamp: np.ndarray  # int64
    value: np.ndarray  # float64
    labels: list[dict[str, str]] | None = None

    def valid(self, window: tuple[int, int] | None = None) -> np.ndarray:
        """The F1/F2 mask of valid_points: ts != 0, and inside
        ``window`` (bounds inclusive) when one is given."""
        ts = self.timestamp
        keep = ts != 0
        if window is not None:
            keep &= (ts >= window[0]) & (ts <= window[1])
        return keep


@dataclass
class IngestBatch:
    """A write batch already on the driver — a decoded remote-write
    request: each series' label map once, and its samples and
    exemplars (None when it carries none) as point columns.
    MonolithDB.write takes it in place of a DataFrame and appends it in
    process, with no DataFrame built."""

    labels: list[dict[str, str]]
    samples: Points
    exemplars: Points | None = None

    def frame(self, spark: SparkSession, exemplars: bool = False) -> DataFrame | None:
        """The samples (or exemplars) as a DataFrame — SAMPLES_SCHEMA,
        plus ``exemplar_labels`` for exemplars — built from Arrow, so
        Spark plans it as a LocalTableScan; None for absent exemplars."""
        import pyarrow as pa

        pts = self.exemplars if exemplars else self.samples
        if pts is None:
            return None
        cols = {
            "labels": _labels_array(self.labels).take(pa.array(pts.owner, pa.int64())),
            "timestamp": pa.array(pts.timestamp, pa.int64()),
            "value": pa.array(pts.value, pa.float64()),
        }
        if not exemplars:
            return spark.createDataFrame(pa.table(cols), SAMPLES_SCHEMA)
        cols["exemplar_labels"] = _labels_array(pts.labels)
        return spark.createDataFrame(
            pa.table(cols),
            "labels map<string,string>, timestamp long, value double, "
            "exemplar_labels map<string,string>",
        )


@dataclass
class MonolithDB:
    """One engine instance rooted at ``path`` (≈ MonolithDb,
    /root/reference/src/db.rs:22-32)."""

    spark: SparkSession
    path: str
    chunk_size_ms: int = DEFAULT_CHUNK_MS
    # Force-broadcast the matched series dim only while its on-disk
    # size stays under this bound; above it (high-cardinality labels at
    # 100 TB — a match-all query would ship the whole dim to every
    # executor) drop the hint and let AQE pick the join strategy from
    # runtime sizes. The bound is compared against on-disk Parquet
    # bytes × DIM_DECOMPRESS_FACTOR: broadcast ships decompressed rows,
    # and dictionary/RLE-encoded label dims commonly expand 5-10×, so
    # gating on raw file size alone would force multi-GB broadcasts
    # past executor memory.
    dim_broadcast_bytes: int = 256 * 1024 * 1024
    DIM_DECOMPRESS_FACTOR: int = 8
    # Serve EQ matchers from the at-rest inverted label index when one
    # exists and is fresh (build_label_index). False pins the full
    # dim-scan path (debugging / plan comparison).
    use_label_index: bool = True
    # Parquet bloom filters on the dim: signature → J5 exact lookups
    # skip row groups (the sled point-get analog at rest); series_id →
    # the IN-pushdown hydration path (_hydrate) skips row groups, with
    # min/max doing the coarse cut since dim files are series_id-sorted
    # at write. Adaptive sizing fits each filter to its column's
    # distinct count, so a one-series dim file is not a fixed ~2 MB.
    _DIM_WRITE_OPTS = {
        "parquet.bloom.filter.enabled#signature": "true",
        "parquet.bloom.filter.enabled#series_id": "true",
        "parquet.bloom.filter.adaptive.enabled": "true",
    }
    # series_ids per live dim file name, the write path's known-series
    # probe (_unknown_ids). Dim files are immutable — a dim rewrite
    # commits new names — so an entry never goes stale; entries for
    # files a commit dropped are pruned on the next probe.
    _dim_ids: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    # label set (frozenset of its items) → series_id, the IngestBatch
    # path's memo of Spark's own signature + xxhash64 (_batch_series_ids).
    # A pure function, so never stale; it holds only series of the live
    # dim and is pruned when _dim_ids drops a file.
    _sid_memo: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _sid_memo_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def __post_init__(self) -> None:
        self.samples_path = os.path.join(self.path, "samples")
        self.series_path = os.path.join(self.path, "series")
        self.index_path = os.path.join(self.path, "label_index")
        self.exemplars_path = os.path.join(self.path, "exemplars")
        meta_path = os.path.join(self.path, "metadata.json")
        # S4 db-level metadata (/root/reference/src/db.rs:107-124): reject
        # reopening with a different chunk size, like the reference rejects
        # mismatched indexer/storage types.
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("chunk_size_ms") != self.chunk_size_ms:
                raise ValueError(
                    f"existing db at {self.path} has chunk_size_ms="
                    f"{meta.get('chunk_size_ms')}, requested {self.chunk_size_ms}"
                )
        else:
            os.makedirs(self.path, exist_ok=True)
            with open(meta_path, "w") as f:
                json.dump(
                    {
                        "engine": "monolith-spark",
                        "version": 1,
                        "chunk_size_ms": self.chunk_size_ms,
                        "created_ms": int(time.time() * 1000),
                    },
                    f,
                )

    # ------------------------------------------- manifest (snapshot commits)

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifest")

    @contextmanager
    def _manifest_lock(self):
        """Serialize manifest commits across processes (flock on local
        fs; the object-store analog is a conditional-put on CURRENT).
        Guards only the commit critical section — readers never take
        it."""
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        lf = open(os.path.join(d, "LOCK"), "w")
        try:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
            lf.close()

    def _read_current(self) -> dict | None:
        """The committed snapshot, or None if no manifest exists yet.
        CURRENT is replaced atomically, so this needs no lock: a reader
        sees either the old or the new pointer, and version files are
        fully written (fsync'd) before the pointer swings."""
        cur = os.path.join(self._manifest_dir(), "CURRENT")
        try:
            with open(cur) as f:
                name = f.read().strip()
            with open(os.path.join(self._manifest_dir(), name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _load_manifest(self, at_version: int | None = None) -> dict:
        """Resolve the current snapshot — or a HISTORICAL one when
        ``at_version`` is given (time travel: every commit is a full
        file listing, so any retained version reads consistently).
        A vacuumed-away version fails loudly. Migrates a legacy
        directory-layout db (pre-manifest) on first contact."""
        if at_version is not None:
            path = os.path.join(self._manifest_dir(), f"v{at_version:012d}.json")
            try:
                with open(path) as f:
                    return json.load(f)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot version {at_version} does not exist (never "
                    "committed, or expired by vacuum)"
                ) from None
        man = self._read_current()
        if man is not None:
            return man
        with self._manifest_lock():
            man = self._read_current()  # lost the migration race: done
            if man is not None:
                return man
            return self._migrate_legacy()

    def history(self) -> list[dict]:
        """The retained snapshot log, oldest first: [{version,
        committed_ms, op, n_series_files, n_chunks}] — one entry per
        manifest version still on disk (vacuum prunes old ones). The
        observability surface for time travel: pass any listed version
        to samples/series/query(..., at_version=...)."""
        d = self._manifest_dir()
        self._load_manifest()  # ensure migration happened
        out = []
        for name in sorted(os.listdir(d)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(d, name)) as f:
                    m = json.load(f)
            except (OSError, ValueError):
                continue
            out.append(
                {
                    "version": m["version"],
                    "committed_ms": m.get("committed_ms"),
                    "op": m.get("op", "unknown"),
                    "n_series_files": len(m["series"]),
                    "n_chunks": len(m["samples"]),
                }
            )
        return out

    def _migrate_legacy(self) -> dict:
        """Build manifest v1 from the on-disk directory layout (called
        once, under the commit lock). Heals any staged-rename state a
        pre-manifest engine crash left behind first."""
        self._recover_compaction()
        series_files = []
        if os.path.isdir(self.series_path):
            series_files = sorted(
                f for f in os.listdir(self.series_path) if f.endswith(".parquet")
            )
        samples: dict[str, list[str]] = {}
        if os.path.isdir(self.samples_path):
            for name in sorted(os.listdir(self.samples_path)):
                if not name.startswith("chunk_id="):
                    continue
                cid = name.split("=", 1)[1]
                try:
                    int(cid)
                except ValueError:
                    continue
                part = os.path.join(self.samples_path, name)
                files = sorted(
                    f for f in os.listdir(part) if f.endswith(".parquet")
                )
                if files:
                    samples[cid] = files
        man = {
            "version": 1,
            "committed_ms": int(time.time() * 1000),
            "op": "migrate",
            "series": series_files,
            "samples": samples,
        }
        self._write_version(man)
        return man

    def _write_version(self, man: dict) -> None:
        """Durably write v{N}.json, then atomically swing CURRENT —
        the single point where a snapshot becomes visible."""
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        name = f"v{man['version']:012d}.json"
        tmp = os.path.join(d, name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(d, name))
        cur_tmp = os.path.join(d, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, os.path.join(d, "CURRENT"))
        _fsync_dir(d)  # the swing itself survives a power loss

    def _commit(self, mutate, op: str = "unknown") -> dict:
        """Commit a new snapshot: under the lock, re-read the latest
        manifest (serializing against concurrent committers), apply
        ``mutate(manifest) -> None`` in place, bump the version, stamp
        the operation name (history()'s provenance column), write +
        swing. A crash anywhere before the CURRENT swing leaves the
        previous snapshot fully intact."""
        with self._manifest_lock():
            man = self._read_current()
            if man is None:
                man = self._migrate_legacy()
            new = json.loads(json.dumps(man))
            mutate(new)
            new["version"] = man["version"] + 1
            new["committed_ms"] = int(time.time() * 1000)
            new["op"] = op
            self._write_version(new)
            return new

    def _stage_and_move(
        self,
        df: DataFrame,
        target_dir: str,
        partition_by: str | None = None,
        options: dict[str, str] | None = None,
    ):
        """Write ``df`` to a unique staging dir, then move the part
        files into the live table directory (same-fs rename — on an
        object store the staged paths would go into the manifest
        directly instead). The files become LIVE only when a later
        manifest commit references them; a crash before that leaves
        unreferenced files for vacuum. Returns the moved basenames —
        a list, or {chunk_id: [basenames]} when ``partition_by``."""
        staging = os.path.join(self.path, "_staged", uuid.uuid4().hex)
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(partition_by)
        if options:
            writer = writer.options(**options)
        writer.parquet(staging)

        import pyarrow.parquet as pq

        def _move_into(src_dir: str, dst_dir: str) -> list[str]:
            # Zero-row part files (an empty batch, a fully-deleted
            # chunk) never enter the manifest — one footer read per
            # file we just wrote, so empty micro-batches commit
            # nothing, emptied chunks vanish cleanly, and an all-empty
            # move never even creates the target dir.
            src = [
                fn
                for fn in sorted(os.listdir(src_dir))
                if fn.endswith(".parquet")
                and pq.read_metadata(os.path.join(src_dir, fn)).num_rows > 0
            ]
            names = []
            if src:
                os.makedirs(dst_dir, exist_ok=True)
            for fn in src:
                dst = os.path.join(dst_dir, fn)
                if os.path.exists(dst):  # uuid part names: ~impossible
                    fn = f"{uuid.uuid4().hex[:8]}-{fn}"
                    dst = os.path.join(dst_dir, fn)
                os.rename(os.path.join(src_dir, fn), dst)
                names.append(fn)
            return names

        try:
            if partition_by is None:
                return _move_into(staging, target_dir)
            moved: dict[str, list[str]] = {}
            for name in sorted(os.listdir(staging)):
                if not name.startswith(f"{partition_by}="):
                    continue
                key = name.split("=", 1)[1]
                files = _move_into(
                    os.path.join(staging, name),
                    os.path.join(target_dir, name),
                )
                if files:
                    moved[key] = files
            return moved
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def vacuum(
        self, grace_ms: int = 24 * 3600 * 1000, retain_last: int = 1
    ) -> int:
        """Reclaim space: delete data files not referenced by any
        RETAINED snapshot — the latest ``retain_last`` versions plus
        every version committed within ``grace_ms`` — and prune expired
        manifest files, orphaned staging dirs, and now-empty chunk
        partition dirs. Unreferenced files younger than ``grace_ms``
        are also kept (an in-flight writer has moved them but not yet
        committed). The grace must exceed the longest in-flight query:
        a reader whose snapshot is vacuumed away fails loudly mid-scan
        (file not found), never silently drops rows. Returns the
        number of data files deleted."""
        deleted = 0
        with self._manifest_lock():
            if self._read_current() is None:
                return 0
            d = self._manifest_dir()
            versions = sorted(
                n for n in os.listdir(d)
                if n.startswith("v") and n.endswith(".json")
            )
            now = int(time.time() * 1000)
            keep_floor = max(0, len(versions) - max(1, retain_last))
            retained, referenced = set(), set()
            for i, name in enumerate(versions):
                with open(os.path.join(d, name)) as f:
                    m = json.load(f)
                if i >= keep_floor or now - m.get("committed_ms", 0) <= grace_ms:
                    retained.add(name)
                    referenced.update(
                        os.path.join(self.series_path, fn) for fn in m["series"]
                    )
                    referenced.update(
                        os.path.join(self.samples_path, f"chunk_id={cid}", fn)
                        for cid, fl in m["samples"].items()
                        for fn in fl
                    )
                    referenced.update(
                        os.path.join(self.exemplars_path, f"chunk_id={cid}", fn)
                        for cid, fl in m.get("exemplars", {}).items()
                        for fn in fl
                    )
                    idx = m.get("label_index")
                    if idx:
                        referenced.update(
                            os.path.join(self.index_path, f"kp={b}", fn)
                            for b, fl in idx["buckets"].items()
                            for fn in fl
                        )
            for base in (self.series_path, self.samples_path, self.index_path,
                         self.exemplars_path):
                if not os.path.isdir(base):
                    continue
                for root, dirs, files in os.walk(base, topdown=False):
                    for fn in files:
                        p = os.path.join(root, fn)
                        if p in referenced or not fn.endswith(".parquet"):
                            continue
                        try:
                            if now - os.path.getmtime(p) * 1000 <= grace_ms:
                                continue
                            os.remove(p)
                            deleted += 1
                        except OSError:
                            continue
                    if root != base and not os.listdir(root):
                        try:
                            os.rmdir(root)
                        except OSError:
                            pass
            for name in versions:
                if name not in retained:
                    try:
                        os.remove(os.path.join(d, name))
                    except OSError:
                        pass
            staged = os.path.join(self.path, "_staged")
            if os.path.isdir(staged):
                for name in os.listdir(staged):
                    p = os.path.join(staged, name)
                    try:
                        if now - os.path.getmtime(p) * 1000 > grace_ms:
                            shutil.rmtree(p, ignore_errors=True)
                    except OSError:
                        continue
        return deleted

    # ------------------------------------------- metric metadata + snapshots

    _METADATA_TYPES = frozenset(
        ("counter", "gauge", "histogram", "gaugehistogram", "summary",
         "info", "stateset", "unknown", "untyped")
    )

    def set_metric_metadata(self, meta: dict[str, dict]) -> None:
        """Merge per-metric metadata — the exposition format's
        ``# HELP`` / ``# TYPE`` / ``# UNIT`` comments — into the
        manifest as ONE commit (`op="metadata"`). Metadata is bounded
        (one entry per metric NAME, not per series), so it lives in
        the manifest itself: atomic with everything else, versioned,
        and time-travelable for free. Later scrapes update fields
        per-metric (a scrape that carries only # TYPE never erases a
        stored help string). Unknown metric types are rejected loudly
        — a typo'd TYPE line must not poison /api/v1/metadata."""
        norm: dict[str, dict] = {}
        for name, m in meta.items():
            entry = {}
            for k in ("type", "help", "unit"):
                if m.get(k) is not None:
                    entry[k] = str(m[k])
            t = entry.get("type")
            if t is not None and t not in self._METADATA_TYPES:
                raise ValueError(
                    f"unknown metric type {t!r} for {name!r} "
                    f"(expected one of {sorted(self._METADATA_TYPES)})"
                )
            if entry:
                norm[str(name)] = entry
        if not norm:
            return

        def mutate(man: dict) -> None:
            mm = man.setdefault("metric_metadata", {})
            for name, entry in norm.items():
                mm.setdefault(name, {}).update(entry)

        self._commit(mutate, op="metadata")

    def metric_metadata(self, at_version: int | None = None) -> dict:
        """{metric_name: {type, help, unit}} at the current (or a
        retained historical) snapshot — served by /api/v1/metadata.
        A manifest read; no Spark job."""
        return {
            k: dict(v)
            for k, v in self._load_manifest(at_version)
            .get("metric_metadata", {})
            .items()
        }

    def ingest_scrape(self, text: str, default_ts_ms: int | None = None) -> None:
        """One scrape payload end-to-end: samples through the normal
        write path (one manifest commit), OpenMetrics exemplar
        suffixes (`` # {trace_id="..."} v ts``) into the exemplar
        store, then the payload's ``# HELP``/``# TYPE``/``# UNIT``
        comments into the metadata store (each stage's commit absent
        when the payload carries nothing for it; all idempotent).
        Sample parsing is the JVM column-expression path
        (sources/openmetrics.py); metadata lines are bounded by the
        number of metric NAMES in the payload, so the driver-side
        parse is O(names), not O(samples)."""
        from monolith_spark.sources.openmetrics import (
            parse_metadata_text,
            parse_payload,
        )

        parsed = parse_payload(
            self.spark, text, default_ts_ms=default_ts_ms, with_exemplars=True
        ).persist()
        try:
            self.write(parsed.select("labels", "timestamp", "value"))
            ex = parsed.filter(F.col("exemplar_value").isNotNull()).select(
                "labels",
                F.col("exemplar_ts").alias("timestamp"),
                F.col("exemplar_value").alias("value"),
                "exemplar_labels",
            )
            if ex.limit(1).count() > 0:
                self.write_exemplars(ex)
        finally:
            parsed.unpersist()
        meta = parse_metadata_text(text)
        if meta:
            self.set_metric_metadata(meta)

    def snapshot(self, name: str | None = None, at_version: int | None = None) -> str:
        """Consistent at-rest snapshot — the engine twin of Prometheus's
        ``POST /api/v1/admin/tsdb/snapshot`` (which hardlinks live
        blocks into ``snapshots/<name>``; TSDB docs). The manifest
        design makes this exact and O(files) cheap: resolve ONE
        manifest (current or any retained version), hardlink every
        file it references into ``snapshots/<name>/`` (copy fallback
        across filesystems), and write a single-version manifest next
        to them. The result is a COMPLETE, self-contained MonolithDB
        directory — open it read-only with MonolithDB(spark, path) for
        backup verification or off-box copy — and because the file set
        is pinned by the manifest, a concurrent ingest/compact/delete
        commit cannot tear it. Returns the snapshot name."""
        man = self._load_manifest(at_version)
        if name is None:
            ts = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
            name = f"{ts}-v{man['version']:012d}"
        if "/" in name or name in ("", ".", ".."):
            raise ValueError(f"invalid snapshot name {name!r}")
        dest = os.path.join(self.path, "snapshots", name)
        if os.path.exists(dest):
            raise ValueError(f"snapshot {name!r} already exists")
        staging = dest + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)

        def link(src: str, dst: str) -> None:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)

        try:
            for fn in man["series"]:
                link(
                    os.path.join(self.series_path, fn),
                    os.path.join(staging, "series", fn),
                )
            for cid, files in man["samples"].items():
                for fn in files:
                    link(
                        os.path.join(self.samples_path, f"chunk_id={cid}", fn),
                        os.path.join(staging, "samples", f"chunk_id={cid}", fn),
                    )
            for cid, files in man.get("exemplars", {}).items():
                for fn in files:
                    link(
                        os.path.join(self.exemplars_path, f"chunk_id={cid}", fn),
                        os.path.join(staging, "exemplars", f"chunk_id={cid}", fn),
                    )
            idx = man.get("label_index")
            if idx:
                for b, files in idx["buckets"].items():
                    for fn in files:
                        link(
                            os.path.join(self.index_path, f"kp={b}", fn),
                            os.path.join(staging, "label_index", f"kp={b}", fn),
                        )
            link(
                os.path.join(self.path, "metadata.json"),
                os.path.join(staging, "metadata.json"),
            )
            # a one-version manifest: the snapshot needs no history
            mdir = os.path.join(staging, "_manifest")
            os.makedirs(mdir, exist_ok=True)
            vname = f"v{man['version']:012d}.json"
            with open(os.path.join(mdir, vname), "w") as f:
                json.dump(man, f)
            with open(os.path.join(mdir, "CURRENT"), "w") as f:
                f.write(vname)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(staging, dest)  # visible atomically, like a commit
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return name

    # ------------------------------------------------------------------ write

    def _live_dim_ids(self, live: list[str]) -> list:
        """The series_id array of each live dim file, from the per-file
        cache (loaded on first sight), which is pruned to ``live``; when
        that drops a file, the series-id memo is pruned to the ids still
        live. Concurrent writers may each rebuild the dict and the last
        assignment wins; that can only cost a file's re-read, never a
        wrong answer, since every entry is a function of an immutable
        file."""
        import pyarrow.parquet as pq

        cache = self._dim_ids
        self._dim_ids = fresh = {
            fn: cache[fn]
            if fn in cache
            else pq.read_table(
                os.path.join(self.series_path, fn), columns=["series_id"]
            )["series_id"].to_numpy()
            for fn in live
        }
        if cache.keys() - fresh.keys():
            alive = np.concatenate([np.empty(0, np.int64), *fresh.values()])
            with self._sid_memo_lock:
                memo = self._sid_memo
                keep = np.isin(np.fromiter(memo.values(), np.int64, len(memo)), alive)
                self._sid_memo = {
                    k: sid for (k, sid), ok in zip(memo.items(), keep) if ok
                }
        return list(fresh.values())

    @staticmethod
    def _unknown_ids(ids: np.ndarray, dim_ids: list) -> np.ndarray:
        """The ids in ``ids`` that no live dim file holds (``dim_ids``,
        from _live_dim_ids) — the J5 known-series probe, run on the
        driver, so a batch of known series costs no dim scan or
        anti-join."""
        for known in dim_ids:
            if not ids.size:
                break
            ids = ids[~np.isin(ids, known)]
        return ids

    def _series_frame(self, maps: list[dict[str, str]]) -> DataFrame:
        """[labels, signature, series_id] of label maps held on the
        driver: an Arrow-built LocalRelation under Spark's own signature
        and xxhash64 (the only definition of the id), which collects
        with no Spark job."""
        import pyarrow as pa

        sig = signature_sql_text("`labels`")
        return self.spark.createDataFrame(
            pa.table({"labels": _labels_array(maps)}), _LABELS_SCHEMA
        ).selectExpr("labels", f"{sig} AS signature", f"xxhash64({sig}) AS series_id")

    def _batch_series_ids(self, maps: list[dict[str, str]]) -> tuple[np.ndarray, dict]:
        """Each label map's series_id: from the memo (``_sid_memo``),
        else — for label sets this process has not seen — from one
        collect of _series_frame. Returns the ids and the newly resolved
        {label set: id}, which the caller memoizes once the commit has
        put them in the live dim. The memo's dicts only ever gain entries (a prune
        swaps in a new dict), so lock-free reads are safe."""
        memo = self._sid_memo
        keys = [frozenset(m.items()) for m in maps]
        unseen = {k: m for k, m in zip(keys, maps) if k not in memo}
        resolved = {}
        if unseen:
            rows = self._series_frame(list(unseen.values())).select("series_id").collect()
            resolved = dict(zip(unseen, (r[0] for r in rows)))
        ids = [resolved[k] if k in resolved else memo[k] for k in keys]
        return np.array(ids, dtype=np.int64), resolved

    def _commit_append(
        self,
        op: str,
        facts: dict[str, dict[str, list[str]]],
        new_series: DataFrame | None,
        live: list[str],
    ) -> None:
        """The commit both appends share: dim rows for ``new_series``
        (series_id / signature / labels, None when every series is
        known) that the ``live`` dim lacks — J5 get-or-create's Spark
        left_anti + bloom-filtered dim write — with their postings, then
        those and the staged ``facts`` ({table: {chunk_id: [files]}})
        made visible by ONE manifest commit; none when nothing was
        staged. Content-hash ids keep this idempotent without a critical
        section: two writers racing on one new series both append it,
        and reads drop the duplicate dim row."""
        dim_files: list[str] = []
        if new_series is not None:
            new_series = new_series.select(
                "series_id", "signature", "labels"
            ).dropDuplicates(["series_id"])
            if live:
                # Same size gate as the query path: force-broadcasting
                # a high-cardinality dim on every micro-batch would be
                # the write path's scaling cliff.
                new_series = new_series.join(
                    self._dim_hint(self._dim_scan(live).select("series_id")),
                    "series_id",
                    "left_anti",
                )
            dim_files = self._stage_and_move(
                new_series.sortWithinPartitions("series_id"),
                self.series_path,
                options=self._DIM_WRITE_OPTS,
            )
        # Incremental posting maintenance (the reference's indexer
        # updates postings at insert time, sled_indexer.rs
        # get-or-create): if a FRESH label index exists, stage postings
        # for the batch's new series so the index stays fresh across
        # ingests instead of going stale on the first write after
        # build. If freshness broke meanwhile, the staged files are
        # simply never referenced (vacuum food).
        post_files: dict[str, list[str]] = {}
        post_stats: dict = {}
        if dim_files:
            cur = self._read_current()
            idx0 = (cur or {}).get("label_index")
            if idx0 and idx0["series"] == cur["series"]:
                post_files = self._stage_and_move(
                    self._postings_of(new_series, idx0["n_buckets"]),
                    self.index_path,
                    partition_by="kp",
                    options=self._INDEX_WRITE_OPTS,
                )
                post_stats = self._posting_stats_from_moved(post_files)
        if not (dim_files or any(facts.values())):
            return

        def add(man: dict) -> None:
            # Index freshness decided on the LOCKED manifest, before our
            # dim files merge in: only a still-fresh index may absorb
            # the incremental postings — otherwise it stays (or goes)
            # stale and readers fall back until the next
            # build_label_index.
            idx = man.get("label_index")
            extend_idx = post_files and idx and idx["series"] == man["series"]
            man["series"] = sorted(set(man["series"]) | set(dim_files))
            for table, fact_files in facts.items():
                chunks = man.setdefault(table, {})
                for cid, files in fact_files.items():
                    chunks[cid] = sorted(set(chunks.get(cid, [])) | set(files))
            if extend_idx:
                for b, files in post_files.items():
                    idx["buckets"][b] = sorted(
                        set(idx["buckets"].get(b, [])) | set(files)
                    )
                # merge planner stats: counts add exactly; NDV of a
                # union is unknowable from parts, so keep the max — an
                # UNDER-estimate of true NDV biases the per-value
                # estimate upward, i.e. conservatively (skips a probe,
                # never serves a wrong plan).
                ks = idx.setdefault("key_stats", {})
                for k, (n, ndv) in post_stats.items():
                    if k in ks:
                        ks[k] = [ks[k][0] + n, max(ks[k][1], ndv)]
                    else:
                        ks[k] = [n, ndv]
                idx["series"] = man["series"]
            elif idx is not None and idx["series"] != man["series"]:
                # An index left stale (raced commit / legacy state)
                # would ride every future manifest, pinning dead posting
                # files forever — drop the entry; build_label_index
                # recreates it.
                del man["label_index"]

        self._commit(add, op=op)

    def _append(
        self,
        df: DataFrame,
        table: str,
        point_cols: list[str],
        op: str,
        window: tuple[int, int] | None = None,
        return_count: bool = False,
    ) -> int | None:
        """The Spark append of a DataFrame, behind write() and
        write_exemplars(): the F1 filter and the signature / series_id /
        chunk_id projection, persisted → a distinct of the batch's ids
        checked against the live dim (_unknown_ids) → series_id and the
        input's ``point_cols`` written by a ``repartition("chunk_id")``
        Spark write into ``table``'s ``chunk_id=N`` partitions →
        _commit_append. Any DataFrame takes this path, whatever its
        plan: it need not fit on the driver. A batch already on the
        driver comes as an IngestBatch instead (_append_batch)."""
        # SQL text, like signature_expr's: one py4j round trip per
        # select where Column-by-Column construction costs dozens
        sig = signature_sql_text("`labels`")
        df = valid_points(df, window=window).selectExpr(
            "labels",
            *point_cols,
            f"{sig} AS signature",
            f"xxhash64({sig}) AS series_id",
            f"CAST(FLOOR(timestamp / {self.chunk_size_ms}) AS BIGINT) AS chunk_id",
        )
        df.persist()
        try:
            n_written = df.count() if return_count else None
            live = self._load_manifest()["series"]
            new_series = df
            if live:
                ids = np.array(
                    [r[0] for r in df.select("series_id").distinct().collect()],
                    dtype=np.int64,
                )
                if not self._unknown_ids(ids, self._live_dim_ids(live)).size:
                    new_series = None
            # Time-sorted within partitions → Parquet row-group min/max
            # stats implement F3's binary search.
            facts = self._stage_and_move(
                df.selectExpr("series_id", *point_cols, "chunk_id")
                .repartition("chunk_id")
                .sortWithinPartitions("series_id", "timestamp"),
                os.path.join(self.path, table),
                partition_by="chunk_id",
            )
            self._commit_append(op, {table: facts}, new_series, live)
        finally:
            df.unpersist()
        return n_written

    def _append_batch(
        self,
        batch: IngestBatch,
        tables: tuple[str, ...],
        op: str,
        window: tuple[int, int] | None = None,
    ) -> dict[str, int]:
        """The in-process append of an IngestBatch's ``tables``
        ("samples", "exemplars"), as the reference appends a request:
        the F1 filter and chunk_id in numpy, series ids from the memo
        (_batch_series_ids: a label set this process has not seen costs
        one jobless collect), the ids checked against the live dim
        (_unknown_ids), each table's rows for a chunk written to one
        Parquet file by pyarrow (_write_local_facts) → _commit_append:
        every table in ONE manifest commit. Only a batch with a new
        series runs Spark jobs (its dim write); a steady-state batch
        makes no py4j call. Returns the points ingested per table."""
        import pyarrow as pa

        points = {t: getattr(batch, t) for t in tables}
        keep = {t: pts.valid(window) for t, pts in points.items()}
        used = np.unique(np.concatenate(
            [np.empty(0, np.int64)] + [pts.owner[keep[t]] for t, pts in points.items()]
        ))
        counts = {t: int(keep[t].sum()) for t in tables}
        if not used.size:
            return counts
        live = self._load_manifest()["series"]
        dim_ids = self._live_dim_ids(live)  # prunes the memo first
        sids = np.zeros(len(batch.labels), dtype=np.int64)
        sids[used], resolved = self._batch_series_ids([batch.labels[i] for i in used])
        unknown = self._unknown_ids(np.unique(sids[used]), dim_ids)
        new_series = None
        if unknown.size:
            new = used[np.isin(sids[used], unknown)]
            new_series = self._series_frame([batch.labels[i] for i in new])
        facts = {}
        for t, pts in points.items():
            k = keep[t]
            ts = pts.timestamp[k]
            if not ts.size:
                continue
            cols = {
                "series_id": pa.array(sids[pts.owner[k]]),
                "timestamp": pa.array(ts),
                "value": pa.array(pts.value[k]),
            }
            if pts.labels is not None:
                cols["exemplar_labels"] = _labels_array(pts.labels).filter(pa.array(k))
            # Spark's FLOOR(timestamp / chunk_size_ms): double division
            chunk = np.floor(ts / self.chunk_size_ms).astype(np.int64)
            facts[t] = self._write_local_facts(
                pa.table(cols), chunk, os.path.join(self.path, t)
            )
        self._commit_append(op, facts, new_series, live)
        if resolved:  # every resolved series is now in the live dim
            with self._sid_memo_lock:
                self._sid_memo.update(resolved)
        return counts

    def _write_local_facts(
        self, table, chunk: np.ndarray, table_path: str
    ) -> dict[str, list[str]]:
        """The driver-side fact write of a pyarrow ``table`` whose rows
        fall in chunks ``chunk``: one Parquet file per chunk, rows
        sorted by (series_id, timestamp) as the Spark write sorts them,
        chunk_id left to the directory name. Each file is written under
        ``_staged/``, fsync'd and renamed into ``chunk_id=N/``; like
        _stage_and_move, it is live only once a commit lists it.
        Returns {chunk_id: [basename]}."""
        import pyarrow.parquet as pq

        order = np.lexsort((
            table["timestamp"].to_numpy(),
            table["series_id"].to_numpy(),
            chunk,
        ))
        table = table.take(order)
        chunk = chunk[order]
        cids, starts = np.unique(chunk, return_index=True)
        staging = os.path.join(self.path, "_staged", uuid.uuid4().hex)
        os.makedirs(staging)
        moved: dict[str, list[str]] = {}
        try:
            for cid, lo, hi in zip(cids, starts, [*starts[1:], len(chunk)]):
                fn = f"part-{uuid.uuid4().hex}.parquet"
                tmp = os.path.join(staging, fn)
                with open(tmp, "wb") as f:
                    pq.write_table(table.slice(lo, hi - lo), f)
                    f.flush()
                    os.fsync(f.fileno())
                dst_dir = os.path.join(table_path, f"chunk_id={cid}")
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(tmp, os.path.join(dst_dir, fn))
                _fsync_dir(dst_dir)
                moved[str(cid)] = [fn]
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return moved

    def write(
        self,
        df: DataFrame | IngestBatch,
        window: tuple[int, int] | None = None,
        return_count: bool = False,
    ) -> int | None:
        """Ingest a batch of [labels, timestamp, value] rows.

        The reference's write path (src/db.rs:176-194 →
        src/chunk/chunk.rs:110-137): range/zero filter (F1) → get-or-create series
        (J5) → append points (S5). Here: filter → get-or-create → fact
        append, all set-at-a-time, made visible by ONE manifest commit —
        dim and fact rows of a batch appear atomically, and an
        all-invalid batch (e.g. every ts==0; the reference errors
        per-point, we drop set-at-a-time) moves zero files and commits
        nothing.

        The input picks the path, with no option. An IngestBatch — a
        decoded request, already on the driver — is appended in process
        like the reference's (_append_batch): no DataFrame is built;
        series ids come from a memo of Spark's own signature + xxhash64,
        bounded to the live dim's series and pruned with it, and each
        chunk's rows are written by pyarrow, so a batch whose series are
        all known makes ZERO py4j calls. Its exemplars, if any, land in
        the same commit as its samples. Any DataFrame takes the Spark
        write (_append), the only one that handles data the driver does
        not hold: persist, a distinct for the series ids, and a
        ``repartition("chunk_id")`` fact write. On both paths known
        series cost no dim job: the ids are checked on the driver
        against the live dim files' ids, cached per file name, which is
        safe because dim files are immutable (a dim rewrite —
        delete_series — commits new names, and entries for files no
        longer live are dropped). Only a batch with some new series
        runs the dim anti-join and appends a dim file.

        With ``return_count=True``, returns how many sample rows
        survived the validity filter and were actually ingested (the
        remote-write 2.0 ``-Samples-Written`` header must report the
        receiver's truth, not the request's claim): counted in numpy for
        a batch, by one extra count job against the persisted frame for
        a DataFrame — opt-in, to keep bulk ingest at its usual job
        count.
        """
        if isinstance(df, IngestBatch):
            tables = ("samples",) if df.exemplars is None else ("samples", "exemplars")
            n = self._append_batch(df, tables, "write", window=window)["samples"]
            return n if return_count else None
        return self._append(
            df, "samples", ["timestamp", "value"], "write",
            window=window, return_count=return_count,
        )

    # -------------------------------------------------------------- exemplars

    def write_exemplars(
        self, df: DataFrame | IngestBatch, return_count: bool = False
    ) -> int | None:
        """Ingest exemplars — [labels (series labels), timestamp,
        value, exemplar_labels] rows, the trace-id'd sample references
        remote-write 1.0/2.0 carry alongside samples — or an
        IngestBatch's exemplars alone (write() ingests them with its
        samples). The same append as write(), paths included: ts!=0
        filter → dim get-or-create (exemplars may reference series never
        written as samples; content-hash ids keep it idempotent) → fact
        append into ``exemplars/chunk_id=N`` partitions (the SAME chunk
        grid as samples, so query pruning is one predicate) — visible
        through ONE manifest commit. A batch that creates series extends
        a fresh label index with their postings, like write()."""
        if isinstance(df, IngestBatch):
            n = 0
            if df.exemplars is not None:
                n = self._append_batch(df, ("exemplars",), "write-exemplars")["exemplars"]
            return n if return_count else None
        return self._append(
            df, "exemplars",
            ["timestamp", "value", "exemplar_labels"],
            "write-exemplars", return_count=return_count,
        )

    def exemplars(self, at_version: int | None = None) -> DataFrame:
        """The exemplars fact table at a snapshot — explicit file-list
        read with basePath, exactly like samples()."""
        man = self._load_manifest(at_version)
        paths = [
            os.path.join(self.exemplars_path, f"chunk_id={cid}", fn)
            for cid, files in man.get("exemplars", {}).items()
            for fn in files
        ]
        if not paths:
            return self.spark.createDataFrame(
                [],
                "series_id long, timestamp long, value double, "
                "exemplar_labels map<string,string>, chunk_id long",
            )
        return self.spark.read.option("basePath", self.exemplars_path).parquet(
            *paths
        )

    def query_exemplars(
        self, matchers, start_ms: int, end_ms: int, at_version: int | None = None
    ) -> DataFrame:
        """Matching exemplars as flat rows [series_id, signature,
        labels, exemplar_labels, timestamp, value] — the engine behind
        GET /api/v1/query_exemplars. Same plan family as query_flat:
        chunk-pruned exemplar scan ⋈ size-gated broadcast of the
        matched dim."""
        sel = self._matched_series(matchers, at_version)
        ex = time_trim(
            self.exemplars(at_version).filter(
                chunk_pred(start_ms, end_ms, self.chunk_size_ms)
            ),
            start_ms,
            end_ms,
        )
        return ex.join(self._dim_hint(sel), "series_id").select(
            "series_id", "signature", "labels", "exemplar_labels",
            "timestamp", "value",
        )

    # ------------------------------------------------------------------- read

    def _series_raw(self, at_version: int | None = None) -> DataFrame | None:
        # Plan-time snapshot: the file list is pinned from the current
        # (or a historical) manifest, so a concurrent delete/compact
        # commit can't change what this DataFrame reads.
        files = self._load_manifest(at_version)["series"]
        return self._dim_scan(files) if files else None

    def _dim_scan(self, files: list[str]) -> DataFrame:
        return self.spark.read.parquet(
            *[os.path.join(self.series_path, f) for f in files]
        )

    def series(self, at_version: int | None = None) -> DataFrame:
        """The series dimension; duplicate dim rows from concurrent
        writers collapse here (last-write-wins is irrelevant: rows with
        equal series_id are identical by construction). Empty before
        the first write — queries on an empty db return empty results,
        like the reference's fresh chunk. ``at_version`` time-travels
        to any retained snapshot (see history())."""
        raw = self._series_raw(at_version)
        if raw is None:
            return self.spark.createDataFrame(
                [], "series_id long, signature string, labels map<string,string>"
            )
        return raw.dropDuplicates(["series_id"])

    def _recover_compaction(self) -> None:
        """LEGACY-MIGRATION ONLY (called once from _migrate_legacy,
        under the commit lock): pre-manifest engines used a staged-
        rename protocol whose crash could leave the live partition (or
        the dim) parked as ``_compact/*.old`` — restore it before the
        directory listing becomes manifest v1. Post-migration, no code
        path stages renames, so this never runs again; the old pid-lock
        reader/writer heuristics (and their pid-recycling residual) are
        gone with the protocol that needed them."""
        staging = os.path.join(self.path, "_compact")
        if not os.path.isdir(staging):
            return
        for name in os.listdir(staging):
            if not name.endswith(".old"):
                continue
            if name == "series.old":
                # crashed legacy delete: the live dim is the staged
                # .old — restore it; never treat it as a chunk (that
                # would rename dim rows into samples/"chunk_id=" and
                # lose the series table).
                if not os.path.isdir(self.series_path):
                    src = os.path.join(staging, name)
                    try:
                        os.rename(src, self.series_path)
                    except OSError:
                        # Benign only if another migrator won the race;
                        # a still-staged source means the rename REALLY
                        # failed (EACCES/EXDEV...) and swallowing it
                        # would lose the series table silently.
                        if os.path.exists(src) and not os.path.isdir(
                            self.series_path
                        ):
                            raise
                continue
            if not name.startswith("chunk_"):
                continue
            chunk = name[len("chunk_"):-len(".old")]
            part = os.path.join(self.samples_path, f"chunk_id={chunk}")
            if not os.path.isdir(part):
                src = os.path.join(staging, name)
                try:
                    os.rename(src, part)
                except OSError:
                    if os.path.exists(src) and not os.path.isdir(part):
                        raise

    def samples(self, at_version: int | None = None) -> DataFrame:
        """The samples fact table at the current — or, with
        ``at_version``, any retained historical — snapshot: an explicit
        file-list read (with basePath, so chunk_id stays a partition
        column and PartitionFilters prune exactly as with directory
        discovery) — the plan is pinned to the manifest resolved here."""
        man = self._load_manifest(at_version)
        paths = [
            os.path.join(self.samples_path, f"chunk_id={cid}", fn)
            for cid, files in man["samples"].items()
            for fn in files
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "series_id long, timestamp long, value double, chunk_id long"
            )
        return self.spark.read.option("basePath", self.samples_path).parquet(
            *paths
        )

    def _query_samples(
        self, start_ms: int, end_ms: int, at_version: int | None = None
    ) -> DataFrame:
        return time_trim(
            self.samples(at_version).filter(
                chunk_pred(start_ms, end_ms, self.chunk_size_ms)
            ),
            start_ms,
            end_ms,
        )

    def _matched_series(self, matchers, at_version: int | None = None) -> DataFrame:
        """Resolve matchers to dim rows. EQ and literal-set-regex
        matchers probe the at-rest inverted label index when a FRESH
        one exists (build_label_index) — the reference's J1-J3 posting
        lookup as at-rest Parquet
        (/root/reference/src/common/utils.rs:56-128): the smallest
        posting list under the selectivity bound drives an IN-pushdown
        dim read, re-verified by the full predicate. Broad matches and
        index-less engines use the Catalyst ANDed dim scan (the
        always-correct fallback, and the cheapest plan when the match
        isn't selective)."""
        series = self.series(at_version)
        if isinstance(matchers, dict):
            # Superset semantics: every entry requires label PRESENT and
            # equal (even ""), so all entries are posting-probeable.
            served = {k: {v} for k, v in matchers.items()}
            pred = superset_predicate("labels", matchers)
        else:
            ms = list(matchers)
            served = {}

            def serve(key: str, values: set[str]) -> None:
                # two probeable matchers on one key intersect their sets
                # (job="a" & job=~"a|b" → {"a"}); empty → matches nothing.
                served[key] = served[key] & values if key in served else values

            for m in ms:
                # EQ "" matches ABSENT labels too (Prometheus semantics),
                # and so does a regex whose literal set contains "" —
                # postings only hold present entries, so those can't
                # drive the probe (the full predicate still applies them).
                if m.type == EQ and m.value != "":
                    serve(m.name, {m.value})
                elif m.type == RE:
                    lits = regex_literal_set(m.value)
                    if lits is not None and "" not in lits:
                        serve(m.name, lits)
            pred = matcher_predicate("labels", ms)
        if served and self.use_label_index:
            if any(not vs for vs in served.values()):
                return series.filter(F.lit(False))  # contradictory matchers
            cand = self._posting_candidates(
                self._load_manifest(at_version), sorted(served.items())
            )
            if cand is not None:
                if not cand:
                    return series.filter(F.lit(False))
                # candidates come from ONE posting list; the full
                # predicate re-verifies every matcher on the pruned rows
                return series.filter(
                    F.col("series_id").isin(cand)
                ).filter(pred)
            # broad match (every posting list overflows the bound):
            # one predicate dim scan IS the floor — a posting join
            # would scan the dim anyway plus a shuffle (100x probe:
            # 2.6x slower for a 177k-id match).
        return series.filter(pred)

    # A match is "selective" while its smallest posting list fits this
    # many ids; past it the index stops being cheaper than one dim scan
    # (the semi-join-reduction bound). Sized by measurement twice: the
    # 100x probe killed the hydration JOIN, and an 8192 bound let a
    # ~5k-term IN through whose per-query PLANNING cost (Catalyst
    # analysis + pushdown of thousands of literals) exceeded the scan
    # it saved — 1024 keeps the IN list in the always-wins regime.
    HYDRATE_IN_LIMIT = 1024
    # Probe a key only while its estimated per-value postings (n/ndv
    # from the manifest's key_stats) stay within this multiple of the
    # limit — slack for value skew; past it the probe would almost
    # surely overflow, so skip the job.
    PROBE_EST_FACTOR = 4

    def _posting_candidates(self, man: dict, pairs) -> list[int] | None:
        """Candidate series_ids from the most selective posting list,
        or None (no fresh index, or nothing selective). Each (key,
        values) list is probed with an early-terminated ``limit`` scan
        of its own pruned bucket — NO shuffle, no aggregation, so a
        broad query discovers it is broad after reading ~LIMIT posting
        rows. The first list under the bound drives the match
        (smallest-postings-first, the reference's sorted-intersection
        heuristic); the caller re-verifies all matchers on the
        candidate rows. An empty list is definitive: some required
        label pair has no postings, so nothing matches."""
        idx = man.get("label_index")
        if not idx or idx["series"] != man["series"]:
            return None
        reqs = [(k, {v} if isinstance(v, str) else set(v)) for k, v in pairs]
        stats = idx.get("key_stats")
        if stats is not None:
            # statistics-driven planning: a key with NO postings proves
            # the match empty; otherwise estimate per-value postings as
            # n/ndv per key, probe only keys whose estimate fits (a
            # broad query takes the dim scan with ZERO probe jobs), and
            # probe the rarest first. Value skew can make an estimate
            # optimistic — the limit on the probe still catches that
            # and falls back, so the plan is never wrong, only the
            # number of probes varies.
            for k, _ in reqs:
                if k not in stats:
                    return []
            bound = self.PROBE_EST_FACTOR * self.HYDRATE_IN_LIMIT
            reqs = sorted(
                (
                    kv
                    for kv in reqs
                    if stats[kv[0]][0] / max(stats[kv[0]][1], 1) <= bound
                ),
                key=lambda kv: stats[kv[0]][0] / max(stats[kv[0]][1], 1),
            )
        for k, vs in reqs:
            df = self._index_df(man, keys=[k])
            if not df.columns:
                return []  # bucket holds no postings → pair matches nothing
            rows = (
                df.filter((F.col("k") == F.lit(k)) & F.col("v").isin(sorted(vs)))
                .select("series_id")
                .limit(self.HYDRATE_IN_LIMIT + 1)
                .collect()
            )
            if len(rows) <= self.HYDRATE_IN_LIMIT:
                return sorted({r["series_id"] for r in rows})
        return None

    # --------------------------------------------- inverted label index

    N_INDEX_BUCKETS = 64
    _INDEX_WRITE_OPTS = {
        "parquet.bloom.filter.enabled#k": "true",
        "parquet.bloom.filter.enabled#v": "true",
        "parquet.bloom.filter.adaptive.enabled": "true",
    }

    @staticmethod
    def _postings_of(series_df: DataFrame, n_buckets: int) -> DataFrame:
        """dim rows → posting rows [series_id, k, v, kp], bucketed by
        crc32 of the label key and (k, v)-sorted for row-group stats."""
        return (
            series_df.select("series_id", F.explode("labels").alias("k", "v"))
            .withColumn(
                "kp",
                (F.crc32(F.encode(F.col("k"), "UTF-8")) % F.lit(n_buckets)).cast("int"),
            )
            .repartition("kp")
            .sortWithinPartitions("k", "v")
        )

    def build_label_index(self, n_buckets: int = N_INDEX_BUCKETS) -> dict:
        """Materialize the at-rest inverted label index: the dim's
        labels map exploded to postings [k, v, series_id], partitioned
        by ``kp = crc32(k) % n_buckets`` and sorted (k, v) within
        partitions, with Parquet bloom filters on both columns.

        Why hash buckets instead of ``k=<key>`` partitions: a 100 TB
        corpus can carry tens of thousands of distinct label keys —
        one directory per key is a small-file explosion, while a fixed
        bucket count keeps file count bounded and still prunes: a
        lookup reads only its key's bucket (1/n_buckets of the index),
        then row-group (k, v) min/max + blooms skip within it.

        The index is a DERIVED table committed into the manifest with
        the exact series file list it was built from; any later dim
        mutation makes ``idx["series"] != man["series"]`` and readers
        fall back to the dim scan until the next build — stale postings
        are never served. Rebuild after ingest/compaction/deletes (the
        operational cadence: build after each compaction pass).
        """
        man = self._load_manifest()
        if not man["series"]:
            return man
        src = self._dim_scan(man["series"]).dropDuplicates(["series_id"])
        postings = self._postings_of(src, n_buckets)
        moved = self._stage_and_move(
            postings,
            self.index_path,
            partition_by="kp",
            options=self._INDEX_WRITE_OPTS,
        )
        stats = self._posting_stats_from_moved(moved)

        def set_index(m: dict) -> None:
            m["label_index"] = {
                "series": man["series"],
                "n_buckets": n_buckets,
                "buckets": moved,
                "key_stats": stats,
            }

        return self._commit(set_index, op="index")

    @staticmethod
    def _posting_stats(postings: DataFrame) -> dict:
        """Per-key [n_postings, n_distinct_values] — the planner's
        selectivity statistics. Bounded driver state: one row per
        label KEY (tens to thousands), never per value."""
        return {
            r["k"]: [r["n"], r["ndv"]]
            for r in postings.groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("v").alias("ndv"),
            )
            .collect()
        }

    def _posting_stats_from_moved(self, moved: dict[str, list[str]]) -> dict:
        """_posting_stats computed from the just-written index files
        instead of re-evaluating the postings lineage: the explode +
        bucket repartition shuffle already ran once to produce the
        files, so the stats pass is a column-pruned (k, v) read of the
        committed bytes — no second shuffle at any scale."""
        paths = [
            os.path.join(self.index_path, f"kp={b}", fn)
            for b, files in moved.items()
            for fn in files
        ]
        if not paths:
            return {}
        return self._posting_stats(self.spark.read.parquet(*paths))

    def _index_df(self, man: dict, keys: list[str] | None = None) -> DataFrame | None:
        """The fresh index as a DataFrame [series_id, k, v, kp] — pruned
        to the buckets ``keys`` hash to when given, all buckets when
        None. Returns None when no fresh index exists, and an EMPTY
        zero-column DataFrame (sentinel) when the pruned bucket set has
        no files (no series carries any of the keys)."""
        import zlib

        idx = man.get("label_index")
        if not idx or idx["series"] != man["series"]:
            return None
        nb = idx["n_buckets"]
        if keys is None:
            need = sorted(int(b) for b in idx["buckets"])
        else:
            need = sorted({zlib.crc32(k.encode("utf-8")) % nb for k in keys})
        files = [
            os.path.join(self.index_path, f"kp={b}", fn)
            for b in need
            for fn in idx["buckets"].get(str(b), [])
        ]
        if not files:
            return self.spark.range(0).drop("id")  # zero-column sentinel
        return self.spark.read.option("basePath", self.index_path).parquet(*files)

    def _index_fresh(self, man: dict) -> bool:
        """True when the snapshot carries a label index built from
        exactly its current series file list — the serving condition."""
        idx = man.get("label_index")
        return bool(idx) and idx["series"] == man["series"]

    def _dim_hint(self, sel: DataFrame) -> DataFrame:
        """Broadcast hint for the matched dim, gated on the dim's
        on-disk size (an O(#files) driver-side stat, no job): a
        Parquet dim under the bound decompresses well within executor
        memory; past it the hint would force shipping a
        high-cardinality dim everywhere, so AQE decides instead."""
        live = self._load_manifest()["series"]
        if not live:
            return F.broadcast(sel)  # empty dim
        total = 0
        for fn in live:
            try:
                total += os.path.getsize(os.path.join(self.series_path, fn))
            except OSError:
                continue
        return (
            F.broadcast(sel)
            if total * self.DIM_DECOMPRESS_FACTOR < self.dim_broadcast_bytes
            else sel
        )

    def query_flat(
        self, matchers, start_ms: int, end_ms: int, at_version: int | None = None
    ) -> DataFrame:
        """Matching samples as flat rows [series_id, signature, labels,
        timestamp, value] — the pre-assembly dataflow of Chunk::query
        (/root/reference/src/chunk/chunk.rs:139-162).

        ``matchers``: dict (EQ superset semantics, J4) or a list of
        LabelMatcher for the full EQ/NEQ/RE/NRE surface. ``at_version``
        time-travels the WHOLE query (dim and facts from one snapshot).
        """
        sel = self._matched_series(matchers, at_version)
        return self._query_samples(start_ms, end_ms, at_version).join(
            self._dim_hint(sel), "series_id"
        )  # J6 metadata hydration; broadcast while the dim is small

    def query(
        self,
        matchers,
        start_ms: int,
        end_ms: int,
        salted: bool | str = False,
        at_version: int | None = None,
    ) -> DataFrame:
        """Remote-read evaluation: [series_id, signature, labels, points]
        with points time-ascending (/root/reference/src/db.rs:202-267).
        Series order is unspecified in the reference; sort by signature
        for determinism.

        ``salted``: False → single-stage collect (cheapest when no
        series is hot); True → two-stage salted assembly
        (to_timeseries_salted); "auto" → pay one small sampled job to
        detect a hot series first. AQE splits skewed JOIN partitions
        but not a skewed aggregation key, so a ≥10%-of-points series
        needs the salted path to avoid a single straggler reducer.
        """
        flat = self.query_flat(matchers, start_ms, end_ms, at_version)
        use_salt = bool(salted)
        if salted == "auto":
            use_salt = detect_skewed_key(flat, key_cols=["series_id"])
        assemble = to_timeseries_salted if use_salt else to_timeseries
        return assemble(flat, key_cols=["series_id", "signature"]).orderBy("signature")

    def query_exact(self, full_labels: dict[str, str], start_ms: int, end_ms: int) -> DataFrame:
        """J5 exact-signature point lookup
        (/root/reference/src/indexer/sled_indexer.rs:98-107).

        Filters the dim's STORED signature column (== signature_expr
        of its labels by construction in write()) rather than
        recomputing the expression per row: a plain column equality
        reaches the Parquet reader, so row-group min/max stats and the
        signature bloom filter (_DIM_WRITE_OPTS) skip dim row groups —
        the sled point-get, at rest."""
        from monolith_spark.labels import python_signature

        sel = self.series().filter(
            F.col("signature") == F.lit(python_signature(full_labels))
        )
        flat = self._query_samples(start_ms, end_ms).join(self._dim_hint(sel), "series_id")
        return to_timeseries(flat, key_cols=["series_id", "signature"])

    # ----------------------------------------------------------- maintenance

    def compact_chunk(
        self,
        chunk_id: int,
        target_bytes: int = 128 * 1024 * 1024,
        layout: str = "series",
    ) -> bool:
        """Rewrite one sealed chunk partition: merge the small files
        micro-batch appends accumulate into ~target_bytes files sorted
        by (series_id, timestamp) (``layout="series"``) or clustered
        along the Morton curve over (series_id, timestamp)
        (``layout="zorder"``, plans/zorder.py) so file/row-group
        min/max stats prune in BOTH dimensions.

        The reference's unchecked TODO "Compression on swap chunk"
        (/root/reference/README.md:60; dormant Gorilla codec, SURVEY
        §4.4) realized the Spark way — a Parquet rewrite. Sorting
        restores row-group min/max locality (F3's binary-search analog)
        that interleaved appends erode, and the file-count cap is the
        real 100 TB concern: a streaming ingest appending every 30 s
        creates ~3k files/day/chunk without this.

        Not safe concurrently with writers to the SAME chunk — run on
        sealed chunks only (the reference compacts on swap for the same
        reason). The swap is a manifest commit: readers that planned
        before it keep reading the old files (snapshot isolation — the
        Spark-native form of the reference's swap lock,
        /root/reference/src/db.rs:269-318); a crash at any point leaves
        the previous snapshot intact. Old files stay on disk until
        ``vacuum`` — the physical small-file cleanup lands then.
        Returns False if the chunk has no live files.
        """
        key = str(chunk_id)
        man = self._load_manifest()
        live = man["samples"].get(key)
        if not live:
            return False
        part = os.path.join(self.samples_path, f"chunk_id={chunk_id}")
        paths = [os.path.join(part, fn) for fn in live]
        in_bytes = sum(os.path.getsize(p) for p in paths)
        n_files = max(1, -(-in_bytes // target_bytes))
        src = self.spark.read.parquet(*paths)
        if layout == "zorder":
            from monolith_spark.plans.zorder import cluster_zorder

            laid_out = cluster_zorder(src, int(n_files))
        elif layout == "series":
            laid_out = src.repartition(n_files, "series_id").sortWithinPartitions(
                "series_id", "timestamp"
            )
        else:
            raise ValueError(f"unknown compaction layout: {layout!r}")
        new_files = self._stage_and_move(laid_out, part)

        def swap(m: dict) -> None:
            m["samples"][key] = new_files

        self._commit(swap, op="compact")
        return True

    def compact_exemplar_chunk(
        self, chunk_id: int, target_bytes: int = 128 * 1024 * 1024
    ) -> bool:
        """compact_chunk's exemplar twin: a streaming scrape with
        exemplars appends one small file per micro-batch per exemplar
        chunk, exactly the accumulation the sample path compacts away
        — without this the exemplar store is the one table whose file
        count grows unboundedly. Same manifest-swap shape; old files
        reclaimed by vacuum."""
        key = str(chunk_id)
        man = self._load_manifest()
        live = man.get("exemplars", {}).get(key)
        if not live:
            return False
        part = os.path.join(self.exemplars_path, f"chunk_id={chunk_id}")
        paths = [os.path.join(part, fn) for fn in live]
        in_bytes = sum(os.path.getsize(p) for p in paths)
        n_files = max(1, -(-in_bytes // target_bytes))
        laid_out = (
            self.spark.read.parquet(*paths)
            .repartition(n_files, "series_id")
            .sortWithinPartitions("series_id", "timestamp")
        )
        new_files = self._stage_and_move(laid_out, part)

        def swap(m: dict) -> None:
            m.setdefault("exemplars", {})[key] = new_files

        self._commit(swap, op="compact-exemplars")
        return True

    def compact(
        self,
        exclude_chunk_ids: set[int] | None = None,
        layout: str = "series",
        rebuild_index: bool = True,
    ) -> int:
        """Compact every chunk partition (optionally excluding e.g. the
        chunk currently receiving appends). Returns chunks rewritten.

        Also compacts the inverted label index when one exists:
        incremental maintenance appends one posting file per ingest
        batch per touched bucket, so a long-running stream accumulates
        small files — the rebuild collapses every bucket back to one
        file (and re-freshens a stale index, e.g. after a legacy
        layout migration). ``rebuild_index=False`` skips it."""
        exclude = exclude_chunk_ids or set()
        done = 0
        man0 = self._load_manifest()
        for key in sorted(man0["samples"], key=int):
            cid = int(key)
            if cid in exclude:
                continue
            done += int(self.compact_chunk(cid, layout=layout))
        for key in sorted(man0.get("exemplars", {}), key=int):
            cid = int(key)
            if cid in exclude:
                continue
            done += int(self.compact_exemplar_chunk(cid))
        idx = self._load_manifest().get("label_index")
        if rebuild_index and idx is not None:
            self.build_label_index(idx["n_buckets"])
        return done

    def label_values(self, key: str) -> DataFrame:
        """Distinct values of one label key (Prometheus label_values API
        analog; the reference exposes this only as the LR index keyspace,
        /root/reference/src/indexer/sled_indexer.rs:23-25).

        With a fresh inverted index this is ONE bucket's columnar
        ``v`` stripe (dictionary-encoded, k-pruned) instead of a full
        dim scan decoding every labels map — the Grafana autocomplete
        hot path at 100M series. Falls back to the dim scan otherwise."""
        idx = (
            self._index_df(self._load_manifest(), keys=[key])
            if self.use_label_index
            else None
        )
        if idx is not None:
            if not idx.columns:
                return self.spark.createDataFrame([], "value string")
            return (
                idx.filter(F.col("k") == F.lit(key))
                .select(F.col("v").alias("value"))
                .distinct()
            )
        return (
            self.series()
            .select(F.try_element_at("labels", F.lit(key)).alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
        )

    def label_names(self) -> DataFrame:
        """Distinct label keys across all series (Prometheus labels API
        analog) — an explode over the megabyte-scale dim, never the
        fact table; with a fresh index, a distinct over the index's
        dictionary-encoded ``k`` column (no map decode at all)."""
        idx = self._index_df(self._load_manifest()) if self.use_label_index else None
        if idx is not None:
            if not idx.columns:
                return self.spark.createDataFrame([], "name string")
            return idx.select(F.col("k").alias("name")).distinct()
        return (
            self.series()
            .select(F.explode(F.map_keys("labels")).alias("name"))
            .distinct()
        )

    def _expired_chunks(self, cutoff_ms: int) -> list[str]:
        """Manifest keys of chunks whose range ends before cutoff_ms."""
        return sorted(
            (
                key
                for key in self._load_manifest()["samples"]
                if (int(key) + 1) * self.chunk_size_ms - 1 < cutoff_ms
            ),
            key=int,
        )

    def drop_chunks_before(self, cutoff_ms: int) -> int:
        """Retention: drop whole chunks whose time range ends before
        cutoff_ms — one manifest commit, no rewrite, no scan of
        surviving data (the operational piece the reference's
        sealed-chunk list implies but never implements; chunks
        accumulate forever in /root/reference/src/db.rs:22-32).
        Physical files are reclaimed by ``vacuum``. Returns the number
        of distinct chunk time-buckets dropped — a bucket counts once
        whether samples, exemplars, or both expired in it, and a
        commit that only expired exemplar chunks reports their count
        rather than a misleading 0.
        """
        expired = self._expired_chunks(cutoff_ms)
        man = self._load_manifest()
        expired_ex = [
            key
            for key in man.get("exemplars", {})
            if (int(key) + 1) * self.chunk_size_ms - 1 < cutoff_ms
        ]
        if not expired and not expired_ex:
            return 0

        def drop(m: dict) -> None:
            for key in expired:
                m["samples"].pop(key, None)
            ex = m.get("exemplars")
            if ex:
                # exemplars live on the same chunk grid — a retained
                # exemplar whose samples expired would serve trace
                # references into data that no longer exists
                for key in list(ex):
                    if (int(key) + 1) * self.chunk_size_ms - 1 < cutoff_ms:
                        ex.pop(key, None)

        self._commit(drop, op="retention-drop")
        return len({int(k) for k in expired} | {int(k) for k in expired_ex})

    def _rollup(
        self, raw: DataFrame, step_ms: int, extra_keys: tuple[str, ...] = ()
    ) -> DataFrame:
        """The tiering aggregate shared by write-time rollups and the
        on-the-fly path in query_downsampled — using ONE construction
        on both sides makes rolled and raw chunks bit-identical under
        every served aggregate: [series_id, bucket_ms, n_points,
        sum_value (DECIMAL — order-free), min/max_value, last struct
        (max by (ts, value) — deterministic under duplicate ts)].
        Every stored stat is MERGEABLE (sum/sum/min/max/struct-max), so
        partials split across chunk boundaries re-merge losslessly —
        query_downsampled relies on this. ``extra_keys`` prepends group
        keys (the batched retention pass groups by chunk_id too, so a
        bucket straddling two chunks stays a per-chunk partial and each
        partial lands in its own rollup partition)."""
        bucket = (
            (F.floor(F.col("timestamp") / F.lit(step_ms)) * F.lit(step_ms))
            .cast("long")
            .alias("bucket_ms")
        )
        return raw.groupBy(*extra_keys, "series_id", bucket).agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.max(F.struct(F.col("timestamp"), F.col("value"))).alias("last"),
        )

    def _rollup_dir(self, step_ms: int) -> str:
        return os.path.join(self.path, "rollups", f"step_ms={step_ms}")

    def downsample_retention(
        self, cutoff_ms: int, step_ms: int
    ) -> tuple[int, int]:
        """Resolution-tiering retention (the Thanos/Prometheus
        downsampling story — keep raw data hot, keep only step-grain
        aggregates beyond the horizon): ONE filtered scan of every
        chunk whose range ends before ``cutoff_ms`` → one grouped
        rollup keyed by (chunk_id, series, bucket) → one
        dynamic-partition-overwrite write into
        ``rollups/step_ms=<s>/chunk_id=<cid>`` — then delete the raw
        partitions. Job count is O(1) per pass, independent of the
        number of expired chunks (a years-deep backlog of 2-day chunks
        is one Spark job, not thousands of serialized read→write
        jobs); dynamic overwrite replaces exactly the partitions
        present in this pass's data, so replays are idempotent and
        previously rolled chunks are never touched. Grouping includes
        chunk_id, so a step bucket straddling a chunk boundary stays a
        per-chunk PARTIAL in its own partition — query_downsampled
        re-merges partials (every stored stat is mergeable). A crash
        between rollup write and the manifest commit leaves BOTH tiers
        for a chunk; query_downsampled prefers the rollup for any
        rolled chunk, so the window never double-counts, and a retried
        pass converges (the re-roll dynamic-overwrites identical
        partitions, then the commit drops the raw chunks). Raw files
        are reclaimed by ``vacuum``. Lossy by design — raw points are
        gone; use export_chunk_gorilla for the lossless cold archive.
        Returns (chunks_rolled, chunks_dropped).
        """
        expired = self._expired_chunks(cutoff_ms)
        if not expired:
            return (0, 0)
        raw = self.samples().filter(
            F.col("chunk_id").isin([int(k) for k in expired])
        )
        (
            self._rollup(raw, step_ms, extra_keys=("chunk_id",))
            .repartition("chunk_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chunk_id")
            .parquet(self._rollup_dir(step_ms))
        )

        def drop(m: dict) -> None:
            for key in expired:
                m["samples"].pop(key, None)

        self._commit(drop, op="retention-tier")
        return (len(expired), len(expired))

    def _rolled_chunk_ids(self, step_ms: int) -> list[int]:
        base = self._rollup_dir(step_ms)
        if not os.path.isdir(base):
            return []
        out = []
        for name in os.listdir(base):
            if name.startswith("chunk_id="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return sorted(out)

    def query_downsampled(
        self,
        matchers,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        agg: str = "avg",
    ) -> DataFrame:
        """Step-grain query across BOTH retention tiers: rolled chunks
        served from their stored aggregates, still-raw chunks
        downsampled on the fly with the identical construction, one
        union + semi-join against the matched dim, then a partial
        MERGE on (series_id, bucket_ms). ``agg`` ∈ {avg, sum, min,
        max, last, count}. Rolled buckets are whole-bucket aggregates,
        so the query range snaps outward to the step grid on rolled
        data (the standard tiered-TSDB caveat); raw chunks honor the
        SAME outward snap at both ends (timestamp bounds cover every
        bucket whose start lands in [lo, end_ms]) so a chunk serves
        identical values whichever tier it is in. The merge step is
        load-bearing, not belt-and-braces: when step_ms does not
        divide chunk_size_ms, a bucket straddling a chunk boundary
        arrives as per-chunk partials (one per rolled partition, plus
        possibly a raw-tier partial) — every stored stat is mergeable
        (sum/sum/min/max/struct-max), so the grouped merge
        reconstructs the exact whole-bucket aggregate. Returns
        [series_id, bucket_ms, n_points, value] ordered within series
        time-ascending by the caller's choice."""
        rolled = self._rolled_chunk_ids(step_ms)
        lo = (start_ms // step_ms) * step_ms
        hi = (end_ms // step_ms + 1) * step_ms - 1  # end of end_ms's bucket
        parts = []
        if rolled:
            # chunk_id pruning on the rollup tier too: a bucket partial
            # stored in chunk c only aggregates points inside c's range,
            # so partials for buckets starting in [lo, end_ms] (points
            # in [lo, hi]) live only in chunk partitions overlapping
            # [lo, hi]. Without this the rolled tier — which grows
            # unboundedly with retention age — scans every historical
            # rollup partition per query.
            ro = (
                self.spark.read.parquet(self._rollup_dir(step_ms))
                .filter(
                    chunk_pred(lo, hi, self.chunk_size_ms)
                    & (F.col("bucket_ms") >= lo)
                    & (F.col("bucket_ms") <= end_ms)
                )
                .drop("chunk_id")
            )
            parts.append(ro)
        raw = self.samples().filter(
            chunk_pred(lo, hi, self.chunk_size_ms)
            & (F.col("timestamp") >= lo)
            & (F.col("timestamp") <= hi)
        )
        if rolled:
            raw = raw.filter(~F.col("chunk_id").isin(rolled))
        parts.append(self._rollup(raw, step_ms))
        tiers = parts[0]
        for p in parts[1:]:
            tiers = tiers.unionByName(p, allowMissingColumns=False)
        sel = self._matched_series(matchers).select("series_id")
        tiers = tiers.join(self._dim_hint(sel), "series_id", "left_semi")
        # Merge partials: map-combinable, runs AFTER the semi-join
        # prunes to matched series. sum over DECIMAL(28,6) partials
        # widens to (38,6) — exact; struct-max of struct-max picks the
        # same deterministic last point.
        tiers = tiers.groupBy("series_id", "bucket_ms").agg(
            F.sum("n_points").alias("n_points"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.max("last").alias("last"),
        )
        value = {
            "avg": F.col("sum_value").cast("double") / F.col("n_points"),
            "sum": F.col("sum_value").cast("double"),
            "min": F.col("min_value"),
            "max": F.col("max_value"),
            "last": F.col("last.value"),
            "count": F.col("n_points").cast("double"),
        }[agg]
        return tiers.select(
            "series_id", "bucket_ms", "n_points", value.alias("value")
        )

    def delete_series(
        self,
        matchers,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> int:
        """Selective series deletion (the Prometheus admin
        delete_series API; GDPR / tombstone analog): remove every
        series matching ``matchers`` — dict superset semantics or a
        LabelMatcher list, same surface as query() — optionally
        bounded to points with timestamp in ``[start_ms, end_ms]``
        (inclusive, the engine's F3 convention). Returns the number of
        matched series.

        The reference has no delete at all (chunks accumulate forever,
        /root/reference/src/db.rs:22-32); this is the operational
        companion to drop_chunks_before: retention deletes by TIME at
        partition granularity, this deletes by IDENTITY (× time).

        - FULL delete (no bounds): ONE anti-join job across all chunks
          (not one per chunk), dim and facts swapped in a SINGLE
          manifest commit — atomic to readers.
        - TIME-BOUNDED delete: only chunks OVERLAPPING the range are
          rewritten (partition-pruned — a narrow range touches a
          handful of chunks regardless of table size); the dim keeps
          the series' metadata, since points may survive elsewhere —
          a series left with zero points everywhere simply stops
          matching anything (F6 empty-series elimination at query
          time, /root/reference/src/chunk/chunk.rs:156-158).

        A crash at any point before the commit is a complete no-op
        (staged files unreferenced, vacuum reclaims); replays are
        idempotent. Not safe concurrently with writers to the same db
        (last commit wins the file lists); concurrent READERS are safe
        — their plans pin the pre-delete snapshot.
        """
        bounded = start_ms is not None or end_ms is not None
        lo = 0 if start_ms is None else start_ms
        hi = (1 << 62) if end_ms is None else end_ms
        sel = self._matched_series(matchers).select("series_id").persist()
        try:
            n = sel.count()
            if n == 0:
                return 0
            if not bounded:
                kept = self.samples().join(
                    self._dim_hint(sel), "series_id", "left_anti"
                )
                fact_files = self._stage_and_move(
                    kept.repartition("chunk_id").sortWithinPartitions(
                        "series_id", "timestamp"
                    ),
                    self.samples_path,
                    partition_by="chunk_id",
                )
                # the deleted identity's exemplars go with it (GDPR:
                # exemplar labels carry trace ids tied to the series)
                ex_files: dict[str, list[str]] | None = None
                if self._load_manifest().get("exemplars"):
                    kept_ex = self.exemplars().join(
                        self._dim_hint(sel), "series_id", "left_anti"
                    )
                    ex_files = self._stage_and_move(
                        kept_ex.repartition("chunk_id").sortWithinPartitions(
                            "series_id", "timestamp"
                        ),
                        self.exemplars_path,
                        partition_by="chunk_id",
                    )
                kept_dim = self.series().join(sel, "series_id", "left_anti")
                dim_files = self._stage_and_move(
                    kept_dim.sortWithinPartitions("series_id"),
                    self.series_path,
                    options=self._DIM_WRITE_OPTS,
                )
                # A full delete rewrites the dim, so a fresh index would
                # go stale here of all places — rebuild its postings from
                # the kept dim and swap them in the SAME commit, keeping
                # the serving path index-backed across deletes.
                cur0 = self._read_current()
                idx0 = (cur0 or {}).get("label_index")
                post_files: dict[str, list[str]] = {}
                post_stats: dict = {}
                if idx0 and idx0["series"] == cur0["series"]:
                    kept_postings = self._postings_of(
                        kept_dim, idx0["n_buckets"]
                    )
                    post_files = self._stage_and_move(
                        kept_postings,
                        self.index_path,
                        partition_by="kp",
                        options=self._INDEX_WRITE_OPTS,
                    )
                    post_stats = self._posting_stats(kept_postings)

                def swap(m: dict) -> None:
                    idx = m.get("label_index")
                    refresh = post_files and idx and idx["series"] == m["series"]
                    m["samples"] = fact_files
                    m["series"] = dim_files
                    if ex_files is not None:
                        m["exemplars"] = ex_files
                    if refresh:
                        idx["buckets"] = post_files
                        idx["key_stats"] = post_stats
                        idx["series"] = dim_files
                    elif idx is not None and idx["series"] != m["series"]:
                        # stale (or raced) index: drop the entry so its
                        # files stop being pinned by future snapshots.
                        del m["label_index"]

                self._commit(swap, op="delete")
                return n
            man = self._load_manifest()

            def _overlapping(chunks: dict) -> list[str]:
                return [
                    k
                    for k in chunks
                    if int(k) * self.chunk_size_ms <= hi
                    and (int(k) + 1) * self.chunk_size_ms - 1 >= lo
                ]

            overlapping = _overlapping(man["samples"])
            ex_overlapping = _overlapping(man.get("exemplars", {}))
            if not overlapping and not ex_overlapping:
                return n
            marked = self._dim_hint(sel).withColumn("__m", F.lit(True))

            def _kept(src):
                return (
                    src.join(marked, "series_id", "left")
                    .filter(
                        ~(
                            F.coalesce(F.col("__m"), F.lit(False))
                            & F.col("timestamp").between(lo, hi)
                        )
                    )
                    .drop("__m")
                )

            fact_files: dict[str, list[str]] = {}
            if overlapping:
                src = self.samples().filter(
                    F.col("chunk_id").isin([int(k) for k in overlapping])
                )
                fact_files = self._stage_and_move(
                    _kept(src).repartition("chunk_id").sortWithinPartitions(
                        "series_id", "timestamp"
                    ),
                    self.samples_path,
                    partition_by="chunk_id",
                )
            ex_fact_files: dict[str, list[str]] = {}
            if ex_overlapping:
                ex_src = self.exemplars().filter(
                    F.col("chunk_id").isin([int(k) for k in ex_overlapping])
                )
                ex_fact_files = self._stage_and_move(
                    _kept(ex_src).repartition("chunk_id").sortWithinPartitions(
                        "series_id", "timestamp"
                    ),
                    self.exemplars_path,
                    partition_by="chunk_id",
                )

            def swap_bounded(m: dict) -> None:
                for k in overlapping:
                    m["samples"].pop(k, None)
                for k, files in fact_files.items():
                    m["samples"][k] = files
                ex = m.setdefault("exemplars", {})
                for k in ex_overlapping:
                    ex.pop(k, None)
                for k, files in ex_fact_files.items():
                    ex[k] = files
                if not ex:
                    m.pop("exemplars", None)

            self._commit(swap_bounded, op="delete")
            return n
        finally:
            sel.unpersist()

    def chunks(self) -> DataFrame:
        """Chunk inventory: [chunk_id, start_ms, end_ms, n_files,
        bytes] per sealed/live partition — the observability view of
        the reference's sealed-chunk list + chunk metadata
        (/root/reference/src/db.rs:22-32, chunk.rs:22-56). Reads the
        manifest only — no data scan, and stale pre-vacuum files never
        inflate the inventory."""
        rows = []
        man = self._load_manifest()
        for key in sorted(man["samples"], key=int):
            cid = int(key)
            d = os.path.join(self.samples_path, f"chunk_id={cid}")
            files = [os.path.join(d, f) for f in man["samples"][key]]
            nbytes = 0
            for f in files:
                try:
                    nbytes += os.path.getsize(f)
                except OSError:
                    continue
            rows.append(
                (
                    cid,
                    cid * self.chunk_size_ms,
                    (cid + 1) * self.chunk_size_ms - 1,
                    len(files),
                    nbytes,
                )
            )
        return self.spark.createDataFrame(
            rows, "chunk_id long, start_ms long, end_ms long, n_files long, bytes long"
        )
