"""Versioned atomic {events, state} store — the S7 replacement.

Surge publishes events + state snapshot in ONE Kafka transaction per 50 ms
flush (KafkaProducerActorImpl.scala:421-453). Spark's Kafka sink has no EOS
transactions, so the primary store here is a versioned table pair committed
under a single manifest: a commit is visible iff its manifest file exists,
and the manifest is written last via atomic rename. This is the same
commit-protocol shape Delta Lake uses (_delta_log JSON commits), including
the checkpoint discipline: every ``checkpoint_interval`` commits the
manifest log is rolled up into a checkpoint file + ``_last_checkpoint``
pointer, so version/batch-id/reply lookups read one checkpoint plus the
manifests since — O(interval), not O(commits over the store's life). On a
real deployment you'd swap this for two Delta tables written in one
transaction (or one table with a record_kind column). Kafka becomes
ingress/egress, not the transaction boundary.

Guarantees mapped from the reference:
- atomicity (S7): readers see either both the events and the state of a
  version, or neither — the manifest names both paths.
- idempotent publish (R4, PublishTracker KafkaProducerActorImpl.scala:249-275):
  commit() with an already-committed batch_id is a no-op.
- zombie fencing (R5): manifest writes are create-exclusive; a second writer
  for the same version loses.
- read-your-writes (R2): read_state() always reflects the latest committed
  version; within the engine, batch N+1 reads state committed by batch N.

State layout — key-hash buckets (the Delta MERGE analog):
the snapshot is partitioned into ``num_buckets`` buckets by
``crc32(key) % num_buckets``. A commit reads ONLY the buckets touched by the
batch's update/delete keys, merges them (broadcast anti-join of previous
rows against the touched key set — null-safe by construction — union the
updates), and writes just those buckets; the manifest maps every bucket to
either the freshly written directory or the previous version's directory.
Commit cost is O(touched buckets), not O(snapshot): at a 100 TB snapshot a
small batch rewrites a few buckets while the rest are referenced by path,
byte-identical. crc32 is used (not Spark's murmur3 ``hash``) because the
driver can compute the same value with ``zlib.crc32``, so point lookups
(get_state) read exactly one bucket with zero extra Spark jobs.

Deletions: ``commit(delete_keys=...)`` removes those keys during the bucket
merge without inserting replacement rows — the tombstone path for state
transitions to None (reference publishes the state change whenever
``state.stateOpt != result.state``, including to None).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
import zlib
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._prof import phase

_BUCKET_COL = "__bucket"

# the default row bound on the driver-side commit writes and compaction
# (CommandEngine's driver_commit_max_rows); the engine passes its own
# bound in driver_sides["max_rows"]
DRIVER_COMMIT_MAX_ROWS = 65536

# key types whose str() spelling equals Spark's cast to string, so
# _bucket_of places their rows where _bucket_expr does (floats differ:
# str(1e20) is '1e+20', Spark's cast gives '1.0E20')
_BUCKET_MIRRORED_KEYS = (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType)


class _Declined(Exception):
    """A driver-side commit gate did not hold; the message is the reason
    recorded as the manifest's ``fallback``."""


@dataclass(frozen=True)
class LazyFrames:
    """Every DataFrame argument of ``SnapshotStore.commit``, deferred: pass
    it as ``state_updates`` (with ``events``, ``replies``, ``delete_keys``
    and ``records`` left None) and ``build()`` runs only if the commit takes
    the Spark writes. It returns a dict with the keys ``state_updates``,
    ``events``, ``replies``, ``delete_keys`` and ``records``. ``sides``
    names which of ``events``/``replies``/``records`` exist, which the
    commit needs before it writes anything."""

    build: Callable[[], dict]
    sides: tuple[str, ...]


def _reply_staging_path(final: str, token: str) -> str:
    """WRITER-UNIQUE staging sibling of an external reply dir: suffixed
    with the committer's uuid token (same invariant as the version staging
    dir) so a concurrent fenced committer replaying the same batch can
    never clobber the winner's staged acks mid-publication. The winner's
    staging path is recorded in its manifest, which is how crash recovery
    finds it; a loser's staging dir is simply orphaned."""
    return f"{final.rstrip('/')}.staging-{token}"


def _finish_reply_publication(final: str, staging: str) -> None:
    """Atomically promote a staged external reply dir to its final path
    (idempotent: no-op when already published or nothing staged)."""
    if not os.path.isdir(staging):
        return
    if os.path.isdir(final):
        shutil.rmtree(final)  # stale direct-write or rewritten replay copy
    os.rename(staging, final)


class SnapshotStore:
    def __init__(
        self,
        path: str,
        key_col: str = "aggregate_id",
        num_buckets: int = 64,
        checkpoint_interval: int = 100,
        dedup_horizon: int | None = 100_000,
        delta_commits: int | None = None,
        change_feed: bool = False,
    ) -> None:
        """``checkpoint_interval``: every N commits the manifest log is
        rolled up into a checkpoint file plus a ``_last_checkpoint`` pointer
        (the Delta ``_delta_log`` checkpoint analog), so a fresh reader seeds
        its version/batch-id view from ONE file and then probes only the
        manifests written since — commit and lookup cost stays O(interval),
        not O(store lifetime). 0 disables checkpoint writes.

        ``dedup_horizon``: the checkpoint carries batch ids for at most the
        most recent N versions, bounding checkpoint size and dedup-set
        memory over an unbounded store life. The R4 dedup window therefore
        ages out after N commits — safe because foreachBatch batch ids are
        monotonic (a replay is always of the most recent uncommitted batch,
        never an ancient one; the reference's PublishTracker similarly
        expires after 60 s, reference.conf:182-183). ``None`` keeps the
        exact unbounded set.

        ``delta_commits``: merge-on-read mode. ``None`` (default) keeps the
        copy-on-write commit: every commit is a rewrite — it reads the
        touched buckets, merges survivors, and rewrites them. With
        ``delta_commits=N`` a commit instead APPENDS its updates +
        tombstones as one flat per-version delta directory (no read of
        previous state at all), and every Nth commit is a rewrite that
        folds the accumulated deltas into the base buckets. Readers do a
        latest-wins merge (``max_by`` over the delta ordinal) across base +
        deltas. Every rewrite — a store's first commit, a copy-on-write
        commit, a compaction — is the same merge: one that receives the
        engine's ``driver_sides`` runs on the driver with pyarrow
        (_driver_rewrite) when the batch, the live deltas and the touched
        base buckets hold at most ``driver_sides["max_rows"]`` rows (the
        engine's ``driver_commit_max_rows``), the key is a string or
        integral type, and every delta has the commit's schema; otherwise
        it runs the Spark merge. Every manifest records which (``writes``)
        and why not (``fallback``). This is
        the reference's own shape — a Kafka transaction APPENDS events +
        state to topics and the KTable compacts in the background
        (KafkaProducerActorImpl.scala:421-453) — and the Delta/Hudi
        merge-on-read streaming-upsert pattern: at a 100 TB snapshot a
        1 s micro-batch cannot pay a read-merge-rewrite of every touched
        bucket per commit (measured locally: the Spark COW state write was
        1.1-1.35 s of a 2.5 s batch ack at 128 cmds/64 buckets); an append
        is O(batch) regardless of snapshot size, and compaction amortizes
        the rewrite over N batches.

        ``change_feed``: the Delta CDF analog. Merge-on-read APPEND
        commits already persist their exact change set — the delta dir —
        so read_changes covers them for free; COW commits, the first
        commit, and compaction commits fold changes into rewritten
        buckets and lose the per-version record. With change_feed=True
        those commits ALSO write an O(batch) ``changes`` dir (updates +
        tombstones, the delta-file shape) referenced from the manifest,
        making read_changes gapless over the store's whole history."""
        self.path = path
        self.key_col = key_col
        # effective bucket count is pinned by the first commit's manifest so
        # every later reader/writer agrees even if constructed differently
        self.default_num_buckets = num_buckets
        self.checkpoint_interval = checkpoint_interval
        self.dedup_horizon = dedup_horizon
        if delta_commits is not None and delta_commits < 1:
            raise ValueError(f"delta_commits must be >= 1, got {delta_commits}")
        self.delta_commits = delta_commits
        self.change_feed = change_feed
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        # manifests are immutable once linked, so cache parses; batch ids
        # accumulate incrementally — without this, every commit rescans all
        # manifests and the facade's one-commit-per-command usage is O(N^2)
        self._manifest_cache: dict[int, dict] = {}
        self._batch_id_cache: dict[int, str] = {}
        self._version_by_batch: dict[str, int] = {}
        self._ckpt_loaded = False
        self._ckpt_version = -1  # highest version the loaded checkpoint covers
        self._latest_seen = -1  # highest version known to exist
        # read_state frame memo: a committed version's bucket dirs are
        # immutable, so the DataFrame (whose InMemoryFileIndex lists all
        # bucket dirs eagerly at creation — ~0.2 s per call against a
        # 64-bucket store) is reusable for the version's lifetime. Keyed by
        # session identity like io._TABLE_CACHE; bounded to the most recent
        # versions so a long-lived engine doesn't accumulate plan objects.
        self._read_state_frames: dict[tuple[int, int], tuple[SparkSession, DataFrame]] = {}
        # raw per-directory frame memo for merge-on-read reads: across
        # consecutive delta versions the base bucket dirs and all but the
        # newest delta dir are identical, so only the ONE new delta dir
        # needs a fresh listing per version (steady micro-batch case)
        self._dir_frames: dict[tuple, tuple[SparkSession, DataFrame]] = {}
        # readers may share one store across threads (a gateway serving
        # reads beside the command stream): this lock makes the frame-memo
        # check/build/insert/evict sequence atomic (no reliance on GIL dict
        # atomicity) and dedupes concurrent builds of the same key — the
        # second thread blocks briefly and then hits the memo. RLock:
        # read_state → _merged_state_frame → _memo_dir_frame nests.
        self._memo_lock = threading.RLock()
        # pyarrow dataset memo for driver-side point reads: version dirs are
        # immutable once a manifest references them, so the file listing +
        # footer metadata a dataset caches stays valid for the dir's life.
        # Its OWN lock: point reads must never queue behind a 0.1-0.3 s
        # Spark plan build under _memo_lock — the whole purpose of the
        # arrow path is a sub-50 ms lookup that touches no Spark state
        self._arrow_dsets: dict[str, object] = {}
        self._arrow_lock = threading.Lock()

    # -- commit protocol ----------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "_manifests", f"v{version:012d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(
            self.path, "_manifests", f"checkpoint-v{version:012d}.json"
        )

    def _ensure_checkpoint_loaded(self) -> None:
        if self._ckpt_loaded:
            return
        self._ckpt_loaded = True
        lc = os.path.join(self.path, "_manifests", "_last_checkpoint")
        if not os.path.isfile(lc):
            return
        with open(lc) as f:
            meta = json.load(f)
        with open(meta["path"]) as f:
            ckpt = json.load(f)
        self._ckpt_version = int(ckpt["version"])
        for v_str, bid in ckpt.get("batch_ids", {}).items():
            v = int(v_str)
            self._batch_id_cache.setdefault(v, bid)
            self._version_by_batch.setdefault(bid, v)
        self._latest_seen = max(self._latest_seen, self._ckpt_version)

    def latest_version(self) -> int | None:
        """O(new-since-last-look): versions are contiguous from 0 (commit
        always targets prev+1 behind the exclusive-link fence) and manifests
        are never deleted, so probing forward from the highest version seen —
        seeded by the checkpoint — replaces the full directory listing the
        pre-checkpoint layout did on every call (O(n) per commit, O(n²) over
        the store's life: the same bug class as filelog.end_offsets)."""
        self._ensure_checkpoint_loaded()
        v = self._latest_seen
        while os.path.isfile(self._manifest_path(v + 1)):
            v += 1
        self._latest_seen = v
        return v if v >= 0 else None

    def committed_versions(self) -> list[int]:
        v = self.latest_version()
        return list(range(v + 1)) if v is not None else []

    def _manifest(self, version: int) -> dict:
        cached = self._manifest_cache.get(version)
        if cached is None:
            with open(self._manifest_path(version)) as f:
                cached = json.load(f)
            self._manifest_cache[version] = cached
        return cached

    def version_at(self, timestamp: float) -> int | None:
        """Latest committed VERSION whose manifest commit time is <=
        ``timestamp`` (epoch seconds) — the Delta ``timestampAsOf``
        resolution step. Scans manifests DESCENDING from latest and
        returns the first qualifying version: correct even if the wall
        clock regressed between commits (the answer is defined by
        version recency, commit time only gates eligibility), and a
        query near 'now' reads only the few newest manifests (all
        cached after one pass). A manifest missing its ``ts`` field
        (pre-r3 layout) counts as arbitrarily old, i.e. eligible.
        Returns None when every commit is newer than ``timestamp`` or
        the eligible history was pruned from disk. Worst case (a
        timestamp older than ALL retained history) reads every retained
        manifest's ts once — the honest price of regression-correctness
        (any early-exit heuristic is wrong when the clock regressed);
        the reads go through _manifest_ts, which consults the cache but
        never POPULATES it, so a one-off deep miss cannot pin every
        manifest dict in memory for the store's lifetime (review pass
        2)."""
        for v in sorted(self.committed_versions(), reverse=True):
            try:
                ts = self._manifest_ts(v)
            except FileNotFoundError:
                break  # older manifests pruned — nothing earlier readable
            if ts is None or ts <= timestamp:
                return v
        return None

    def _manifest_ts(self, version: int) -> float | None:
        """The manifest's commit time, via the cache when present but
        WITHOUT caching the full dict on a miss (version_at's deep scans
        must not grow the cache unboundedly)."""
        cached = self._manifest_cache.get(version)
        if cached is not None:
            return cached.get("ts")
        with open(self._manifest_path(version)) as f:
            return json.load(f).get("ts")

    def committed_batch_ids(self) -> set[str]:
        """Batch ids of the R4 dedup window: everything the checkpoint
        carries (the last ``dedup_horizon`` versions at checkpoint time)
        plus every manifest written since — only those post-checkpoint
        manifests are ever opened, so the call is O(interval) amortized."""
        v = self.latest_version()
        if v is None:
            return set()
        for u in range(self._ckpt_version + 1, v + 1):
            if u not in self._batch_id_cache:
                bid = str(self._manifest(u).get("batch_id"))
                self._batch_id_cache[u] = bid
                self._version_by_batch.setdefault(bid, u)
        return set(self._batch_id_cache.values())

    def _write_checkpoint(self, version: int) -> None:
        """Roll the manifest log up to ``version`` into one checkpoint file,
        then flip the ``_last_checkpoint`` pointer (both atomic renames — a
        crash between the two leaves the previous pointer serving the
        previous checkpoint, never a torn view)."""
        lo = 0
        if self.dedup_horizon is not None:
            lo = max(0, version + 1 - self.dedup_horizon)
        ids: dict[str, str] = {}
        for u in range(lo, version + 1):
            bid = self._batch_id_cache.get(u)
            if bid is None:
                try:
                    bid = str(self._manifest(u).get("batch_id"))
                except FileNotFoundError:
                    continue
                self._batch_id_cache[u] = bid
            ids[str(u)] = bid
        ckpt_path = self._checkpoint_path(version)
        tmp = f"{ckpt_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "batch_ids": ids}, f)
        os.replace(tmp, ckpt_path)
        lc = os.path.join(self.path, "_manifests", "_last_checkpoint")
        tmp = f"{lc}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "path": ckpt_path}, f)
        os.replace(tmp, lc)
        self._ckpt_version = max(self._ckpt_version, version)

    # -- bucketing ----------------------------------------------------------

    def _num_buckets(self, prev_manifest: dict | None) -> int:
        if prev_manifest is not None:
            return int(prev_manifest.get("num_buckets", self.default_num_buckets))
        return self.default_num_buckets

    def _bucket_expr(self, nb: int) -> F.Column:
        """JVM-side bucket id; mirrored driver-side by _bucket_of."""
        c = F.col(self.key_col)
        return F.pmod(F.crc32(c.cast("string").cast("binary")), F.lit(nb)).cast(
            "int"
        )

    @staticmethod
    def _bucket_of(key: str, nb: int) -> int:
        """Driver-side mirror of _bucket_expr (zlib.crc32 == Spark crc32)."""
        return zlib.crc32(str(key).encode("utf-8")) % nb

    def _keys_df(
        self, spark: SparkSession, keys: list | DataFrame | None
    ) -> DataFrame | None:
        if keys is None:
            return None
        if isinstance(keys, DataFrame):
            col = keys.columns[0] if self.key_col not in keys.columns else self.key_col
            return keys.select(F.col(col).cast("string").alias(self.key_col))
        if not len(keys):
            return None
        return spark.createDataFrame(
            [(str(k),) for k in keys], f"{self.key_col} string"
        )

    def _updates_with_tombstones(
        self,
        state_updates: DataFrame,
        dele: DataFrame | None,
        state_schema_json: str,
    ) -> DataFrame | None:
        """One frame of the batch's changes in the delta-file shape:
        update rows with ``__deleted=false`` union tombstone keys padded
        to the state schema with ``__deleted=true`` (None when the batch
        changed nothing). Used for both delta appends and change-feed
        records — they are the same artifact."""
        schema_struct = T.StructType.fromJson(json.loads(state_schema_json))
        parts: list[DataFrame] = []
        if state_updates.schema.fields:
            parts.append(state_updates.withColumn("__deleted", F.lit(False)))
        if dele is not None and schema_struct.fields:
            key_field = schema_struct[self.key_col]
            pad = [
                F.col(self.key_col).cast(key_field.dataType).alias(self.key_col)
                if f.name == self.key_col
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema_struct.fields
            ]
            parts.append(dele.select(*pad).withColumn("__deleted", F.lit(True)))
        if len(parts) == 2:
            return parts[0].unionByName(parts[1])
        return parts[0] if parts else None

    # -- driver-side small-batch commit writes --------------------------------

    # the write twin of the r7 arrow point READ: a micro-batch's outputs are
    # a few hundred tiny rows, yet each Spark parquet write job costs ~0.2 s
    # of scheduling + commit protocol (the measured write floor). For
    # driver-safe batch sizes the engine collects the fold output once and
    # commit writes the delta/events/replies/records parquet driver-side
    # with pyarrow — zero Spark write jobs. STRICTLY gated: only schemas
    # whose fields map 1:1 onto parquet primitives Spark writes identically
    # (no timestamps — Spark's INT96 default differs from pyarrow), and only
    # exact-type JSON values (a mismatch falls back to the Spark path, whose
    # from_json/cast semantics then apply — the driver path never guesses).
    @staticmethod
    def _arrow_write_schema(struct: T.StructType):
        """pyarrow schema for a Spark struct IF every field is a primitive
        both engines write identically; raises ValueError otherwise."""
        import pyarrow as pa

        m = {
            T.StringType: pa.string(),
            T.LongType: pa.int64(),
            T.IntegerType: pa.int32(),
            T.ShortType: pa.int16(),
            T.ByteType: pa.int8(),
            T.DoubleType: pa.float64(),
            T.FloatType: pa.float32(),
            T.BooleanType: pa.bool_(),
        }
        fields = []
        for f in struct.fields:
            t = m.get(type(f.dataType))
            if t is None:
                raise ValueError(f"no driver-side write for {f.dataType}")
            fields.append(pa.field(f.name, t))
        return pa.schema(fields)

    @staticmethod
    def _coerce_row(d: dict, struct: T.StructType, key_col: str | None = None) -> dict:
        """JSON dict → typed row for the declared struct; raises on any
        value whose type doesn't already match (bool-for-int included —
        json gives real bools). Matching from_json EXACTLY on mismatches
        is not attempted: a raise here routes the whole batch to the Spark
        path, so both engines only ever diverge into identical output.

        The store key column ``key_col`` follows the tombstone-key rule:
        the engine stamps keys as strings, and the Spark path casts the
        key from its string spelling, so an integral key column also takes
        a str whose canonical spelling it is (``str(int(v)) == v``); any
        other str raises and the Spark cast decides."""
        out = {}
        for f in struct.fields:
            v = d.get(f.name)
            if v is None:
                out[f.name] = None
                continue
            dt = type(f.dataType)
            if dt is T.StringType:
                if not isinstance(v, str):
                    raise ValueError(f"{f.name}: {type(v).__name__} for string")
                out[f.name] = v
            elif dt in (T.LongType, T.IntegerType, T.ShortType, T.ByteType):
                if f.name == key_col and isinstance(v, str) and str(int(v)) == v:
                    v = int(v)
                if isinstance(v, bool) or not isinstance(v, int):
                    raise ValueError(f"{f.name}: {type(v).__name__} for integral")
                out[f.name] = v
            elif dt in (T.DoubleType, T.FloatType):
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    raise ValueError(f"{f.name}: {type(v).__name__} for float")
                out[f.name] = float(v)
            elif dt is T.BooleanType:
                if not isinstance(v, bool):
                    raise ValueError(f"{f.name}: {type(v).__name__} for bool")
                out[f.name] = v
            else:  # unreachable after _arrow_write_schema
                raise ValueError(f"{f.name}: unsupported {f.dataType}")
        return out

    @staticmethod
    def _arrow_write_table(path: str, table) -> None:
        """One parquet file in ``path``, the driver-side stand-in for one
        Spark write task (snappy, the same default codec)."""
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        # write hidden, rename into place: a concurrent lister (the
        # change-feed stream source) must never read a partial footer —
        # Spark's own writes get this from the _temporary-dir committer,
        # and names starting with '.' are filtered by every Spark lister
        name = f"part-00000-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(path, name))

    @classmethod
    def _arrow_write_dir(cls, path: str, rows: list[dict], struct: T.StructType) -> None:
        """One-file parquet dir of typed row dicts."""
        import pyarrow as pa

        schema = cls._arrow_write_schema(struct)
        cls._arrow_write_table(path, pa.Table.from_pylist(rows, schema=schema))

    def _driver_change_rows(self, ds: dict, updates_unique: bool) -> list[dict]:
        """The batch's state rows and tombstones in the delta-file shape
        (state columns + ``__deleted``): a delta append's delta file, and a
        driver compaction's merge input and change record.

        Parity contracts mirrored from the Spark path: null-key state rows
        are dropped at the gate (unaddressable by the bucket math);
        tombstone keys are cast from their string spelling to the key
        column's type (int()/float() raise like ANSI casts do)."""
        state_struct: T.StructType = ds["state_struct"]
        key_field = state_struct[self.key_col]
        rows: list[dict] = []
        seen_keys: set = set()
        for d in ds.get("state") or []:
            r = self._coerce_row(d, state_struct, self.key_col)
            if r.get(self.key_col) is None:
                continue
            if not updates_unique:
                # mirror the Spark path's dropDuplicates gate: the snapshot
                # invariant is one row per key, and a non-engine caller
                # passing duplicate keys through this fast path would
                # otherwise corrupt it (arbitrary survivor there; first
                # occurrence here — both within the documented contract)
                kv = r[self.key_col]
                if kv in seen_keys:
                    continue
                seen_keys.add(kv)
            r["__deleted"] = False
            rows.append(r)
        kt = type(key_field.dataType)
        for k in ds.get("deletes") or []:
            if k is None:
                # None-key tombstones are unaddressable (the bucket math
                # cannot place them and no snapshot row can carry a null
                # key — see the null-key gate on state rows above); the
                # Spark path drops them identically via its null-filtered
                # delete join. Mirrored comment at the fold-row packer in
                # command_engine._split_sides.
                continue
            if not isinstance(k, str):
                raise ValueError("tombstone keys must arrive stringified")
            if kt is T.StringType:
                kv = k
            elif kt in (T.LongType, T.IntegerType, T.ShortType, T.ByteType):
                kv = int(k)  # raises like the ANSI string→integral cast
            elif kt in (T.DoubleType, T.FloatType):
                kv = float(k)
            else:
                raise ValueError(f"no driver-side tombstone cast for {key_field.dataType}")
            r = {f.name: None for f in state_struct.fields}
            r[self.key_col] = kv
            r["__deleted"] = True
            rows.append(r)
        return rows

    def _driver_side_rows(
        self,
        ds: dict,
        events_path: str | None,
        replies_path: str | None,
        records_path: str | None,
    ) -> dict:
        """Coerced events/replies/records rows (None for a side not
        written). Coerced before any file is written, so a late coercion
        error leaves nothing to clean up beyond what the caller rmtree's."""
        sides: dict = {"events": None, "replies": None, "records": None}
        if events_path is not None and ds.get("events") is not None:
            sides["events"] = [
                self._coerce_row(d, ds["events_struct"], self.key_col) for d in ds["events"]
            ]
        if replies_path is not None:
            sides["replies"] = [
                self._coerce_row(d, ds["replies_struct"])
                for d in (ds.get("replies") or [])
            ]
        if records_path is not None and ds.get("records"):
            sides["records"] = [
                self._coerce_row(d, ds["records_struct"]) for d in ds["records"]
            ]
        return sides

    def _write_driver_sides(
        self,
        ds: dict,
        sides: dict,
        events_path: str | None,
        replies_path: str | None,
        records_path: str | None,
    ) -> int:
        """Write the coerced sides; returns n_events. An empty events or
        records side writes no dir; replies are always written (even
        empty — ack recovery reads the dir's existence)."""
        n_events = 0
        if sides["events"]:
            self._arrow_write_dir(events_path, sides["events"], ds["events_struct"])
            n_events = len(sides["events"])
        if sides["replies"] is not None:
            self._arrow_write_dir(replies_path, sides["replies"], ds["replies_struct"])
        if sides["records"]:
            self._arrow_write_dir(records_path, sides["records"], ds["records_struct"])
        return n_events

    @staticmethod
    def _batch_within_bound(ds: dict) -> int:
        """The driver-write row bound ``ds["max_rows"]``, after declining
        when the batch's own rows (state, tombstones, events, replies,
        records) exceed it — so a bound of 0 sends every non-empty commit
        to the Spark writes."""
        bound = ds.get("max_rows", DRIVER_COMMIT_MAX_ROWS)
        n_rows = sum(
            len(ds.get(k) or []) for k in ("state", "deletes", "events", "replies", "records")
        )
        if n_rows > bound:
            raise _Declined(f"the batch holds {n_rows} rows, over the {bound}-row bound")
        return bound

    def _driver_commit_writes(
        self,
        ds: dict,
        delta_path: str,
        events_path: str | None,
        replies_path: str | None,
        records_path: str | None,
        prev_manifest: dict | None,
        updates_unique: bool = False,
    ) -> tuple[int, bool, str]:
        """Write a delta-append commit's parquet sides driver-side from
        pre-collected rows. Returns (n_events, delta_written,
        state_schema_json). Declines when the batch's rows exceed
        ``ds["max_rows"]``, and raises on ANY schema/value that doesn't
        coerce exactly — the caller cleans up and falls back to the Spark
        writes. An empty delta writes NO dir (no-change-no-write)."""
        state_struct: T.StructType = ds["state_struct"]
        schema_json = state_struct.json()
        if not state_struct.fields and prev_manifest is not None:
            schema_json = prev_manifest.get("state_schema", schema_json)
        self._batch_within_bound(ds)
        delta_struct = T.StructType(
            list(state_struct.fields) + [T.StructField("__deleted", T.BooleanType())]
        )
        rows = self._driver_change_rows(ds, updates_unique)
        sides = self._driver_side_rows(ds, events_path, replies_path, records_path)
        delta_written = False
        if rows:
            self._arrow_write_dir(delta_path, rows, delta_struct)
            delta_written = True
        n_events = self._write_driver_sides(
            ds, sides, events_path, replies_path, records_path
        )
        return n_events, delta_written, schema_json

    # -- driver-side rewrite ---------------------------------------------------

    # the rewrite twin of the driver-side append: a rewriting commit of a
    # micro-batch-sized batch (cmd-stream's compaction: 16 deltas of 128
    # keys over a 4096-key, 16-bucket base) merges a few thousand rows, yet
    # the Spark plan (_fold_backlog aggregate, _cow_merge collect job and
    # anti-join, bucket-repartitioned write) cost ~1.7-2.0 s of one trigger
    # in 17. Same latest-wins merge with pyarrow on the driver, gated on
    # the rows it reads; the Spark rewrite stays the one fallback.
    def _driver_rewrite(
        self,
        ds: dict,
        nb: int,
        base_map: dict[str, str],
        prev_deltas: list[dict],
        state_path: str,
        changes_path: str | None,
        events_path: str | None,
        replies_path: str | None,
        records_path: str | None,
        updates_unique: bool,
    ) -> tuple[int, str, set[str]]:
        """Fold every live delta plus this batch into the touched base
        buckets with pyarrow and write one parquet file per touched bucket
        under ``state_path/__bucket=N`` — the layout the Spark write
        produces. One merge for every rewriting commit: a compaction folds
        its deltas, a copy-on-write commit has none, and a first commit
        merges against an empty ``base_map``. Returns
        (n_events, state_schema_json, touched bucket ids). Raises
        _Declined before reading anything big when a gate fails, and
        anything else on a value or file that doesn't map exactly; the
        caller cleans up and runs the Spark rewrite."""
        import pyarrow as pa
        import pyarrow.compute as pc

        state_struct: T.StructType = ds["state_struct"]
        schema_json = state_struct.json()
        if self.key_col not in state_struct.fieldNames():
            raise _Declined("the batch's state schema lacks the key column")
        key_type = state_struct[self.key_col].dataType
        if type(key_type) not in _BUCKET_MIRRORED_KEYS:
            # _bucket_of equals Spark's cast-to-string crc32 only where
            # Python's str() spells the value as Spark does
            raise _Declined(f"key type {key_type.simpleString()} has no driver-side bucket mirror")
        if any(e["schema"] != schema_json for e in prev_deltas):
            raise _Declined("a delta's schema differs from the commit's state schema")
        target = self._arrow_write_schema(state_struct)
        cols = target.names
        delta_schema = target.append(pa.field("__deleted", pa.bool_()))
        bound = self._batch_within_bound(ds)
        live = sorted(
            (e["path"] for e in prev_deltas if os.path.isdir(e["path"])),
            key=self._delta_version,
        )
        n_read = sum(self._arrow_dataset(p).count_rows() for p in live)
        if n_read > bound:
            raise _Declined(f"deltas hold {n_read} rows, over the {bound}-row bound")

        def exact(tbl, schema):
            # a file written under another schema (drift the manifest
            # didn't record) must not be cast silently
            got = [(f.name, f.type) for f in tbl.schema]
            if got != [(f.name, f.type) for f in schema]:
                raise ValueError(f"file schema {tbl.schema} differs from {schema}")
            return pa.Table.from_arrays(tbl.columns, schema=schema)

        change_rows = self._driver_change_rows(ds, updates_unique)
        sides = self._driver_side_rows(ds, events_path, replies_path, records_path)
        batch = pa.Table.from_pylist(change_rows, schema=delta_schema)
        # latest-wins by position: the deltas in _delta_version order, then
        # the batch (the committing version, newer than every delta), so a
        # key's LAST row is the one Spark's max_by over __v would pick
        changes = pa.concat_tables(
            [
                exact(self._arrow_dataset(p).to_table(columns=delta_schema.names), delta_schema)
                for p in live
            ]
            + [batch]
        )
        last = {k: i for i, k in enumerate(changes.column(self.key_col).to_pylist())}
        winners = changes.take(pa.array(sorted(last.values()), pa.int64()))
        keep = pc.invert(winners.column("__deleted")).combine_chunks()
        upserts = winners.filter(keep).select(cols)
        win_buckets = [self._bucket_of(k, nb) for k in winners.column(self.key_col).to_pylist()]
        upsert_buckets = pa.array(win_buckets, pa.int32()).filter(keep)
        touched = {str(b) for b in win_buckets}
        base = {b: self._arrow_dataset(base_map[b]) for b in touched if b in base_map}
        n_read += sum(d.count_rows() for d in base.values())
        if n_read > bound:
            raise _Declined(f"the rewrite reads {n_read} rows, over the {bound}-row bound")
        touched_keys = winners.column(self.key_col).combine_chunks()
        out = {}
        for b in sorted(touched, key=int):
            parts = [upserts.filter(pc.equal(upsert_buckets, int(b)))]
            if b in base:
                prev = exact(base[b].to_table(columns=cols), target)
                parts.insert(
                    0,
                    prev.filter(
                        pc.invert(pc.is_in(prev.column(self.key_col), value_set=touched_keys))
                    ),
                )
            tbl = pa.concat_tables(parts)
            if tbl.num_rows:
                out[b] = tbl  # a bucket emptied by deletes gets no dir
        for b, tbl in out.items():
            self._arrow_write_table(os.path.join(state_path, f"{_BUCKET_COL}={b}"), tbl)
        if changes_path is not None and change_rows:
            self._arrow_write_table(changes_path, batch)
        n_events = self._write_driver_sides(
            ds, sides, events_path, replies_path, records_path
        )
        return n_events, schema_json, touched

    # -- merge-on-read helpers -----------------------------------------------

    @staticmethod
    def _session_key(spark: SparkSession):
        """Stable identity for the UNDERLYING JVM session. foreachBatch
        hands a fresh Python SparkSession wrapper every trigger, so
        ``id(spark)`` / ``is`` checks would miss the memo on every
        micro-batch and rebuild the read_state plan each trigger. The JVM
        object's identity hashCode is the same across wrappers of one
        session and differs across cloned sessions; a frame memoized under
        wrapper A is valid for wrapper B iff their JVM session is the same
        object."""
        try:
            return spark._jsparkSession.hashCode()
        except Exception:  # noqa: BLE001 — e.g. mocked/connect sessions
            return id(spark)

    @staticmethod
    def _same_jvm_session(a: SparkSession, b: SparkSession) -> bool:
        """True iff two wrappers share one JVM session object. The memo
        key's identity hashCode is NOT unique across a stopped-and-
        restarted session, so every memo hit re-checks the stored wrapper
        against the caller — a collision must read as a miss, never serve
        a stale session's frame (its JVM refs are dead)."""
        try:
            return bool(a._jsparkSession.equals(b._jsparkSession))
        except Exception:  # noqa: BLE001 — mocked/connect sessions
            return a is b

    def _memo_dir_frame(self, spark: SparkSession, key: tuple, build) -> DataFrame | None:
        """Session-keyed memo of raw directory frames (immutable dirs);
        bounded so a long-lived engine doesn't accumulate plan objects.
        Callers bake ``_session_key(spark)`` into ``key``; a hit also
        re-checks the stored wrapper's JVM session against the caller's
        (see _same_jvm_session — identity hashCodes can collide across a
        session restart)."""
        with self._memo_lock:
            cached = self._dir_frames.get(key)
            if cached is not None and self._same_jvm_session(cached[0], spark):
                return cached[1]
            df = build()
            if df is not None:
                self._dir_frames[key] = (spark, df)
                if len(self._dir_frames) > 64:
                    for k in list(self._dir_frames)[:-64]:
                        self._dir_frames.pop(k, None)
            return df

    # anchored to the version dir + delta dirname: an unanchored v\d{12}-
    # would first-match a store ROOT component that happens to look like
    # one (e.g. /data/v202608141201-prod/store) and collapse every delta
    # to the same ordinal — latest-wins would then pick arbitrarily
    _DELTA_V_RE = r"v(\d{12})-[0-9a-f]{8}/state-delta"
    # Spark-side twin: regexp_extract returns the FIRST find, so a greedy
    # .* prefix pushes the match to the LAST occurrence — same pick as the
    # fallback's findall()[-1], so flat-scan and per-dir ordinals can never
    # disagree when the store ROOT itself contains a lookalike component
    # (e.g. …/v000000000007-abcdef01/state-delta-archive/store/…)
    _DELTA_V_SQL_RE = r".*v(\d{12})-[0-9a-f]{8}/state-delta"

    @classmethod
    def _delta_version(cls, path: str) -> int:
        """Commit version embedded in a delta dir's version-directory name
        — the latest-wins ordinal (strictly increasing with commit order,
        always > the base's -1, always < the committing version)."""
        import re

        ms = re.findall(cls._DELTA_V_RE, path.replace("\\", "/"))
        return int(ms[-1]) if ms else 0

    def _deltas_scan(
        self, spark: SparkSession, entries: list[dict]
    ) -> DataFrame | None:
        """ALL delta dirs as ``state columns + __deleted + __v`` in ONE
        multi-path scan — the plan stays constant-size however deep the
        delta chain is (a per-delta union re-analyzes eagerly per chained
        op in classic mode; measured: read_state plan build grew
        0.25→1.1 s over 8 delta versions before this). ``__v`` is the
        writing commit's version, parsed from the file path. Deltas are
        flat, micro-batch-sized and at most delta_commits deep, so they
        are always scanned whole. Falls back to a per-dir union when delta
        schemas drifted (rare: an engine upgrade mid-chain)."""
        live = [e for e in entries if os.path.isdir(e["path"])]
        if not live:
            return None
        if all(e["schema"] == live[0]["schema"] for e in live):
            st = T.StructType.fromJson(json.loads(live[0]["schema"]))
            read_schema = T.StructType(
                list(st.fields) + [T.StructField("__deleted", T.BooleanType())]
            )
            df = spark.read.schema(read_schema).parquet(*[e["path"] for e in live])
            return df.select(*[f.name for f in st.fields], "__deleted").withColumn(
                "__v",
                F.regexp_extract(
                    F.input_file_name(), self._DELTA_V_SQL_RE, 1
                ).cast("long"),
            )
        import functools

        parts = []
        for e in live:
            st = T.StructType.fromJson(json.loads(e["schema"]))
            read_schema = T.StructType(
                list(st.fields) + [T.StructField("__deleted", T.BooleanType())]
            )
            parts.append(
                spark.read.schema(read_schema)
                .parquet(e["path"])
                .select(*[f.name for f in st.fields], "__deleted")
                .withColumn("__v", F.lit(self._delta_version(e["path"])))
            )
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    @staticmethod
    def _latest_wins(
        parts: list[DataFrame],
        key_col: str,
        cols: list[str],
        partitions: int | None = None,
    ) -> DataFrame:
        """Merge base + delta parts to one row per key: the row with the
        highest ``__v`` wins (one aggregate pass — max_by(struct, __v), no
        window sort). Caller filters ``__r.__deleted`` and projects.

        ``partitions`` pre-shuffles the union to that many key-hash
        partitions so the aggregate (and everything downstream keyed the
        same way — the command engine's fold join) runs at micro-batch
        width instead of the session's spark.sql.shuffle.partitions (AQE
        is OFF inside foreachBatch, so the session count — sized for
        analytics — otherwise applies: measured 4 exchanges / 5 stages on
        a 128-row batch). The aggregate reuses the repartition's hash
        clustering, so this is ONE exchange, not two; output stays
        hash-partitioned on the key for exchange-free downstream joins."""
        import functools

        others = [c for c in cols if c != key_col] + ["__deleted"]
        u = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        if partitions:
            u = u.repartition(partitions, F.col(key_col))
        return u.groupBy(key_col).agg(
            F.max_by(F.struct(*[F.col(c) for c in others]), F.col("__v")).alias("__r")
        )

    def _merged_state_frame(
        self,
        spark: SparkSession,
        m: dict,
        partitions: int | None = None,
    ) -> DataFrame | None:
        """Latest-wins view over base buckets + deltas of one manifest. The
        flat deltas' memoized scan frame is shared across versions. None if
        the manifest names no base bucket and no live delta dir."""
        schema = T.StructType.fromJson(json.loads(m["state_schema"]))
        cols = [f.name for f in schema.fields]
        base_paths = list(self._state_paths(m).values())
        parts: list[DataFrame] = []
        if base_paths:
            base_key = (self._session_key(spark), tuple(sorted(base_paths)), m["state_schema"])
            base = self._memo_dir_frame(
                spark, base_key, lambda: spark.read.schema(schema).parquet(*base_paths)
            )
            parts.append(
                base.withColumn("__deleted", F.lit(False)).withColumn("__v", F.lit(-1))
            )
        d = self._deltas_frame(spark, m.get("state_deltas", []))
        if d is not None:
            parts.append(d)
        if not parts:
            return None
        agg = self._latest_wins(parts, self.key_col, cols, partitions=partitions)
        return agg.where(~F.col("__r.__deleted")).select(
            *[
                F.col(self.key_col) if c == self.key_col else F.col(f"__r.{c}").alias(c)
                for c in cols
            ]
        )

    def _deltas_frame(self, spark: SparkSession, entries: list[dict]) -> DataFrame | None:
        """Memoized _deltas_scan of a delta chain (None for no deltas)."""
        if not entries:
            return None
        key = (self._session_key(spark), tuple(e["path"] for e in entries))
        return self._memo_dir_frame(spark, key, lambda: self._deltas_scan(spark, entries))

    # the Spark rewrite (_fold_backlog + _cow_merge + the bucketed write in
    # commit) — the one fallback of _driver_rewrite
    def _fold_backlog(
        self,
        spark: SparkSession,
        prev_deltas: list[dict],
        state_updates: DataFrame,
        dele: DataFrame | None,
        state_schema_json: str,
        version: int,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Compaction's effective (updates, deletes): latest-wins across the
        accumulated deltas plus this batch's own updates/tombstones, which
        get the committing version as their ordinal — strictly greater than
        any delta dir's path version. Unchanged when there is nothing to
        fold."""
        schema_struct = T.StructType.fromJson(json.loads(state_schema_json))
        cols = [f.name for f in schema_struct.fields]
        parts = []
        backlog = self._deltas_scan(spark, prev_deltas)
        if backlog is not None:
            parts.append(backlog)
        batch = self._updates_with_tombstones(state_updates, dele, state_schema_json)
        if batch is not None:
            parts.append(batch.withColumn("__v", F.lit(version)))
        if not parts:
            return state_updates, dele
        agg = self._latest_wins(parts, self.key_col, cols)
        updates = agg.where(~F.col("__r.__deleted")).select(
            *[
                F.col(self.key_col) if c == self.key_col else F.col(f"__r.{c}").alias(c)
                for c in cols
            ]
        )
        deletes = agg.where(F.col("__r.__deleted")).select(
            F.col(self.key_col).cast("string").alias(self.key_col)
        )
        return updates, deletes

    def _cow_merge(
        self,
        spark: SparkSession,
        state_updates: DataFrame,
        dele: DataFrame | None,
        updates_unique: bool,
        nb: int,
        prev_manifest: dict,
        state_schema_json: str,
    ) -> tuple[set[str], DataFrame]:
        """(touched bucket ids, rows to write) for a rewriting commit: one
        small collect job finds the buckets the batch's updated/deleted
        keys hash into; their previous rows survive unless updated or
        deleted, and the batch's updates join them."""
        upd = state_updates.select(F.col(self.key_col).cast("string").alias(self.key_col))
        if not updates_unique:
            # the anti-join only tests membership, but the touched-bucket
            # distinct below assumes a bounded key frame; when the caller
            # guarantees one row per key the dedup exchange is pure
            # overhead (AQE is off inside foreachBatch, so it would run at
            # the full session shuffle-partition count)
            upd = upd.distinct()
        touched_keys = upd if dele is None else upd.unionByName(dele).distinct()
        touched_keys = touched_keys.where(F.col(self.key_col).isNotNull())
        touched = {
            str(r[0])
            for r in touched_keys.select(self._bucket_expr(nb).alias("b"))
            .distinct()
            .collect()
        }
        paths = self._state_paths(prev_manifest)
        prev_paths = [paths[b] for b in touched if b in paths]
        if not prev_paths:
            return touched, state_updates
        prev_schema = T.StructType.fromJson(
            json.loads(prev_manifest.get("state_schema", state_schema_json))
        )
        prev_touched = spark.read.schema(prev_schema).parquet(*prev_paths)
        # broadcast anti-join: previous rows of touched buckets whose key is
        # NOT updated/deleted survive. Null-safe (a NULL key never equals a
        # touched key, so null-key rows survive) — unlike the NOT-IN literal
        # filter this replaces.
        survivors = prev_touched.join(
            F.broadcast(
                touched_keys.select(F.col(self.key_col).alias("__touched_key"))
            ),
            prev_touched[self.key_col].cast("string") == F.col("__touched_key"),
            "left_anti",
        )
        return touched, survivors.unionByName(state_updates)

    def commit(
        self,
        events: DataFrame | None,
        state_updates: DataFrame | LazyFrames,
        batch_id: str,
        replies: DataFrame | None = None,
        delete_keys: list | DataFrame | None = None,
        records: DataFrame | None = None,
        updates_unique: bool = False,
        replies_dir: str | None = None,
        driver_sides: dict | None = None,
    ) -> bool:
        """Atomically commit one micro-batch: append events, merge state
        updates into their key-hash buckets, publish a manifest. Returns
        False (no-op) if batch_id was already committed (R4 dedup).

        ``delete_keys``: keys to REMOVE from the snapshot (state → None
        tombstones); list or single-column DataFrame. A key must not appear
        in both ``state_updates`` and ``delete_keys``.
        ``records``: raw outbound producer records (the persistRecord
        surface, Context.scala:13-14) — appended like events, readable via
        read_records.
        ``driver_sides``: pre-collected typed row dicts for every side
        (keys ``state``/``deletes``/``events``/``replies``/``records`` +
        their ``*_struct`` StructTypes) — the engine passes them for
        driver-safe batch sizes so the commit writes ALL its parquet
        driver-side via pyarrow (zero Spark write jobs; measured ~0.2 s/job
        floor): an append writes its delta, a rewriting commit (first,
        copy-on-write or compacting) merges into the touched buckets
        (_driver_rewrite). Honored only when the batch fits
        ``driver_sides["max_rows"]`` and every schema is exactly-coercible
        primitives; any mismatch falls back to the Spark writes from the
        frames, which remain the semantic source of truth, and the
        manifest's ``fallback`` records why. The DataFrame params must
        still be passed — they are the fallback — either directly or as a
        ``LazyFrames`` in ``state_updates``, which builds them only when the
        fallback runs.
        ``replies_dir``: publish the replies THERE instead of inside the
        version directory (and record that path in the manifest) — lets a
        streaming deployment's gateway reply channel be the commit's own
        write instead of a second copy. The write lands in a deterministic
        ``.staging`` sibling and is renamed into place only after the
        manifest publishes, so a polling gateway can never observe acks
        for an uncommitted batch (commit precedes ack); an interrupted
        rename is healed by replies_for_batch / run_stream recovery. The
        dir is then subject to the caller's retention (prune_replies), not
        version vacuum; a pruned dir simply ages the batch out of reply
        recovery, which the dedup_horizon does anyway.
        ``updates_unique``: set True when the caller guarantees at most one
        row per key in ``state_updates`` (the engine's fold does) — skips
        the per-key dedup that otherwise enforces the snapshot's
        one-row-per-key invariant. Without the guarantee, duplicate-key
        update frames are deduped (arbitrary survivor); callers needing
        ordered latest-per-key semantics should pre-fold with
        operators.eventsourcing.latest_per_key (A2).
        """
        if str(batch_id) in self.committed_batch_ids():
            return False
        lazy = state_updates if isinstance(state_updates, LazyFrames) else None
        if lazy is not None:
            # which sides exist is known now; the frames are built only on
            # the Spark-writes branch below
            events, replies, records = (
                lazy if s in lazy.sides else None
                for s in ("events", "replies", "records")
            )
        prev = self.latest_version()
        version = (prev + 1) if prev is not None else 0
        prev_manifest = self._manifest(prev) if prev is not None else None
        nb = self._num_buckets(prev_manifest)
        # writer-unique staging dir: a concurrent committer targeting the
        # same version writes to its OWN directory, so losing the manifest
        # race (below) can never corrupt the winner's data — the loser's
        # directory is simply orphaned (vacuum reclaims it)
        token = uuid.uuid4().hex[:8]
        vdir = os.path.join(self.path, f"v{version:012d}-{token}")
        events_path = os.path.join(vdir, "events")
        state_path = os.path.join(vdir, "state")
        # external reply dir: WRITE to a deterministic staging sibling and
        # rename into place only AFTER the manifest publishes — the gateway
        # polls for the final dir's existence, so acks must never become
        # visible for a batch whose commit can still fail (commit precedes
        # ack). The manifest records the FINAL path; if a crash lands
        # between manifest link and rename, replies_for_batch self-heals by
        # finishing the rename (staging name is derived, not random).
        prev_buckets: dict[str, str] = (
            dict(self._state_paths(prev_manifest)) if prev_manifest else {}
        )
        prev_deltas: list[dict] = (
            list(prev_manifest.get("state_deltas", [])) if prev_manifest else []
        )
        # merge-on-read: append a delta while fewer than delta_commits have
        # accumulated; the commit that would exceed the cap (or any commit
        # by a non-delta-mode writer against a store with pending deltas)
        # compacts instead — folds every delta plus this batch into the
        # rewrite below, so the base buckets and delta list reset together.
        delta_write = (
            bool(self.delta_commits)
            and prev_manifest is not None
            and len(prev_deltas) < self.delta_commits
        )
        replies_external = replies_dir is not None
        replies_final = (
            os.path.join(vdir, "replies") if replies_dir is None else replies_dir
        )
        replies_path = (
            _reply_staging_path(replies_final, token)
            if replies_external
            else replies_final
        )
        records_path = os.path.join(vdir, "records")

        # the events/replies/records appends are independent of the state
        # merge and of each other (separate output dirs): run them as
        # concurrent Spark jobs so a micro-batch commit pays ONE round of
        # job-scheduling + committer latency, not four back-to-back. The
        # manifest below still publishes only after every write returned, so
        # commit atomicity is unchanged (a failure leaves an orphaned
        # staging dir for vacuum, exactly as in the serial form).
        # events/records ride an Observation so their row count falls out
        # of the write job itself (no extra job): an empty side's dir is
        # dropped after the write and its manifest entry nulled — without
        # this, an engine that commits sides unconditionally (the command
        # engine does) would leave one empty events dir per version for
        # read_events to list forever.
        from pyspark.sql import Observation

        side_writes = []
        pool = ThreadPoolExecutor(max_workers=4)
        n_events = 0
        ev_obs = rec_obs = ch_obs = None
        changes_path = os.path.join(vdir, "changes")
        delta_path = os.path.join(vdir, "state-delta")
        # driver-side small-batch writes (the write twin of the arrow point
        # read): a delta append writes its delta, a rewrite folds the batch
        # and any deltas into the touched base buckets (_driver_rewrite),
        # and both write events/replies/records — only when every gate holds
        # and every value coerces exactly. Any decline or failure cleans
        # its partial dirs, is recorded as the manifest's ``fallback``, and
        # falls back to the Spark write jobs below, which are the source of
        # truth for semantics.
        driver_written = False
        delta_written = False
        driver_schema_json: str | None = None
        touched: set[str] = set()  # base buckets this commit rewrites
        fallback: str | None = None
        if driver_sides is not None:
            ev_p = events_path if events is not None else None
            rep_p = replies_path if replies is not None else None
            rec_p = records_path if records is not None else None
            try:
                if delta_write:
                    n_events, delta_written, driver_schema_json = (
                        self._driver_commit_writes(
                            driver_sides, delta_path, ev_p, rep_p, rec_p,
                            prev_manifest, updates_unique=updates_unique,
                        )
                    )
                else:
                    n_events, driver_schema_json, touched = self._driver_rewrite(
                        driver_sides, nb, prev_buckets, prev_deltas,
                        state_path, changes_path if self.change_feed else None,
                        ev_p, rep_p, rec_p, updates_unique,
                    )
                driver_written = True
                if n_events == 0:
                    events = None
                if not (driver_sides.get("records") or []):
                    records = None
            except Exception as e:  # noqa: BLE001 — exact fallback, never guess
                fallback = (
                    str(e) if isinstance(e, _Declined) else f"{type(e).__name__}: {e}"
                )[:300]
                for p in (
                    delta_path, state_path, changes_path,
                    events_path, records_path, replies_path,
                ):
                    shutil.rmtree(p, ignore_errors=True)
                delta_written = False
                touched = set()
                n_events = 0
        if not driver_written:
            if lazy is not None:
                frames = lazy.build()
                state_updates, delete_keys = frames["state_updates"], frames["delete_keys"]
                events, replies, records = (
                    frames[s] if side is not None else None
                    for s, side in (
                        ("events", events), ("replies", replies), ("records", records)
                    )
                )
            if events is not None:
                ev_obs = Observation()
                ev_df = events.observe(ev_obs, F.count(F.lit(1)).alias("n"))
                side_writes.append(
                    pool.submit(ev_df.write.mode("overwrite").parquet, events_path)
                )
                n_events = -1  # replaced by the observed count below
            if replies is not None:
                side_writes.append(
                    pool.submit(replies.write.mode("overwrite").parquet, replies_path)
                )
            if records is not None:
                rec_obs = Observation()
                rec_df = records.observe(rec_obs, F.count(F.lit(1)).alias("n"))
                side_writes.append(
                    pool.submit(rec_df.write.mode("overwrite").parquet, records_path)
                )

        delta_df: DataFrame | None = None
        if driver_written:
            # everything the merge plan would build (tombstone frame, delta
            # frame, merged buckets) already sits on disk from the arrow
            # writes above; analyzing the lazy twins anyway costs 60-80 ms
            # of eager classic-mode re-analysis per micro-batch for nothing.
            state_schema_json = driver_schema_json
        else:
            with phase("commit.merge_plan"):
                spark = state_updates.sparkSession
                dele = self._keys_df(spark, delete_keys)
                if dele is not None:
                    dele = dele.where(F.col(self.key_col).isNotNull())
                if self.key_col in state_updates.columns:
                    # a NULL-key row would be written to the
                    # __HIVE_DEFAULT_PARTITION__ bucket, which the driver-side
                    # crc32 bucket math can never address: the row could
                    # never be read back (get_state), updated, or tombstoned,
                    # and the next commit writing another null-key row would
                    # replace the bucket map entry and silently drop it. The
                    # merge anti-join already treats null keys as
                    # un-matchable, so they are filtered at the gate
                    # (plan-side, no extra job).
                    state_updates = state_updates.where(
                        F.col(self.key_col).isNotNull()
                    )
                if not updates_unique and state_updates.schema.fields:
                    # enforce the one-row-per-key snapshot invariant on the
                    # update set itself (get_state/read_state assume it);
                    # arbitrary survivor — pre-fold with latest_per_key (A2)
                    # for ordered picks
                    state_updates = state_updates.dropDuplicates([self.key_col])
                state_schema_json = state_updates.schema.json()
                if not state_updates.schema.fields and prev_manifest is not None:
                    state_schema_json = prev_manifest.get(
                        "state_schema", state_schema_json
                    )
                # the batch's OWN updates/tombstones, captured BEFORE the
                # compaction folds the delta backlog into state_updates —
                # this is what a change-feed record for this version carries
                orig_updates, orig_dele = state_updates, dele
                if delta_write:
                    delta_df = self._updates_with_tombstones(
                        state_updates, dele, state_schema_json
                    )
                else:
                    if prev_deltas:
                        state_updates, dele = self._fold_backlog(
                            spark, prev_deltas, state_updates, dele,
                            state_schema_json, version,
                        )
                        updates_unique = True  # the merge emits one row per key
                    if prev_manifest is None:
                        content = state_updates  # first commit: all new
                    else:
                        touched, content = self._cow_merge(
                            spark, state_updates, dele, updates_unique, nb,
                            prev_manifest, state_schema_json,
                        )
        try:
            with phase("commit.state_write"):
                if delta_df is not None:
                    # deltas are FLAT (no bucket partitioning): a
                    # micro-batch's updates are batch-sized, and carving
                    # them into num_buckets dirs made every delta cost
                    # O(buckets) files to write, list, and scan. Point
                    # reads scan base-bucket + every live delta — bounded
                    # by delta_commits tiny dirs; compaction restores the
                    # fully bucketed layout. A copy-on-write store
                    # (delta_commits=None) writes no deltas: every commit
                    # is a bucketed rewrite, which suits backfill-sized
                    # batches, where bucket pruning pays.
                    # same Observation treatment as events/records: an
                    # all-rejected / no-state-change batch must not append
                    # an empty delta dir for every future read to list
                    # (no-change-no-write, PersistentActor:212)
                    delta_obs = Observation()
                    delta_df.observe(
                        delta_obs, F.count(F.lit(1)).alias("n")
                    ).write.mode("overwrite").parquet(delta_path)
                    delta_written = int(delta_obs.get["n"]) > 0
                    if not delta_written:
                        shutil.rmtree(delta_path, ignore_errors=True)
                elif not delta_write and not driver_written:
                    # change-feed record for a rewriting commit (first
                    # commit / COW / compaction): the batch's OWN changes
                    # in the delta-file shape, O(batch), concurrent with
                    # the bucket rewrite. Append commits need none — the
                    # delta dir IS the change record.
                    if self.change_feed:
                        ch_df = self._updates_with_tombstones(
                            orig_updates, orig_dele, state_schema_json
                        )
                        if ch_df is not None:
                            ch_obs = Observation()
                            side_writes.append(
                                pool.submit(
                                    ch_df.observe(
                                        ch_obs, F.count(F.lit(1)).alias("n")
                                    ).write.mode("overwrite").parquet,
                                    changes_path,
                                )
                            )
                    # one job writes every touched bucket (and any
                    # brand-new bucket an insert lands in); untouched
                    # buckets are never read. Hash-repartitioning on the
                    # bucket id lands each bucket's rows in exactly one
                    # task → one file per touched bucket, O(buckets) files
                    # forever, instead of ~tasks×buckets tiny files for the
                    # next commit to list and merge.
                    bucketed = content.withColumn(_BUCKET_COL, self._bucket_expr(nb))
                    bucketed.repartition(F.col(_BUCKET_COL)).write.partitionBy(
                        _BUCKET_COL
                    ).mode("overwrite").parquet(state_path)
            with phase("commit.side_writes_wait"):
                for w in side_writes:
                    w.result()  # surface any side-write failure BEFORE the manifest
        finally:
            pool.shutdown(wait=True)

        if ev_obs is not None:
            n_events = int(ev_obs.get["n"])
            if n_events == 0:
                shutil.rmtree(events_path, ignore_errors=True)
                events = None
        if rec_obs is not None and int(rec_obs.get["n"]) == 0:
            shutil.rmtree(records_path, ignore_errors=True)
            records = None
        if ch_obs is not None and int(ch_obs.get["n"]) == 0:
            shutil.rmtree(changes_path, ignore_errors=True)

        # change record for this version: an append commit's delta dir
        # doubles as it; a rewriting commit's explicit changes dir (only
        # under change_feed). Sentinels read_changes relies on:
        #   "<path>" — the record; "" — authoritatively NO state change
        #   this version; None/absent — no record exists (a COW commit
        #   without change_feed, or a pre-feed manifest) → reading a
        #   range over it is an error, not silent emptiness.
        changes_entry: str | None = None
        if delta_write:
            new_buckets = dict(prev_buckets)  # base untouched by an append
            new_deltas = list(prev_deltas)
            if delta_written:
                new_deltas.append(
                    {"path": delta_path, "schema": state_schema_json}
                )
                changes_entry = delta_path
            else:
                changes_entry = ""  # empty batch — delta mode always records
        else:
            new_deltas = []  # compaction folded any backlog into the base
            new_buckets = dict(prev_buckets)
            for b in touched:
                new_buckets.pop(b, None)  # emptied unless rewritten below
            if os.path.isdir(state_path):
                for d in os.listdir(state_path):
                    if d.startswith(f"{_BUCKET_COL}="):
                        b = d.split("=", 1)[1]
                        new_buckets[b] = os.path.join(state_path, d)
            if self.change_feed:
                changes_entry = (
                    changes_path
                    if os.path.isdir(changes_path)
                    else ""  # feed on, batch changed nothing
                )

        manifest = {
            "version": version,
            "batch_id": str(batch_id),
            "events": events_path if events is not None else None,
            "state_buckets": new_buckets,
            **({"state_deltas": new_deltas} if new_deltas else {}),
            "state_schema": state_schema_json,
            "num_buckets": nb,
            "replies": replies_final if replies is not None else None,
            # where THIS committer staged external replies — crash recovery
            # between manifest link and rename finishes the publication from
            # here (writer-unique, so never a loser's partial write)
            "replies_staging": (
                replies_path if (replies_external and replies is not None) else None
            ),
            "records": records_path if records is not None else None,
            "changes": changes_entry,
            "n_events": n_events,
            # the commit's write path (Delta's commitInfo analog): "driver"
            # = pyarrow writes, "spark" = Spark write jobs; ``fallback`` says
            # why offered driver_sides were not used
            "writes": "driver" if driver_written else "spark",
            **({"fallback": fallback} if fallback is not None else {}),
            "ts": time.time(),
        }
        self._link_manifest(version, manifest)
        if replies_external and replies is not None:
            # the manifest is durable: publish the acks atomically. A crash
            # before this rename is healed by replies_for_batch/run_stream
            # via the manifest's replies_staging pointer; overwrite any
            # stale target left by an older engine's direct write.
            _finish_reply_publication(replies_final, replies_path)
        self._manifest_cache[version] = manifest
        self._batch_id_cache[version] = str(batch_id)
        self._version_by_batch.setdefault(str(batch_id), version)
        self._latest_seen = max(self._latest_seen, version)
        if self.checkpoint_interval and (version + 1) % self.checkpoint_interval == 0:
            self._write_checkpoint(version)
        return True

    def _link_manifest(self, version: int, manifest: dict) -> None:
        """Publish ``manifest``: the commit point. Written to a temp file,
        then hard-linked to the version's name — exclusive link = fencing:
        a concurrent writer of the same version fails here (R5 analog of
        ProducerFencedException). The temp name is writer-unique, like every
        other temp file of the store: a shared one would let two committers
        of one version write the same inode, so the published manifest
        could be the fenced writer's, or the winner's unlink could remove
        the loser's file before its link."""
        tmp = f"{self._manifest_path(version)}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as e:
            raise RuntimeError(
                f"fenced: version {version} already committed by another writer"
            ) from e
        finally:
            os.unlink(tmp)

    # -- read paths ----------------------------------------------------------

    @staticmethod
    def _state_paths(m: dict) -> dict[str, str]:
        """Bucket→path map of a manifest. Raises ValueError on a manifest
        without one: the pre-bucketing layout (a single ``state`` path),
        which no reader or writer of this store supports."""
        if "state_buckets" not in m:
            raise ValueError(
                f"manifest v{m.get('version')} has no state_buckets: the "
                "pre-bucketing store layout is not supported"
            )
        return m["state_buckets"]

    def read_state(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: int | None = None,
        timestamp: float | None = None,
    ) -> DataFrame | None:
        """Latest committed snapshot (the KTable view, S1): the union of
        every bucket directory the manifest references. Returns None if no
        version was ever committed; an empty (all keys deleted) snapshot
        reads as an empty DataFrame with the stored schema.

        ``version`` time-travels to an older committed snapshot (the Delta
        ``versionAsOf`` analog — manifests are immutable and buckets are
        shared across versions, so an old version reads at full speed as
        long as vacuum() hasn't reclaimed its unshared buckets).
        ``timestamp`` (epoch seconds) is the ``timestampAsOf`` analog:
        resolves via version_at() to the latest version committed at or
        before that instant, then reads it; raises if the whole history
        is newer. Mutually exclusive with ``version``.

        ``partitions`` shapes the merge-on-read latest-wins aggregate (see
        _latest_wins) so the returned frame is hash-partitioned on the key
        at that width — the command engine passes its fold_partitions so
        the fold join adds zero exchanges. Ignored for a fully compacted
        (no-delta) snapshot, whose plain scan carries no partitioning to
        reuse."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            version = self.version_at(timestamp)
            if version is None:
                raise ValueError(
                    f"no committed version at or before {timestamp}"
                )
        v = self.latest_version() if version is None else int(version)
        if v is None:
            return None
        if version is not None and v not in self.committed_versions():
            raise ValueError(f"version {v} was never committed")
        key = (self._session_key(spark), v, partitions)
        with self._memo_lock:
            cached = self._read_state_frames.get(key)
            if cached is not None and self._same_jvm_session(cached[0], spark):
                return cached[1]
            m = self._manifest(v)
            schema = T.StructType.fromJson(json.loads(m["state_schema"]))
            # merge-on-read view when deltas exist, plain bucket scan
            # otherwise (``partitions`` shapes only the delta merge — a
            # compacted scan carries no partitioning to reuse)
            if m.get("state_deltas"):
                df = self._merged_state_frame(spark, m, partitions=partitions)
                if df is None:
                    df = spark.createDataFrame([], schema)
            else:
                paths = list(self._state_paths(m).values())
                if not paths:
                    # no rows at all: an empty typed frame, not memoized
                    return spark.createDataFrame([], schema)
                df = spark.read.schema(schema).parquet(*paths)
            self._read_state_frames[key] = (spark, df)
            if len(self._read_state_frames) > 8:
                for k in sorted(self._read_state_frames, key=lambda k: k[1])[:-8]:
                    self._read_state_frames.pop(k, None)
            return df

    # -- driver-side point read (pyarrow) -------------------------------------

    def _arrow_dataset(self, path: str):
        """Memoized pyarrow dataset over an immutable directory — repeat
        point reads skip the file listing and footer parse."""
        import pyarrow.dataset as pads

        with self._arrow_lock:
            got = self._arrow_dsets.get(path)
            if got is not None:
                return got
            d = pads.dataset(path, format="parquet")
            self._arrow_dsets[path] = d
            if len(self._arrow_dsets) > 256:
                for k in list(self._arrow_dsets)[:-256]:
                    self._arrow_dsets.pop(k, None)
            return d

    def _typed_key(self, schema: T.StructType, aggregate_id: str):
        """(matchable, typed_value) for pushing the key filter into a
        parquet scan with the SAME semantics as the Spark path's
        ``cast(key as string) == aggregate_id``: for integer key columns
        the string form of every stored value is canonical, so a
        non-canonical spelling ('05', '5.0', 'abc') can never match — a
        definitive miss, reported as matchable=False. Date and decimal
        keys extend the same trick (r7 VERDICT item 2): Spark renders
        dates as ISO 'yyyy-MM-dd' and decimal(p,s) at exactly scale s
        (BigDecimal.toPlainString), both canonical, so re-rendering the
        parsed value and comparing to the input decides hit-vs-miss
        definitively. Truly ambiguous key types (float/timestamp, whose
        string forms are not round-trip canonical across engines) raise
        NotImplementedError so the caller falls back to the Spark scan."""
        if self.key_col not in schema.fieldNames():
            raise NotImplementedError("key column absent from state schema")
        dt = schema[self.key_col].dataType
        s = str(aggregate_id)
        if isinstance(dt, T.StringType):
            return True, s
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            try:
                iv = int(s)
            except ValueError:
                return False, None
            if str(iv) != s:
                return False, None
            return True, iv
        if isinstance(dt, T.DateType):
            import datetime

            try:
                d = datetime.date.fromisoformat(s)
            except ValueError:
                return False, None
            if d.isoformat() != s:  # py3.11 fromisoformat accepts laxer forms
                return False, None
            return True, d
        if isinstance(dt, T.DecimalType):
            import decimal

            try:
                dec = decimal.Decimal(s)
                qd = dec.quantize(decimal.Decimal(1).scaleb(-dt.scale))
            except (decimal.InvalidOperation, ValueError):
                return False, None  # unparseable, NaN/Inf, or needs more scale
            if qd != dec or format(qd, "f") != s:
                return False, None
            if qd.is_zero() and s.startswith("-"):
                # Spark/BigDecimal zero is unsigned: stored '-0.00' renders
                # '0.00', so the '-' spelling is a definitive miss
                return False, None
            return True, qd
        raise NotImplementedError(f"unsupported key type {dt} for arrow point read")

    def _multi_point_read_arrow(
        self, m: dict, keys: list[str]
    ) -> dict[str, dict | None]:
        """Point reads as a storage-side indexed fetch, zero Spark jobs —
        get_state's one-key read and the driver-side fold's actor-init
        read. The reference answers getState from a KTable (RocksDB point
        lookup); a distributed engine job is the wrong tool for a few-key
        read. ONE dataset read per TOUCHED base bucket (one file, by the
        commit's pre-shuffle discipline) plus one pass over each flat
        delta, each with an isin filter pushed into the parquet scan
        (row-group statistics + dictionary pruning skip everything else).
        Latest-wins per key across base/deltas, semantics pinned equal to
        the Spark scan. Raises on any key type the arrow path doesn't
        cover (float/timestamp keys, missing key column) — the caller
        falls back to Spark."""
        import pyarrow.dataset as pads

        schema = T.StructType.fromJson(json.loads(m["state_schema"]))
        cols = [f.name for f in schema.fields]
        out: dict[str, dict | None] = {}
        typed: dict[str, object] = {}
        for k in dict.fromkeys(str(k) for k in keys):
            matchable, kv = self._typed_key(schema, k)
            if matchable:
                typed[k] = kv
            else:
                out[k] = None  # non-canonical spelling: definitive miss
        if not typed:
            return out
        # typed value -> key string; injective because _typed_key only
        # accepts canonical spellings (two distinct strings can never type
        # to the same value)
        by_val = {v: k for k, v in typed.items()}
        nb = int(m.get("num_buckets", self.default_num_buckets))
        buckets_map = self._state_paths(m)
        cands: dict[str, list] = {k: [] for k in typed}
        key_field = pads.field(self.key_col)
        groups: dict[str, list] = {}
        for k, v in typed.items():
            bp = buckets_map.get(str(self._bucket_of(k, nb)))
            if bp:
                groups.setdefault(bp, []).append(v)
        for path, vals in groups.items():
            if not os.path.isdir(path):
                continue
            tbl = self._arrow_dataset(path).to_table(filter=key_field.isin(vals))
            for r in tbl.to_pylist():
                kk = by_val.get(r.get(self.key_col))
                if kk is not None:
                    cands[kk].append((-1, False, r))
        all_vals = list(typed.values())
        for e in m.get("state_deltas", []):
            if not os.path.isdir(e["path"]):
                continue
            dv = self._delta_version(e["path"])
            tbl = self._arrow_dataset(e["path"]).to_table(
                filter=key_field.isin(all_vals)
            )
            for r in tbl.to_pylist():
                kk = by_val.get(r.get(self.key_col))
                if kk is not None:
                    # schema drift across deltas: missing columns read as
                    # None, same as unionByName(allowMissingColumns)
                    cands[kk].append((dv, bool(r.get("__deleted")), r))
        for k, lst in cands.items():
            if not lst:
                out[k] = None
                continue
            _, deleted, row = max(lst, key=lambda t: t[0])
            out[k] = None if deleted else {c: row.get(c) for c in cols}
        return out

    def get_state(
        self, spark: SparkSession, aggregate_id: str, version: int | None = None
    ) -> dict | None:
        """Point read (S2 / §3.2 getState): bucket-pruned — computes the
        key's bucket driver-side (zlib.crc32) and fetches only that bucket's
        files, O(snapshot/num_buckets) instead of O(snapshot). ``version``
        time-travels like read_state.

        Fast path: a driver-side pyarrow fetch with the key pushed into the
        parquet scan (_multi_point_read_arrow) — no Spark job at all, the
        KTable-point-lookup analog. The Spark scan below is the fallback for key
        types/layouts the arrow path doesn't cover; both paths are pinned
        equal by test."""
        v = self.latest_version() if version is None else int(version)
        if v is None:
            return None
        if version is not None and v not in self.committed_versions():
            raise ValueError(f"version {v} was never committed")
        m = self._manifest(v)
        try:
            return self._multi_point_read_arrow(m, [aggregate_id])[str(aggregate_id)]
        except Exception:  # noqa: BLE001 — the Spark scan below is the
            # exact documented fallback, and arrow failure modes are wider
            # than ImportError/NotImplementedError: a schema-drifted delta
            # whose physical key type rejects the scalar cast raises
            # ArrowInvalid, a truncated footer OSError — all cases the
            # Spark path answers correctly (equality pinned by test), so
            # none may crash a gateway point read
            pass
        return self._point_read_spark(spark, m, aggregate_id)

    def _point_read_spark(
        self, spark: SparkSession, m: dict, aggregate_id: str
    ) -> dict | None:
        """Spark-job point read — the fallback for key types/layouts the
        arrow fast path doesn't cover; pinned equal to it by test. The base
        stays bucket-pruned; the flat deltas (micro-batch-sized, ≤
        delta_commits of them) are scanned key-filtered. No latest-wins
        aggregate — at most one row per key per part comes back, so the
        max-ordinal pick happens driver-side on ≤ delta_commits+1 rows: ONE
        scan job, zero shuffles."""
        buckets = self._state_paths(m)
        bucket = str(self._bucket_of(aggregate_id, int(m["num_buckets"])))
        schema = T.StructType.fromJson(json.loads(m["state_schema"]))
        cols = [f.name for f in schema.fields]
        parts = []
        base_path = buckets.get(bucket)
        if base_path is not None:
            bkey = (self._session_key(spark), base_path, m["state_schema"], "pt")
            base = self._memo_dir_frame(
                spark, bkey, lambda: spark.read.schema(schema).parquet(base_path)
            )
            parts.append(
                base.withColumn("__deleted", F.lit(False)).withColumn(
                    "__v", F.lit(-1).cast("long")
                )
            )
        d = self._deltas_frame(spark, m.get("state_deltas", []))
        if d is not None:
            parts.append(d)
        if not parts:
            return None
        import functools

        u = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        rows = u.where(
            F.col(self.key_col).cast("string") == str(aggregate_id)
        ).collect()
        if not rows:
            return None
        best = max(rows, key=lambda r: r["__v"])
        if best["__deleted"]:
            return None
        return {c: best[c] for c in cols}

    def replies_for_batch(self, spark: SparkSession, batch_id: str) -> DataFrame | None:
        """ACK rows committed with ``batch_id`` — lets a replayed batch
        recover its replies instead of refolding commands (§3.1.9 under
        at-least-once foreachBatch delivery). Dict lookup against the
        checkpoint-seeded batch→version index, then ONE manifest read — not
        the pre-checkpoint linear scan of every committed version. Batches
        older than ``dedup_horizon`` age out of the index (a replay is
        always of the most recent batch; see __init__)."""
        self.committed_batch_ids()  # ensure the index covers post-ckpt versions
        v = self._version_by_batch.get(str(batch_id))
        if v is None:
            return None
        m = self._manifest(v)
        if not m.get("replies"):
            return None
        # a crash between manifest link and external-reply rename leaves the
        # acks in the committer's staging dir (recorded in the manifest) —
        # finish the publication before reading (idempotent)
        if not os.path.exists(m["replies"]) and m.get("replies_staging"):
            _finish_reply_publication(m["replies"], m["replies_staging"])
        if os.path.exists(m["replies"]):
            return spark.read.parquet(m["replies"])
        return None

    def replies_location(self, batch_id: str) -> str | None:
        """Where ``batch_id``'s replies were committed (None if unknown) —
        lets run_stream's replay recovery skip rewriting acks that the
        commit already wrote to the gateway's own reply dir."""
        self.committed_batch_ids()
        v = self._version_by_batch.get(str(batch_id))
        if v is None:
            return None
        return self._manifest(v).get("replies")

    def ensure_replies_published(self, batch_id: str) -> None:
        """Finish a crash-interrupted external-reply publication for
        ``batch_id`` (idempotent no-op when already published / internal)."""
        self.committed_batch_ids()
        v = self._version_by_batch.get(str(batch_id))
        if v is None:
            return
        m = self._manifest(v)
        if (
            m.get("replies")
            and not os.path.exists(m["replies"])
            and m.get("replies_staging")
        ):
            _finish_reply_publication(m["replies"], m["replies_staging"])

    def read_changes(
        self,
        spark: SparkSession,
        start_version: int = 0,
        end_version: int | None = None,
    ) -> DataFrame | None:
        """Change data feed (the Delta CDF / Hudi incremental-query
        analog): one row per upsert/tombstone committed in versions
        [start_version, end_version], as the state schema plus
        ``_change_type`` ('upsert' | 'delete') and ``_version``. Append
        commits' delta dirs ARE their change records (free); rewriting
        commits carry one only when the store was built with
        ``change_feed=True`` — a version in range with NO record raises
        (silently returning nothing would corrupt a downstream consumer).
        Per-version reads unioned: a CDC consumer's range is bounded
        (committed-offset to head), so plan size tracks the range, not
        store history. Returns None only for a never-committed store; a
        caught-up consumer (start past head) or a range of empty batches
        gets an EMPTY typed frame."""
        import functools

        latest = self.latest_version()
        if latest is None:
            return None
        start = int(start_version)
        if start < 0:
            raise ValueError(f"start_version must be >= 0, got {start}")
        end = latest if end_version is None else int(end_version)
        if end > latest or (end_version is not None and end < 0):
            # a negative end is a caller sign/underflow bug — reporting it
            # as "no changes" is exactly the silent-corruption mode this
            # function refuses elsewhere
            raise ValueError(f"version {end} was never committed")
        def empty_feed() -> DataFrame:
            # caught-up consumer (start past head) or a range of genuinely
            # empty batches: an EMPTY typed frame, distinguishable from
            # the never-committed-store None sentinel
            st = T.StructType.fromJson(
                json.loads(self._manifest(latest)["state_schema"])
            )
            return spark.createDataFrame(
                [],
                T.StructType(
                    list(st.fields)
                    + [
                        T.StructField("_version", T.LongType()),
                        T.StructField("_change_type", T.StringType()),
                    ]
                ),
            )

        if start > end:
            return empty_feed()
        parts: list[DataFrame] = []
        missing: list[int] = []
        for v in range(start, end + 1):
            m = self._manifest(v)
            p = m.get("changes")
            if p is None:
                # pre-feed manifest: an append commit's own delta dir can
                # still be located by its path-embedded version
                for ent in m.get("state_deltas", []):
                    if self._delta_version(ent["path"]) == v:
                        p = ent["path"]
                        break
            if p == "":
                continue  # authoritatively empty batch
            if p is None or not os.path.isdir(p):
                # no record ever written, or the record was vacuumed away
                # with its version's state dirs — either way the feed has
                # a hole here and silence would corrupt a consumer
                missing.append(v)
                continue
            st = T.StructType.fromJson(json.loads(m["state_schema"]))
            read_schema = T.StructType(
                list(st.fields) + [T.StructField("__deleted", T.BooleanType())]
            )
            parts.append(
                spark.read.schema(read_schema)
                .parquet(p)
                .select(*[f.name for f in st.fields], "__deleted")
                .withColumn("_version", F.lit(v).cast("long"))
            )
        if missing:
            raise ValueError(
                f"versions {missing} have no readable change record "
                "(rewriting commits record changes only under "
                "change_feed=True, and vacuum reclaims records older than "
                "its retention along with their versions' state dirs)"
            )
        if not parts:
            return empty_feed()
        u = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        return u.withColumn(
            "_change_type",
            F.when(F.col("__deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
        ).drop("__deleted")

    # Spark-side version parse for the STREAM of change records: append
    # commits' state-delta dirs and rewriting commits' changes dirs both
    # embed the committing version in their version-directory name; the
    # greedy prefix pushes the match to the LAST occurrence, same
    # root-lookalike defense as _DELTA_V_SQL_RE.
    _CHANGE_V_SQL_RE = r".*v(\d{12})-[0-9a-f]{8}/(?:state-delta|changes)"

    @staticmethod
    def _version_floor_globs(floor: int) -> list[str]:
        """Decompose {v : v >= floor} over the zero-padded 12-digit version
        into <= 12 character-class glob patterns (the standard numeric-
        range-to-glob split: for each digit position, fix the floor's
        prefix and allow a strictly-greater digit there, any suffix; the
        last position allows equality). Exactness is property-tested
        against fnmatch in tests/test_delta_store.py."""
        digits = f"{floor:012d}"
        pats: list[str] = []
        for i in range(11, -1, -1):
            lo = int(digits[i]) + (0 if i == 11 else 1)
            if lo <= 9:
                rng = f"[{lo}-9]" if lo < 9 else "9"
                pats.append(digits[:i] + rng + "[0-9]" * (11 - i))
        return pats

    def stream_changes(
        self,
        spark: SparkSession,
        max_files_per_trigger: int | None = None,
        start_version: int | None = None,
    ) -> DataFrame:
        """The change data feed as a CONTINUOUS source: the per-version
        record dirs (state-delta / changes) are an append-only file log,
        so a readStream over their glob IS the feed — new commits surface
        at the next trigger with no polling loop, and
        ``max_files_per_trigger`` is the W7 throttle. Columns: state
        schema + ``_version`` (parsed from the path), ``_change_type``
        ('upsert'|'delete'), ``_path`` (the source file — consumers use
        it to validate records against the manifest chain; see
        run_change_replication).

        ``start_version`` bounds the source glob to version dirs >= the
        floor (an exact character-class decomposition over the zero-padded
        version — see _version_floor_globs). Without it the glob matches
        every version dir ever committed, so a long-retention primary pays
        O(all-versions) matched files per trigger and the file source's
        seen-files log grows with the store's whole history; a consumer
        that persists its own progress (run_change_replication's hwm file)
        passes the floor so the per-trigger work is O(retained-since-
        floor).

        Requires one committed version (the stream needs a schema — the
        latest manifest's; a mid-stream state-schema migration needs a
        stream restart). Uncommitted/fenced writers' staging dirs DO
        match the glob — a consumer must validate each record's dir
        against the manifest chain before applying (run_change_replication
        does); retention contract is read_changes': vacuum must not
        outrun the consumer."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(
                "stream_changes needs at least one committed version "
                "(the stream's schema comes from the latest manifest)"
            )
        st = T.StructType.fromJson(
            json.loads(self._manifest(latest)["state_schema"])
        )
        read_schema = T.StructType(
            list(st.fields) + [T.StructField("__deleted", T.BooleanType())]
        )
        reader = spark.readStream.schema(read_schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        if start_version is not None and start_version > 0:
            pats = self._version_floor_globs(int(start_version))
            vdir = (
                f"v{pats[0]}-*"
                if len(pats) == 1
                else "{" + ",".join(f"v{p}-*" for p in pats) + "}"
            )
        else:
            vdir = "v[0-9]*-*"
        glob = os.path.join(self.path, vdir, "{state-delta,changes}")
        df = reader.parquet(glob)
        return (
            df.withColumn("_path", F.input_file_name())
            .withColumn(
                "_version",
                F.regexp_extract("_path", self._CHANGE_V_SQL_RE, 1).cast("long"),
            )
            .withColumn(
                "_change_type",
                F.when(F.col("__deleted"), F.lit("delete")).otherwise(
                    F.lit("upsert")
                ),
            )
            .drop("__deleted")
        )

    def _events_sidecar_path(self) -> str:
        return os.path.join(self.path, "_manifests", "_events_compacted.json")

    def _events_sidecar(self) -> dict | None:
        p = self._events_sidecar_path()
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read_events(self, spark: SparkSession) -> DataFrame | None:
        """Full append-only event log: the consolidated directory (if
        compact_events ran) plus every per-version event dir committed
        since. Without compaction this unions one tiny dir per commit —
        fine for thousands, the classic small-files problem for millions;
        run compact_events periodically at volume."""
        comp = self._events_sidecar()
        upto = comp["upto"] if comp else -1
        paths: list[str] = []
        if comp and os.path.exists(comp["path"]):
            paths.append(comp["path"])
        for v in self.committed_versions():
            if v <= upto:
                continue
            m = self._manifest(v)
            if m.get("events") and os.path.exists(m["events"]):
                paths.append(m["events"])
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def compact_events(self, spark: SparkSession, target_files: int = 4) -> int:
        """Delta-OPTIMIZE analog for the event log: every commit appends a
        tiny event directory (one per micro-batch), so over a store's life
        read_events degrades into a union of millions of small files. This
        rewrites the previous consolidated directory (if any) plus all
        event dirs committed since into ONE new consolidated directory of
        ``target_files`` files, publishes the ``_events_compacted.json``
        sidecar atomically, then reclaims the superseded sources. Events
        are never dropped — read_events output is identical before and
        after (pinned by test).

        Returns the number of per-version event dirs folded in (0 = no-op).
        Like vacuum, a reader holding an un-evaluated frame over the old
        files can fail lazily if it evaluates after the reclaim — compact
        from the maintenance path, not mid-query."""
        latest = self.latest_version()
        if latest is None:
            return 0
        prev = self._events_sidecar()
        upto_old = prev["upto"] if prev else -1
        srcs: list[str] = []
        folded = 0
        for v in range(upto_old + 1, latest + 1):
            m = self._manifest(v)
            if m.get("events") and os.path.exists(m["events"]):
                srcs.append(m["events"])
                folded += 1
        if folded == 0:
            return 0
        prev_path = prev["path"] if prev and os.path.exists(prev["path"]) else None
        if prev_path:
            srcs.insert(0, prev_path)
        # no leading underscore: Spark's file index treats _-prefixed paths
        # as hidden metadata and ignores them
        out = os.path.join(
            self.path, f"events-compact-v{latest:012d}-{uuid.uuid4().hex[:8]}"
        )
        spark.read.parquet(*srcs).coalesce(max(1, target_files)).write.parquet(out)
        tmp = f"{self._events_sidecar_path()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"upto": latest, "path": out}, f)
        os.replace(tmp, self._events_sidecar_path())
        # superseded sources are now fully contained in `out`
        import shutil

        for p in srcs:
            shutil.rmtree(p, ignore_errors=True)
        return folded

    def read_records(self, spark: SparkSession) -> DataFrame | None:
        """Raw producer records (persistRecord surface) across all committed
        versions — the outbound side-channel a Kafka egress job would drain."""
        paths = [
            m.get("records")
            for m in (self._manifest(v) for v in self.committed_versions())
            if m.get("records")
        ]
        existing = [p for p in paths if os.path.exists(p)]
        if not existing:
            return None
        return spark.read.parquet(*existing)

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, keep_last: int = 10) -> list[int]:
        """Reclaim bucket directories not referenced by the last
        ``keep_last`` commits (the Delta VACUUM analog). Because versions
        share untouched bucket directories, reclamation is reference-counted:
        a bucket dir written by an old version but still referenced by a
        kept manifest is NOT removed. Event files are never removed — the
        event log is the source of truth for replay; manifests stay so the
        version history and batch-id dedup set remain intact. Returns the
        versions whose state data was (partially or fully) reclaimed —
        orphaned writer-unique dirs swept by the fenced-committer pass
        have no version in the chain and are NOT included in the return
        value."""
        import shutil

        versions = self.committed_versions()
        # the latest snapshot is never removable — keep_last=0 would
        # otherwise brick the store while manifests still advertise it
        keep = max(1, keep_last)
        kept = versions[-keep:]

        def state_dirs(m: dict) -> list[str]:
            # base bucket dirs plus merge-on-read delta dirs — both are
            # shared across versions (a delta stays referenced until a
            # compaction commit drops it from the manifest)
            return list(self._state_paths(m).values()) + [
                d["path"] for d in m.get("state_deltas", [])
            ]

        referenced = {p for v in kept for p in state_dirs(self._manifest(v))}
        removed = []
        for v in versions[:-keep]:
            reclaimed = False
            for p in state_dirs(self._manifest(v)):
                if p not in referenced and os.path.exists(p):
                    shutil.rmtree(p)
                    reclaimed = True
            if reclaimed:
                removed.append(v)

        # orphaned version dirs: a fenced committer (lost the manifest
        # race) or a pre-manifest crash leaves its whole writer-unique
        # vNNN-token directory with NO manifest pointing into it — the
        # commit docstring promises vacuum reclaims these. Safe iff a
        # manifest for that version EXISTS (someone else won / the chain
        # moved past it) and no manifest of ANY version references a path
        # under it (events/replies/records/state/deltas are all rooted in
        # version dirs, and old manifests stay forever).
        import re

        latest = versions[-1] if versions else -1
        # realpath-normalize BOTH sides before comparing: manifests record
        # paths as the WRITER spelled self.path (relative, symlinked, …) —
        # a maintenance process reaching the same store via a different
        # spelling must never conclude a live dir is unreferenced
        all_refs: set[str] = set()
        for v in versions:
            m = self._manifest(v)
            for r in state_dirs(m):
                all_refs.add(os.path.realpath(r))
            for k in ("events", "replies", "replies_staging", "records", "changes"):
                if m.get(k):
                    all_refs.add(os.path.realpath(m[k]))
        for d in os.listdir(self.path):
            mt = re.fullmatch(r"v(\d{12})-[0-9a-f]{8}", d)
            if not mt or int(mt.group(1)) > latest:
                continue
            full = os.path.realpath(os.path.join(self.path, d))
            if not os.path.isdir(full):
                continue
            prefix = full.rstrip("/") + "/"
            if any(r == full or r.startswith(prefix) for r in all_refs):
                continue
            shutil.rmtree(full, ignore_errors=True)
        return removed


def _repl_hwm_path(dst: SnapshotStore) -> str:
    return os.path.join(dst.path, "_manifests", "_replication_hwm.json")


def _repl_hwm(dst: SnapshotStore) -> int:
    p = _repl_hwm_path(dst)
    if not os.path.isfile(p):
        return -1
    with open(p) as f:
        return int(json.load(f)["applied"])


def _write_repl_hwm(dst: SnapshotStore, version: int) -> None:
    p = _repl_hwm_path(dst)
    tmp = f"{p}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump({"applied": version}, f)
    os.replace(tmp, p)


def replicate_changes(
    spark: SparkSession, src: SnapshotStore, dst: SnapshotStore
) -> int:
    """DR / standby replication (R10) over the change feed: apply every
    source version the replica hasn't seen yet, one commit per version,
    in order — upserts as state updates, deletes as tombstones. Progress
    is a MONOTONIC high-water mark persisted in the replica's manifest
    dir (atomic replace, advanced only after the version's commit is
    durable) — the R4 dedup set alone would NOT do: it is
    dedup_horizon-bounded, and an aged-out ``repl-v*`` id would let an
    ancient version re-apply as the replica's NEWEST commit, reverting
    keys under latest-wins. The dedup set still covers the one-version
    crash window between commit and hwm write (and a same-version replay
    is value-idempotent regardless: identical rows, identical merge).
    The reference achieves standby via Kafka topic replication; here the
    change feed plays the topic's role, and the replica is a real store —
    serving get_state/read_state immediately on failover.

    Requires the source to have a complete feed over the unapplied range
    (merge-on-read append commits always do; rewriting commits need
    change_feed=True — read_changes raises otherwise, and so does this).
    Returns the number of versions applied this call."""
    latest = src.latest_version()
    if latest is None:
        return 0
    hwm = _repl_hwm(dst)
    applied_ids = dst.committed_batch_ids() if hwm + 1 <= latest else set()
    applied = 0
    for v in range(hwm + 1, latest + 1):
        bid = f"repl-v{v:012d}"
        if bid in applied_ids:
            _write_repl_hwm(dst, v)  # heal a crash between commit and hwm
            continue
        ch = src.read_changes(spark, start_version=v, end_version=v)
        if ch is None:
            continue
        ups = ch.where(F.col("_change_type") == "upsert").drop(
            "_change_type", "_version"
        )
        dels = ch.where(F.col("_change_type") == "delete").select(
            F.col(src.key_col).cast("string").alias(src.key_col)
        )
        dst.commit(
            None,
            ups,
            bid,
            delete_keys=dels,
            updates_unique=True,  # one row per key per version by layout
        )
        _write_repl_hwm(dst, v)
        applied += 1
    return applied


def run_change_replication(
    spark: SparkSession,
    src: SnapshotStore,
    dst: SnapshotStore,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    manifest_wait_s: float = 5.0,
):
    """replicate_changes as a RUNNING query (R10, streaming form): the
    standby follows a live primary within one trigger instead of a poll
    loop. Returns the StreamingQuery; stop() it to fail over.

    The streamed BATCH CONTENT is deliberately not applied: a version's
    record can span several part files and a trigger can split them
    (maxFilesPerTrigger=1 guarantees it), so committing streamed rows
    directly can publish a TORN version on the replica — caught by the
    prefix-replay property test. The stream is the arrival signal and the
    W7 throttle; each trigger re-reads the manifest-validated range
    [hwm+1, latest] through replicate_changes, which supplies the
    exactly-once machinery (one commit per version in order, R4 dedup,
    monotonic hwm — a replayed trigger is a no-op). This also makes
    fenced-committer orphan files harmless: replicate_changes reads only
    the dirs the manifest chain records, never the glob.

    One wrinkle the poll form doesn't have: a record file is listable a
    beat BEFORE its manifest publishes, and the file-source checkpoint
    will never re-deliver it — if the trigger ran inside that beat and no
    further commit ever arrived, the version would go unreplicated. Each
    batch therefore waits (up to ``manifest_wait_s``) for the chain to
    cover its max streamed version and FAILS the batch on timeout: the
    un-checkpointed batch retries until the manifest lands (or until the
    crashed committer's recovery re-commits the version number).

    The replica's persisted hwm seeds stream_changes' ``start_version``
    floor, so a restart against a long-retention primary lists and tracks
    only the unreplicated tail, not the store's whole history."""
    feed = src.stream_changes(
        spark, max_files_per_trigger, start_version=_repl_hwm(dst) + 1
    )

    def apply(batch_df, batch_id) -> None:
        mx = batch_df.agg(F.max("_version")).first()[0]
        if mx is not None:
            deadline = time.time() + manifest_wait_s
            while (src.latest_version() or -1) < mx and time.time() < deadline:
                time.sleep(0.05)
            if (src.latest_version() or -1) < mx:
                raise TimeoutError(
                    f"source manifest chain at {src.latest_version()} has "
                    f"not reached streamed change version {mx} after "
                    f"{manifest_wait_s}s"
                )
        replicate_changes(spark, src, dst)

    return (
        feed.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# --- S7's optional downstream re-publish leg (SURVEY §2.1 S7) -----------
#
# The reference's transactional sink can additionally re-publish committed
# state downstream of the store ("optional downstream Kafka re-publish is
# idempotent, keyed by (batch_id, seq), dedup on read — mirrors R4";
# KafkaProducerActorImpl publishes state+events in one transaction and a
# replayed publish is collapsed by the consumer-side dedup). The broker is
# env-blocked here, so the executable double publishes the store's change
# feed to a filelog topic (sources/filelog.py — the same double S5/S6 use)
# and `read_published` is the consumer-side dedup view.


def _publish_hwm_path(topic_path: str) -> str:
    # underscore-prefixed: Spark's parquet reader treats it as hidden, so
    # it can live inside the topic dir beside the offsets sidecar
    return os.path.join(topic_path, "_publish_hwm.json")


def _publish_hwm(topic_path: str) -> int:
    p = _publish_hwm_path(topic_path)
    if not os.path.isfile(p):
        return -1
    with open(p) as f:
        return int(json.load(f)["published"])


def _write_publish_hwm(topic_path: str, version: int) -> None:
    os.makedirs(topic_path, exist_ok=True)
    p = _publish_hwm_path(topic_path)
    tmp = f"{p}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump({"published": version}, f)
    os.replace(tmp, p)


def publish_changes(
    spark: SparkSession,
    store: SnapshotStore,
    topic_path: str,
    n_partitions: int = 4,
) -> int:
    """Publish every not-yet-published store version's change records to a
    downstream filelog topic — the S7 re-publish leg's executable double.
    One `produce` per version with ``batch_id = pub-v{version}`` stamped
    into record headers; upserts carry the state row as JSON, deletes a
    NULL value (compacted-topic tombstone convention, same as S1's
    ``state_table`` expects). Progress is a monotonic high-water mark in
    the topic dir (the `replicate_changes` pattern): advanced only AFTER
    the version's produce is durable, so every crash window errs toward
    RE-publishing.

    Idempotency is therefore dedup-on-read, mirroring R4: a replayed
    version appends a second copy of its records with the SAME batch_id,
    and `read_published` collapses to the first (min-offset) copy per
    (batch_id, key) — the survey mapping's (batch_id, seq) identity, since
    the feed's layout guarantees one record per key per version, key IS
    the within-batch sequence identity. Same key + same batch always
    routes to the same partition (murmur3 on key), so "first copy" is
    well-defined per-partition offset order, exactly the order a Kafka
    consumer sees. A TORN first publish (produce is per-partition atomic)
    composes the same way: surviving partitions keep their original
    records, the replay fills the rest, and the deduped stream is
    record-for-record identical to a crash-free run — pinned in
    tests/test_streaming.py.

    Returns the number of versions published this call. Requires a
    complete feed over the unpublished range (append commits always
    qualify; rewriting commits need ``change_feed=True`` — read_changes
    raises on a hole rather than skipping it)."""
    from ..sources import filelog

    latest = store.latest_version()
    if latest is None:
        return 0
    hwm = _publish_hwm(topic_path)
    published = 0
    for v in range(hwm + 1, latest + 1):
        bid = f"pub-v{v:012d}"
        ch = store.read_changes(spark, start_version=v, end_version=v)
        # read_changes returns None only for a never-committed store, and
        # latest_version() is not None here — empty versions arrive as
        # EMPTY typed frames and must still advance the hwm below (a skip
        # without the hwm write would re-scan the version forever)
        assert ch is not None
        state_cols = [
            c for c in ch.columns if c not in ("_version", "_change_type")
        ]
        recs = ch.select(
            F.col(store.key_col).cast("string").alias("key"),
            F.when(
                F.col("_change_type") == "delete",
                F.lit(None).cast("string"),
            )
            .otherwise(F.to_json(F.struct(*state_cols)))
            .alias("value"),
        )
        filelog.produce(
            recs,
            topic_path,
            n_partitions=n_partitions,
            batch_id=bid,
            order_by=[F.col("key")],
        )
        _write_publish_hwm(topic_path, v)
        published += 1
    return published


def read_published(spark: SparkSession, topic_path: str) -> DataFrame:
    """Consumer-side R4 dedup view over a `publish_changes` topic: one row
    per (batch_id, key) — the FIRST (min-offset) copy — so the visible
    stream is identical whether or not a crashed publisher replayed a
    version. Columns: batch_id, key (string), value (JSON string or NULL
    for tombstones), partition, offset (of the kept copy). One partial+
    final aggregate; the raw log is available via ``filelog.read`` for
    consumers that do their own dedup."""
    from ..sources import filelog

    log = filelog.read(spark, topic_path)
    return (
        log.select(
            F.col("headers").getItem("batch_id").cast("string").alias(
                "batch_id"
            ),
            F.col("key").cast("string").alias("key"),
            "value",
            "partition",
            "offset",
        )
        .groupBy("batch_id", "key")
        .agg(
            F.min_by(
                F.struct("value", "partition", "offset"), F.col("offset")
            ).alias("r")
        )
        .select(
            "batch_id",
            "key",
            F.col("r.value").cast("string").alias("value"),
            F.col("r.partition").alias("partition"),
            F.col("r.offset").alias("offset"),
        )
    )
