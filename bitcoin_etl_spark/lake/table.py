"""LakeTable — a snapshot-isolated, versioned parquet table with keyed
upsert semantics and an embedded commit-epoch dedup ledger.

This is the engine's sink abstraction: the contract of an Iceberg table
(keyed ``MERGE INTO`` + snapshot commits) on plain parquet + an atomic
JSON manifest chain, with no runtime jar beyond Spark's own:

* **Insert-wins versioned upsert** — the ClickHouse
  ``ReplacingMergeTree(revision)`` analog (reference
  ``pipelines/bitcoin.py:128-131``): every row carries ``_rev`` (the
  change's ``seq``); the max-``_rev`` row per ``doc_id`` wins. Deletes are
  tombstone rows (``_deleted=true``) — merge-on-read, like RMT parts.
* **Read-time finality** — ``read_final()`` is the ``SELECT … FINAL``
  analog (reference ``pipelines/block_sync_pipeline.py:269-291``): the
  max-``_rev`` row per key, tombstones dropped, by the one
  last-event-wins rule of the lake layer (``last_event_wins``): a
  ``max_by`` aggregate whose map-side partial step collapses hot keys
  *before* the shuffle, the skew mitigation SURVEY.md §4 calls for.
* **Explicit compaction** — ``compact()`` is the ``OPTIMIZE TABLE …
  FINAL`` analog (reference ``clickhouse/clickhouse_final_block_partition
  .py:61-76``): folds all delta files into hash-bucketed base files
  through the same aggregate, whose key-hash (or single-partition)
  output the bucket write keeps without a second exchange.
* **Atomic commits + snapshot isolation** — each commit writes data files
  then publishes manifest ``v{N}.json`` via an exclusive hard-link (POSIX
  ``link(2)`` fails if the target exists → optimistic concurrency).
  Readers resolve the highest committed version; time travel via
  ``version=``. This supplies the cross-statement transactionality the
  reference lacks (SURVEY.md §3.3).
* **Commit-epoch dedup ledger** — exactly-once apply over an
  at-least-once stream (the reference is at-least-once with cursor-file
  commit, ``streamer.py:97-103``; replays produce duplicates). The ledger
  lives *inside the manifest*, so data + ledger commit in one atomic
  rename — an epoch already in the ledger is skipped idempotently.
* **Additive schema evolution** — manifest carries the current schema;
  old files are read with the evolved schema (missing columns null-fill),
  mirroring Iceberg add-column semantics (the multi-chain field-variance
  analog, SURVEY.md §1.2).

Scale notes: data files are hash-bucketed on the merge key
(``pmod(xxhash64(doc_id), n_buckets)``), so point-lookups and future
bucket-local compaction prune files; at cluster scale n_buckets is sized
so a bucket fits an executor. All heavy work is DataFrame ops; the
manifest is O(files) JSON handled on the driver.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections import OrderedDict
from functools import lru_cache
from typing import NamedTuple

from py4j.java_gateway import JavaClass
from pyspark.sql import (
    Column, DataFrame, SparkSession, functions as F, types as T,
)

from ..schemas import merge_schemas, schema_from_json

REV_COL = "_rev"
DELETED_COL = "_deleted"
BUCKET_COL = "_bucket"

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")
# append_delta re-plans its manifest on a lost publish race this often
_COMMIT_RETRIES = 3
# parsed manifests kept, least recently read evicted first: enough for
# a feed range, a time-travel read and the parent of the next commit
# (every commit reads the head, so it stays resident), while driver
# memory stays flat however long the version chain grows
_MANIFEST_LRU = 8


def _fits_one_partition(df: DataFrame) -> bool:
    """Whether Spark's own size estimate of ``df`` — the one
    ``JoinSelection`` compares with ``spark.sql.autoBroadcastJoinThreshold``
    — is at most that threshold (``-1``: never). Such an input is read
    into one partition (``coalesce(1)``): ``SinglePartition`` satisfies
    every clustered distribution, so a keyed aggregate over it plans no
    exchange, and a small increment runs as one Spark job instead of a
    shuffle map job plus AQE's re-planned stages. Such a frame is also
    written from the driver (``write_parquet``): at this size Spark
    already collects a broadcast side to the driver. A frame with no
    estimate (RDD-backed) reports Spark's default size, which is huge,
    so it keeps the shuffle and Spark's writer."""
    limit = (df.sparkSession._jsparkSession.sessionState().conf()
             .autoBroadcastJoinThreshold())
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= limit and size <= limit


# suffix of the driver write's local encoding, which sits beside the
# file it becomes; never a ``.parquet`` name, so no reader or manifest
# entry picks it up, and ``vacuum`` removes one a crash left behind
_TMP_SUFFIX = ".tmp"
# what Spark's writer leaves beside its files once a job commits; a
# write directory holding only these holds no data
_MARKERS = {"_SUCCESS", "._SUCCESS.crc"}


def _jclass(spark: SparkSession, fqn: str) -> JavaClass:
    """The JVM class ``fqn``, made without a py4j round trip: resolving
    ``spark._jvm.a.b.C`` costs one round trip per package step."""
    return JavaClass(fqn, spark._jvm._gateway_client)


def write_parquet(df: DataFrame, out_dir: str,
                  mode: str = "errorifexists") -> None:
    """Write ``df`` as parquet under ``out_dir`` (``mode`` as in
    ``DataFrameWriter``: ``errorifexists`` or ``overwrite``).

    A frame that ``_fits_one_partition`` is written from the driver: one
    Spark job collects it as Arrow (under the caller's job group, and
    its ``Observation``s fire), ``pyarrow`` encodes one snappy file, and
    Hadoop's ``FileSystem`` copies it in, so the checksummed local file
    system writes the same ``.crc`` sidecar Spark's writer does and
    Spark verifies on read. For a small frame, Spark's writer costs more
    in write planning, committer set-up, task launch and job commit than
    in writing. An empty frame still yields one zero-row file. Larger
    frames, and frames with no size estimate, keep Spark's writer. The
    bound caps driver memory where Spark's broadcasts cap it, and
    ``spark.driver.maxResultSize`` turns an estimate far below the real
    size into an error, not an out-of-memory driver."""
    if not _fits_one_partition(df):
        df.write.mode(mode).parquet(out_dir)
        return
    import pyarrow.parquet as pq

    data = df.toArrow()
    if mode == "overwrite":
        shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)  # errorifexists: fails on an existing directory
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(out_dir, f".{name}{_TMP_SUFFIX}")
    try:
        pq.write_table(data, tmp, compression="snappy")
        spark = df.sparkSession
        dest = _jclass(spark, "org.apache.hadoop.fs.Path")(
            os.path.join(out_dir, name))
        fs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
        # copyBytes closes both streams
        _jclass(spark, "org.apache.hadoop.io.IOUtils").copyBytes(
            _jclass(spark, "java.io.FileInputStream")(tmp),
            fs.create(dest, False), 1 << 16, True)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _hashed_bucket(f: dict, key_type: str) -> int | None:
    """File entry ``f``'s bucket id while its keys were hashed under the
    table's current key type (``key_type``, the schema JSON type name),
    else None. A widened key hashes differently (xxhash64 of an int is
    not that of the same long), so a file bucketed before the widening
    can hold keys of any current bucket: every bucket rule treats it as
    unbucketed. Entries written before ``key_type`` was recorded count
    as hashed under the current type."""
    if f.get("key_type", key_type) != key_type:
        return None
    return f.get("bucket")


@lru_cache(maxsize=64)
def _latest_exprs(columns: tuple[str, ...], key: str,
                  seq: str) -> tuple[Column, tuple[Column, ...]]:
    """``last_event_wins``' aggregate and output projection for one input
    column list; the projection keeps the input's column order. Unresolved
    Columns carry no plan, so one set serves every frame of that shape;
    building them costs py4j round trips, which a small frame's whole
    read would otherwise pay per call."""
    payload = [c for c in columns if c != key]
    latest = F.col("_latest")
    return (F.max_by(F.struct(*payload), F.col(seq)).alias("_latest"),
            tuple(F.col(c) if c == key else latest.getField(c).alias(c)
                  for c in columns))


def last_event_wins(df: DataFrame, key: str = "doc_id",
                    seq: str = "seq") -> DataFrame:
    """Collapse to one row per key: the event with the max ``seq`` wins.
    The lake layer's one finality rule: ``read_final``, ``read_staged``,
    ``compact``, ``scan_keys``, the feed and the apply pre-reduce all
    reduce through it.

    Keeps all columns, in the input's order; deterministic given unique
    ``seq`` per key-event
    (duplicate (key, seq) pairs are identical rows by construction, so
    any winner is correct — the replayed-epoch case). The BCH
    duplicate-txid analog (reference fixture
    ``tests/resources/test_export_blocks_job/bitcoin_cash/block_with_duplicate_txid``)
    generalized.

    ``groupBy(key).agg(max_by(struct(payload), seq))``: max_by is a true
    aggregate, so Spark plans a map-side partial aggregation that
    collapses hot keys on each input partition *before* the shuffle — a
    Zipf-hot key contributes one row per upstream partition, not every
    version, to the task that owns it (SURVEY.md §4). The output is
    hash-partitioned on ``key``. An input that ``_fits_one_partition``
    is aggregated in one partition, with no shuffle at all.
    """
    agg, out = _latest_exprs(tuple(df.columns), key, seq)
    if _fits_one_partition(df):
        df = df.coalesce(1)
    return df.groupBy(key).agg(agg).select(*out)


_NEW = "_new"  # read_changes' flag on after-side rows


class _FeedExprs(NamedTuple):
    """``read_changes``' expressions for one table column list."""
    new: tuple[Column, ...]  # after-side rows, flagged
    old: tuple[Column, ...]  # from-state rows: key, _rev, _deleted, flag
    agg: tuple[Column, ...]  # the one keyed aggregate
    keep: Column  # the aggregate rows that are changes
    out: tuple[Column, ...]  # key, payload with _rev, _change_type
    scan_out: tuple[Column, ...]  # the unclassified in-order scan's output


@lru_cache(maxsize=64)
def _feed_exprs(columns: tuple[str, ...], key: str,
                classify: bool) -> _FeedExprs:
    """Per key of ``new ∪ old``: the newest new row as ``_latest``, and
    the newest old row's ``_rev`` and ``_deleted`` as ``_b_rev`` and
    ``_b_del`` (``max``/``max_by`` skip the null ordering of the other
    side's rows). A key with no new row has a null ``_latest``."""
    is_new = F.col(_NEW)
    new_rev = F.when(is_new, F.col(REV_COL))
    old_rev = F.when(~is_new, F.col(REV_COL))
    latest = F.col("_latest")
    rev, deleted = latest.getField(REV_COL), latest.getField(DELETED_COL)
    b_rev, b_del = F.col("_b_rev"), F.col("_b_del")
    was_alive = b_rev.isNotNull() & ~b_del
    changed = b_rev.isNull() | (rev != b_rev) | (deleted != b_del)
    upsert = (F.when(was_alive, "UPDATE_AFTER").otherwise("INSERT")
              if classify else F.lit("UPSERT"))
    payload = [c for c in columns if c not in (key, DELETED_COL)]
    return _FeedExprs(
        new=(F.col("*"), F.lit(True).alias(_NEW)),
        old=(F.col(key), F.col(REV_COL), F.col(DELETED_COL),
             F.lit(False).alias(_NEW)),
        agg=(F.max_by(F.struct(*[c for c in columns if c != key]), new_rev)
             .alias("_latest"),
             F.max(old_rev).alias("_b_rev"),
             F.max_by(F.col(DELETED_COL), old_rev).alias("_b_del")),
        # a delete of a key that was not alive before is no change
        keep=latest.isNotNull() & changed & (~deleted | was_alive),
        out=(F.col(key), *[latest.getField(c).alias(c) for c in payload],
             F.when(deleted, "DELETE").otherwise(upsert).alias("_change_type")),
        scan_out=(F.col(key), *map(F.col, payload),
                  F.when(F.col(DELETED_COL), "DELETE").otherwise("UPSERT")
                  .alias("_change_type")),
    )


class CommitConflict(RuntimeError):
    """Another writer committed the same version first (optimistic CC)."""


class LakeTable:
    def __init__(self, path: str, key: str = "doc_id", n_buckets: int = 64):
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self._manifest_dir = os.path.join(path, "manifest")
        self._data_dir = os.path.join(path, "data")
        self._manifest_cache: OrderedDict[int, dict] = OrderedDict()

    # ------------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        path: str,
        schema: T.StructType,
        key: str = "doc_id",
        n_buckets: int = 64,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table (schema = payload columns; engine adds
        ``_rev``/``_deleted``)."""
        t = cls(path, key=key, n_buckets=n_buckets)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if t.current_version() is not None:
            raise ValueError(f"table already exists at {path}")
        full = cls._with_engine_cols(schema)
        t._publish_root(json.loads(full.json()), [], {}, properties or {})
        return t

    @classmethod
    def load(cls, path: str) -> "LakeTable":
        t = cls(path)
        m = t.manifest()
        t.key = m["key"]
        t.n_buckets = m["n_buckets"]
        return t

    @staticmethod
    def _with_engine_cols(schema: T.StructType) -> T.StructType:
        names = {f.name for f in schema.fields}
        fields = list(schema.fields)
        if REV_COL not in names:
            fields.append(T.StructField(REV_COL, T.LongType(), False))
        if DELETED_COL not in names:
            fields.append(T.StructField(DELETED_COL, T.BooleanType(), False))
        return T.StructType(fields)

    # ------------------------------------------------------------- manifests
    def current_version(self) -> int | None:
        if not os.path.isdir(self._manifest_dir):
            return None
        versions = [
            int(m.group(1))
            for f in os.listdir(self._manifest_dir)
            if (m := _MANIFEST_RE.match(f))
        ]
        return max(versions) if versions else None

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        cache = self._manifest_cache
        m = cache.get(v)
        if m is not None:
            cache.move_to_end(v)
            return m
        with open(os.path.join(self._manifest_dir, f"v{v}.json")) as f:
            m = json.load(f)
        cache[v] = m
        if len(cache) > _MANIFEST_LRU:
            cache.popitem(last=False)
        return m

    def _publish_root(self, schema: dict, files: list[dict], ledger: dict,
                      properties: dict,
                      operation: str | None = None) -> None:
        """Publish v0, the root of a new manifest chain."""
        self._publish({
            "version": 0,
            "parent": None,
            "schema": schema,
            "key": self.key,
            "n_buckets": self.n_buckets,
            "files": files,
            "ledger": ledger,
            "properties": properties,
            "committed_at": time.time(),
            "operation": operation,
        })

    def _publish(self, manifest: dict) -> None:
        """Atomically publish manifest v{N}: hard-link from a temp file —
        link(2) is atomic and fails with EEXIST if v{N} was already
        committed by a concurrent writer."""
        v = manifest["version"]
        # one C-encoded string (json.dump streams through the pure-Python
        # encoder, which dominates a long chain's commit), made before any
        # file is opened: an unserializable manifest leaves nothing behind
        data = json.dumps(manifest)
        tmp = os.path.join(self._manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        try:
            with open(tmp, "w") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, os.path.join(self._manifest_dir, f"v{v}.json"))
        except FileExistsError as e:
            raise CommitConflict(f"version {v} already committed") from e
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def schema(self, version: int | None = None) -> T.StructType:
        return schema_from_json(json.dumps(self.manifest(version)["schema"]))

    def payload_schema(self, version: int | None = None) -> T.StructType:
        full = self.schema(version)
        return T.StructType(
            [f for f in full.fields if f.name not in (REV_COL, DELETED_COL)]
        )

    def snapshots(self) -> list[dict]:
        out = []
        v = 0
        while os.path.exists(os.path.join(self._manifest_dir, f"v{v}.json")):
            m = self.manifest(v)
            out.append(
                {
                    "version": v,
                    "files": len(m["files"]),
                    "rows": sum(f["rows"] for f in m["files"]),
                    "committed_at": m.get("committed_at"),
                    "operation": m.get("operation"),
                }
            )
            v += 1
        return out

    # ---------------------------------------------------------------- ledger
    def committed_epochs(self, pipeline_id: str) -> set[int]:
        return {int(e) for e in self.manifest()["ledger"].get(pipeline_id, {})}

    def ledger(self, pipeline_id: str | None = None) -> dict:
        led = self.manifest()["ledger"]
        return led.get(pipeline_id, {}) if pipeline_id else led

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-epoch lineage/metrics as a DataFrame (T8/A7 analog —
        reference ``progress_logger.py:30-83``)."""
        rows = []
        for pipe, epochs in self.manifest()["ledger"].items():
            for epoch, info in epochs.items():
                rows.append(
                    {
                        "pipeline_id": pipe,
                        "epoch": int(epoch),
                        "rows": int(info.get("rows", 0)),
                        "upserts": int(info.get("upserts", 0)),
                        "deletes": int(info.get("deletes", 0)),
                        "quarantined": int(info.get("quarantined", 0)),
                        "version": int(info.get("version", -1)),
                        "committed_at": float(info.get("committed_at", 0.0)),
                        "duration_ms": float(info.get("duration_ms", 0.0)),
                        "max_seq": int(info.get("max_seq", -1)),
                    }
                )
        schema = (
            "pipeline_id string, epoch long, rows long, upserts long, "
            "deletes long, quarantined long, version long, committed_at double, "
            "duration_ms double, max_seq long"
        )
        return spark.createDataFrame(rows, schema=schema)

    # ----------------------------------------------------------------- reads
    def _read_files(
        self, spark: SparkSession, files: list[dict], schema: T.StructType
    ) -> DataFrame:
        if not files:
            # typed nulls over an empty range: Spark sizes this at a few
            # bytes, where createDataFrame([]) is RDD-backed and reports
            # its huge default, failing every _fits_one_partition it joins
            return spark.range(0).select(*[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
        # one Java String[] in one py4j call (NUL never occurs in a POSIX
        # path); parquet(*paths) pays one round trip per path
        paths = _jclass(spark, "java.util.regex.Pattern").compile("\0").split(
            "\0".join(os.path.join(self.path, f["path"]) for f in files)
        )
        # recursiveFileLookup disables hive partition inference so mixed
        # snapshot dir layouts never surface phantom partition columns;
        # explicit schema null-fills columns absent from old files
        # (additive evolution).
        reader = spark.read.schema(schema).option("recursiveFileLookup", "true")
        return reader._df(reader._jreader.parquet(paths))

    def read_raw(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """All row versions incl. tombstones (the unmerged-parts view)."""
        m = self.manifest(version)
        return self._read_files(spark, m["files"], self.schema(version))

    def read_final(
        self,
        spark: SparkSession,
        version: int | None = None,
    ) -> DataFrame:
        """Latest row image per key, tombstones dropped — ``FINAL``:
        ``_final`` over the snapshot's files."""
        return self._final(spark, self.manifest(version)["files"],
                           self.schema(version))

    def _final(self, spark: SparkSession, files: list[dict],
               schema: T.StructType) -> DataFrame:
        """Latest live row image per key over ``files``.

        Base files in buckets no delta touches are already
        unique-per-key: they are read straight, so an all-base snapshot
        plans no dedup at all, and after PARTIAL compaction the
        merge-on-read cost stays proportional to the uncompacted
        fraction, not the table. Every other file goes through
        ``last_event_wins``. An unbucketed delta's rows span every
        bucket, and so do a file's bucketed under a key type since
        widened (``_hashed_bucket``), so either sends every file through
        the dedup."""
        kt = schema[self.key].dataType.jsonValue()
        buckets = [_hashed_bucket(f, kt) for f in files]
        dirty = {b for f, b in zip(files, buckets) if f.get("kind") != "base"}
        if None in buckets:
            clean, rest = [], files
        else:
            clean = [f for f, b in zip(files, buckets) if b not in dirty]
            rest = [f for f, b in zip(files, buckets) if b in dirty]
        df = self._read_files(spark, clean, schema)
        if rest:
            latest = last_event_wins(self._read_files(spark, rest, schema),
                                     self.key, REV_COL)
            df = df.unionByName(latest) if clean else latest
        return df.filter(~F.col(DELETED_COL)).drop(DELETED_COL)

    def _point_lookup_files(self, value: str, bucket: int,
                            version: int | None = None) -> list[dict]:
        """Files that can possibly contain ``value``: bucket-pruned
        (a bucketed file only holds its bucket's keys) then key-range
        pruned from the manifest's footer min/max stats (the Iceberg
        lower/upper-bounds skip). Unbucketed or stats-less files, and
        files bucketed under a key type since widened, are always
        candidates (never silently skipped)."""
        kt = self.schema(version)[self.key].dataType.jsonValue()
        out = []
        for f in self.manifest(version)["files"]:
            b = _hashed_bucket(f, kt)
            if b is not None and b != bucket:
                continue
            if "key_min" in f and not (f["key_min"] <= value <= f["key_max"]):
                continue
            out.append(f)
        return out

    def point_lookup(self, spark: SparkSession, value,
                     version: int | None = None) -> DataFrame:
        """Latest live row image for ONE key — ``scan_keys`` of one
        value. Returns an empty frame if the key is absent or deleted."""
        return self.scan_keys(spark, [value], version)

    def scan_keys(self, spark: SparkSession, values: list,
                  version: int | None = None) -> DataFrame:
        """Latest live images for a SMALL key list (batch point lookup):
        union of the keys' bucket+key-range-admitted files scanned ONCE
        with an IN filter (pushed to parquet), then the tiny
        ``last_event_wins`` dedup. Scan cost ∝ files admitted for the
        requested keys, not the table — at 10^10 rows with 4k buckets
        and compacted bases typically 1-2 files per key, each further
        row-group-pruned by parquet's own key statistics. For
        corpus-sized key sets use a broadcast/semi join against
        ``read_final`` instead — this path computes one bucket hash per
        requested key in one tiny driver job."""
        if not values:
            raise ValueError("scan_keys needs at least one key")
        nb = self.manifest(version).get("n_buckets", self.n_buckets)
        schema = self.schema(version)
        # hash and filter the values AS the table's key type: xxhash64
        # over a Python-inferred literal type (e.g. int32 for a small
        # int, or string for a stringified number) yields a DIFFERENT
        # hash than the write-side xxhash64 over the actual column,
        # silently pruning the right bucket to an empty result (ADVICE
        # r05); a value that does not cast matches no row
        ktype = schema[self.key].dataType
        brows = spark.range(1).select(
            F.explode(
                F.array(*[F.lit(v).cast(ktype) for v in values])
            ).alias(self.key)
        ).dropna().select(
            self.key,
            F.pmod(F.xxhash64(F.col(self.key)), F.lit(nb)).alias("b"),
        ).collect()
        cand_paths: dict[str, dict] = {}
        for r in brows:
            for f in self._point_lookup_files(r[self.key], int(r["b"]),
                                              version):
                cand_paths[f["path"]] = f
        if not cand_paths:
            return self._read_files(spark, [], schema).filter(
                ~F.col(DELETED_COL)
            ).drop(DELETED_COL)
        df = self._read_files(
            spark, list(cand_paths.values()), schema
        ).filter(F.col(self.key).isin(*[r[self.key] for r in brows]))
        latest = last_event_wins(df, self.key, REV_COL)
        return latest.filter(~F.col(DELETED_COL)).drop(DELETED_COL)

    # ---------------------------------------------------------------- writes
    def _write_data(
        self, df: DataFrame, subdir: str, n_buckets: int | None,
        shuffle: bool = True,
    ) -> list[dict]:
        """Write df under data/<subdir>/ and return manifest file entries.

        An ``n_buckets`` count writes one directory per key-hash bucket
        (partitionBy) so entries carry a bucket id, and the key type it
        was hashed under, for pruning; ``None`` writes unbucketed files
        through ``write_parquet`` (one file from the driver below the
        one-partition bound).
        The count is the caller's, never the live attribute: it must be
        the one the publishing manifest records.
        ``shuffle=False`` replaces the bucket repartition with a narrow
        ``coalesce`` — for callers whose frame is ALREADY key-hash
        partitioned or in one partition (the compaction dedup output,
        ``last_event_wins``): every row of a
        bucket then still lands in files of that bucket's directory, the
        writer-task cap still holds, and one full-data exchange is
        saved (a bucket may span several files, which the manifest
        layout already supports).
        """
        out_dir = os.path.join(self._data_dir, subdir)
        key_type = df.schema[self.key].dataType.jsonValue() if n_buckets \
            else None
        if n_buckets:
            # Writer-task cap: repartition to min(cap, n_buckets) tasks,
            # each writing its buckets' dirs sequentially via partitionBy
            # — same per-bucket file layout (pruning unaffected), bounded
            # concurrent writers. n_buckets concurrent single-file writer
            # tasks anti-scale on kernels whose write path degrades past
            # ~8 concurrent writers (this sandbox — BENCH/ENVIRONMENT.md);
            # on a real cluster writers spread across nodes, so set
            # SPARK_GRAFT_MAX_WRITERS to executor count or higher.
            cap = int(os.environ.get("SPARK_GRAFT_MAX_WRITERS", "8"))
            out = df.withColumn(BUCKET_COL, F.pmod(
                F.xxhash64(F.col(self.key)), F.lit(n_buckets)))
            out = (
                out.coalesce(min(cap, n_buckets)) if not shuffle
                else out.repartition(min(cap, n_buckets), BUCKET_COL)
            )
            # near-free key clustering: the dynamic-partition writer
            # sorts each task's rows by the partition column anyway (to
            # keep one open file per dir); extending that sort with the
            # merge key makes every data file key-sorted, so parquet's
            # per-row-group key min/max become tight and point lookups
            # prune ROW GROUPS inside the (bucket, key-range)-admitted
            # files — the ORDER BY clustering Iceberg's
            # rewrite_data_files sort strategy provides.
            out = out.sortWithinPartitions(BUCKET_COL, self.key)
            (
                out.write.partitionBy(BUCKET_COL)
                .mode("errorifexists")
                .parquet(out_dir)
            )
        else:
            write_parquet(df, out_dir)
        entries: list[dict] = []
        for root, _dirs, names in os.walk(out_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                e = {"path": rel, "bucket": None, "rows": None}
                mb = re.search(rf"{BUCKET_COL}=(\d+)", rel)
                if mb:
                    e.update(bucket=int(mb.group(1)), key_type=key_type)
                entries.append(e)
        return entries

    @staticmethod
    def _count_rows(entries: list[dict], table_path: str, key: str) -> None:
        """Fill freshly written entries' row counts, ``_rev`` min/max and
        merge-key min/max from parquet footer statistics (no data read).
        The rev range drives file-skipping in ``read_changes``; the key
        range drives file-skipping in ``point_lookup`` — the Iceberg
        lower_bounds/upper_bounds manifest-stats analog."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _minmax(md, name):
            try:
                idx = md.schema.names.index(name)
            except ValueError:
                return None
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None  # stats disabled: never skipped
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            return (lo, hi) if hi is not None else None

        def _one(e):
            md = pq.ParquetFile(
                os.path.join(table_path, e["path"])
            ).metadata
            e["rows"] = md.num_rows
            if md.num_rows == 0:
                # an empty part file can't contain changes: give it a
                # below-everything rev range so read_changes skips it
                e["rev_min"] = e["rev_max"] = -(1 << 62)
                return
            mm = _minmax(md, REV_COL)
            if mm is not None:
                e["rev_min"], e["rev_max"] = int(mm[0]), int(mm[1])
            km = _minmax(md, key)
            if km is not None:
                lo, hi = km
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), \
                        hi.decode("utf-8", "replace")
                e["key_min"], e["key_max"] = lo, hi

        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(_one, entries))

    def rev_high(self, version: int | None = None) -> int:
        """Highest ``_rev`` committed as of ``version`` (the snapshot's
        change-log cursor), served from the manifest's file entries."""
        return max(
            (f["rev_max"] for f in self.manifest(version)["files"]
             if f.get("rev_max") is not None),
            default=-(1 << 62),
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        classify: bool = True,
    ) -> DataFrame:
        """Incremental change feed between two committed snapshots — the
        Iceberg changelog-scan / Delta Change Data Feed analog: the NET
        row-level change per key from the table state at ``from_version``
        to the state at ``to_version`` (default: current), as the
        after-image plus a ``_change_type`` column (INSERT /
        UPDATE_AFTER / DELETE, or UPSERT / DELETE with
        ``classify=False``). A key changed and changed back nets to its
        final state; a delete of a never-alive key is dropped.

        Both paths build two frames and pass them through ONE keyed
        aggregate:
        * ``new`` — the after-side rows.
          - In order: the rows above ``rev_high(from_version)``, read only
            from files whose footer ``_rev`` range reaches above it
            (compaction rewrites carry old revs and are skipped
            entirely, so the scan is proportional to NEW data, not table
            size). The ``_rev > rev_high(from_version)`` row filter is
            kept only when some such file lacks a footer ``rev_min`` or
            reaches down to the bound (a compaction rewrite inside the
            range); otherwise it is a no-op and left out, so consecutive
            increments plan the same generated code (Spark writes the
            bound into the code as a literal) and its cache serves them.
            ``classify=False`` returns ``last_event_wins`` of this single
            scan as the feed (a never-alive delete then still surfaces
            as DELETE).
          - Out of order: every row of the ``to_version`` state.
            Patch-by-replay of a withheld epoch writes rows at their
            ORIGINAL low seq as ``_rev``: it can insert brand-new keys
            or delete keys last touched before it — net changes below
            ``rev_high(from_version)`` that rev-based skipping would
            drop. Every row-adding append records the lowest rev it
            added (``appended_rev_min``); when any commit in
            ``(from, to]`` appended revs ≤ ``rev_high(from_version)``,
            the whole state is compared (correct for any rev order).
        * ``old`` — every ``from_version`` file's rows, projected to
          (key, ``_rev``, ``_deleted``).
        The plan depends on Spark's size estimate of ``new ∪ old``. At
        most ``spark.sql.autoBroadcastJoinThreshold``
        (``_fits_one_partition``), the union is read into one partition
        and aggregated there: no exchange, one Spark job, and the new
        files are scanned once. Above it, in order, ``old`` is first
        left-semi-joined to ``new``'s keys (no broadcast hint, so
        Spark's own estimate picks the join), so only the changed keys'
        rows reach the shuffle; out of order, the union is shuffled as
        it is.
        ``groupBy(key)`` over ``new ∪ old`` then takes each key's newest
        new row and its newest old ``(_rev, _deleted)``. No before-state
        dedup runs first: a per-key max commutes with a key filter, so
        the max over the key-filtered old rows IS the from-state image
        of each changed key. A key with no new row yields nothing; a
        key whose pair differs from the old one is a change, classified
        by whether the key was alive before. The aggregate, the
        changed-row predicate and the output projection are built once
        per column list (``_feed_exprs``); only the ``_rev`` bound is
        built per call.

        Retention: ``from_version``'s snapshot must still be fully
        retained — ``vacuum(keep_versions=...)`` deletes data files of
        old snapshots, so a consumer whose cursor lags beyond retention
        gets a loud error here (never a silently wrong feed). When
        tombstones are purged via ``compact(min_retained_rev=...)``,
        the same lower bound applies to the feed cursor: keep
        ``rev_high(cursor) ≥ min_retained_rev``."""
        m_to = self.manifest(to_version)
        if from_version > m_to["version"]:
            raise ValueError(
                f"read_changes from_version {from_version} is ahead of "
                f"to_version {m_to['version']} — a feed cursor can only "
                f"move forward"
            )
        schema = self.schema(to_version)
        self._check_retained(from_version)
        rev_a = self.rev_high(from_version)
        lo = self._min_appended_rev(from_version, m_to["version"])
        ex = _feed_exprs(tuple(schema.names), self.key, classify)
        old_files = self.manifest(from_version)["files"]
        schema_from = self.schema(from_version)
        in_order = lo is None or lo > rev_a
        if in_order:
            cand = [
                f for f in m_to["files"]
                if f.get("rev_max") is None or f["rev_max"] > rev_a
            ]
            new = self._read_files(spark, cand, schema)
            if any(f.get("rev_min") is None or f["rev_min"] <= rev_a
                   for f in cand):
                new = new.filter(F.col(REV_COL) > rev_a)
            if not classify:
                return last_event_wins(new, self.key, REV_COL).select(
                    *ex.scan_out)
        else:
            new = self._read_files(spark, m_to["files"], schema)
        new = new.select(*ex.new)
        old = self._read_files(spark, old_files, schema_from).select(*ex.old)
        rows = new.unionByName(old, allowMissingColumns=True)
        if _fits_one_partition(rows):
            rows = rows.coalesce(1)
        elif in_order:
            rows = new.unionByName(
                old.join(new.select(self.key), self.key, "left_semi"),
                allowMissingColumns=True)
        return (
            rows.groupBy(self.key).agg(*ex.agg)
            .where(ex.keep)
            .select(*ex.out)
        )

    def _check_retained(self, version: int | None) -> None:
        """Raise loudly if ``version``'s data files were vacuumed away.

        ``vacuum(keep_versions=K)`` deletes files referenced only by
        manifests older than the last K — a change-feed consumer whose
        cursor lags more than K versions behind must not get a partial
        (silently wrong) state reconstruction."""
        m = self.manifest(version)
        missing = [
            f["path"] for f in m["files"]
            if not os.path.exists(os.path.join(self.path, f["path"]))
        ]
        if missing:
            raise ValueError(
                f"snapshot v{m['version']} is no longer retained: "
                f"{len(missing)} data file(s) (first: {missing[0]}) were "
                f"removed, most likely by vacuum(keep_versions=...). A "
                f"change-feed cursor must stay within the vacuum "
                f"retention window; re-seed the consumer from a full "
                f"read_final snapshot instead."
            )

    def _min_appended_rev(self, from_version: int,
                          to_version: int) -> int | None:
        """Smallest ``_rev`` ADDED by any commit in
        ``(from_version, to_version]`` — the out-of-order (repair)
        detector for read_changes, served from the ``appended_rev_min``
        watermark that every row-adding append records."""
        revs = (self.manifest(v).get("appended_rev_min")
                for v in range(from_version + 1, to_version + 1))
        return min((r for r in revs if r is not None), default=None)

    def _next_manifest(self, operation: str) -> dict:
        m = self.manifest()
        return {
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": m["schema"],
            "key": m["key"],
            "n_buckets": m["n_buckets"],
            "files": list(m["files"]),
            "ledger": json.loads(json.dumps(m["ledger"])),
            "properties": dict(m["properties"]),
            "committed_at": time.time(),
            "operation": operation,
        }

    def evolve_schema(self, extra: T.StructType) -> None:
        """Additive column / numeric-widening evolution committed as its
        own snapshot (no-op when nothing changes; widening changes
        TYPES, not names, so the comparison is on the full schema)."""
        cur = self.schema()
        merged = merge_schemas(cur, extra)
        if json.loads(merged.json()) == json.loads(cur.json()):
            return
        nm = self._next_manifest("evolve-schema")
        nm["schema"] = json.loads(merged.json())
        self._publish(nm)

    def _align(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project df onto schema: missing columns → typed nulls, order fixed.
        A frame whose names and types already match is returned as is."""
        if [(f.name, f.dataType) for f in df.schema.fields] == \
                [(f.name, f.dataType) for f in schema.fields]:
            return df
        have = set(df.columns)
        cols = [
            F.col(f.name).cast(f.dataType) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols)

    def append_delta(
        self,
        df: DataFrame,
        *,
        pipeline_id: str = "default",
        epoch_id: int | None = None,
        stats_cb=None,
        staged: bool = False,
    ) -> dict:
        """Append an upsert/tombstone delta commit (the RMT part insert).

        ``df`` must carry payload columns + ``_rev`` + ``_deleted``. If
        ``epoch_id`` is given and already in the ledger, the commit is
        SKIPPED (exactly-once over at-least-once delivery). Ledger row and
        data files land in one atomic manifest publish.

        ``staged=True`` is the write half of write-audit-publish (the
        Iceberg WAP / branch-commit pattern): data files are written and
        the would-be manifest is saved UNSTAGED (``staged-<id>.json``,
        not linked into the version chain — invisible to every reader).
        Audit the staged state with ``read_staged``, then
        ``publish_staged`` (atomic, conflict-checked against commits
        that landed meanwhile) or ``abort_staged`` (removes the staged
        files). Returns ``{"staged": True, "staging_id": ...}``."""
        t0 = time.time()
        if epoch_id is not None and epoch_id in self.committed_epochs(pipeline_id):
            return {"skipped": True, "epoch": epoch_id}
        # auto-evolve: source carries columns the table lacks yet, or a
        # strictly wider lossless numeric type for an existing column
        # (int->long / float->double, Iceberg promotion rules)
        cur = self.schema()
        evolved = merge_schemas(cur, df.schema)
        if json.loads(evolved.json()) != json.loads(cur.json()):
            self.evolve_schema(df.schema)
        schema = self.schema()
        aligned = self._align(df, schema)
        sub = f"delta-{uuid.uuid4().hex[:12]}"
        entries = self._write_data(aligned, sub, n_buckets=None)
        for e in entries:
            e["kind"] = "delta"
        self._count_rows(entries, self.path, key=self.key)
        rows = sum(e["rows"] for e in entries)
        # data write (the action) is done — observed metrics are ready;
        # they land in the SAME atomic manifest commit as the data. A
        # failing callback (e.g. the caller's side write failed) aborts
        # the commit: nothing is published and the delta files go.
        try:
            extra = dict(stats_cb() or {}) if stats_cb is not None else {}
        except BaseException:
            shutil.rmtree(os.path.join(self._data_dir, sub), ignore_errors=True)
            raise

        def build_nm() -> dict:
            """Metadata for this append ON TOP OF the current head —
            rebuilt per commit attempt, so a lost publish race replans
            ONLY this JSON (the data files are immutable and
            parent-independent), never the data write: the Iceberg
            optimistic-commit-retry model."""
            nm = self._next_manifest("append-delta")
            nm["files"].extend(entries)
            # repair watermark: the rev range this commit ADDS.
            # read_changes uses it to detect out-of-order commits
            # (patch-by-replay of a withheld epoch carries its ORIGINAL
            # low seq as _rev) inside a feed range and fall back to a
            # full snapshot diff — rev-based file skipping would
            # silently drop such a commit's net changes (new keys
            # inserted, or old keys deleted, at a rev below the
            # consumer's high-water mark).
            revs = [e["rev_min"] for e in entries
                    if e.get("rev_min") is not None and e["rows"]]
            if revs:
                nm["appended_rev_min"] = min(revs)
                nm["appended_rev_max"] = max(
                    e["rev_max"] for e in entries
                    if e.get("rev_max") is not None and e["rows"]
                )
            if epoch_id is not None:
                led = nm["ledger"].setdefault(pipeline_id, {})
                led[str(epoch_id)] = {
                    "rows": rows,
                    "version": nm["version"],
                    "committed_at": time.time(),
                    "duration_ms": (time.time() - t0) * 1000.0,
                    **extra,
                }
            return nm

        nm = build_nm()
        if staged:
            sid = uuid.uuid4().hex[:12]
            data = json.dumps({
                "manifest": nm,
                "added": [e["path"] for e in entries],
                "data_sub": sub,
                "staged_at": time.time(),
            })
            # a dot-named temp file: staged_commits never lists a torn one
            tmp = os.path.join(self._manifest_dir, f".tmp-staged-{sid}.json")
            with open(tmp, "w") as f:
                f.write(data)
            os.replace(tmp, self._staged_path(sid))  # atomic on POSIX
            return {"skipped": False, "staged": True, "staging_id": sid,
                    "epoch": epoch_id, "rows": rows,
                    "parent_version": nm["parent"]}
        for attempt in range(_COMMIT_RETRIES + 1):
            try:
                self._publish(nm)
                return {"skipped": False, "epoch": epoch_id, "rows": rows,
                        "version": nm["version"]}
            except CommitConflict:
                # a concurrent writer took our version. The expensive
                # half (data files) is parent-independent — replan the
                # metadata on the new head and retry; only give up (and
                # clean the orphaned files) when retries are exhausted
                # or the racing writer committed OUR epoch.
                if (epoch_id is not None
                        and epoch_id in self.committed_epochs(pipeline_id)):
                    shutil.rmtree(os.path.join(self._data_dir, sub),
                                  ignore_errors=True)
                    return {"skipped": True, "epoch": epoch_id}
                if attempt == _COMMIT_RETRIES:
                    shutil.rmtree(os.path.join(self._data_dir, sub),
                                  ignore_errors=True)
                    raise
                nm = build_nm()

    # -------------------------------------------------- write-audit-publish
    def _staged_path(self, staging_id: str) -> str:
        return os.path.join(self._manifest_dir, f"staged-{staging_id}.json")

    def _load_staged(self, staging_id: str) -> dict:
        p = self._staged_path(staging_id)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"no staged commit {staging_id} at {self.path} (already "
                f"published or aborted?)"
            )
        with open(p) as f:
            return json.load(f)

    def read_staged(self, spark: SparkSession, staging_id: str) -> DataFrame:
        """The table state AS IF the staged commit were published — the
        audit surface of write-audit-publish. Runs the normal final-state
        read (``_final``) over the staged manifest's file set; no
        committed reader can see any of it."""
        nm = self._load_staged(staging_id)["manifest"]
        return self._final(spark, nm["files"],
                           schema_from_json(json.dumps(nm["schema"])))

    def publish_staged(self, staging_id: str) -> dict:
        """Atomically link a staged commit into the version chain.

        Conflict rule (strict, like Iceberg's fast-forward): the staged
        manifest's parent must still be the table head — a commit that
        landed after staging raises ``CommitConflict`` (re-stage on the
        new head; data files are immutable so re-staging re-plans only
        metadata). The ledger row staged with the commit publishes with
        it, so exactly-once still holds end-to-end."""
        st = self._load_staged(staging_id)
        nm = st["manifest"]
        head = self.current_version()
        if nm["parent"] != head:
            raise CommitConflict(
                f"staged commit {staging_id} has parent v{nm['parent']} "
                f"but the table head is v{head}: a commit landed after "
                f"staging. Abort and re-stage on the current head."
            )
        self._publish(nm)
        os.unlink(self._staged_path(staging_id))
        return {"published": True, "version": nm["version"],
                "staging_id": staging_id}

    def abort_staged(self, staging_id: str) -> dict:
        """Drop a staged commit: its data files (referenced by no
        committed manifest) and its staged metadata."""
        st = self._load_staged(staging_id)
        shutil.rmtree(
            os.path.join(self._data_dir, st["data_sub"]), ignore_errors=True
        )
        os.unlink(self._staged_path(staging_id))
        return {"aborted": True, "staging_id": staging_id,
                "removed_files": len(st["added"])}

    def staged_commits(self) -> list[str]:
        """Ids of pending staged commits (audit queue)."""
        return sorted(
            f[len("staged-"):-len(".json")]
            for f in os.listdir(self._manifest_dir)
            if f.startswith("staged-") and f.endswith(".json")
        )

    def compact_deltas(self, spark: SparkSession) -> dict:
        """MINOR compaction: fold the UNBUCKETED delta files (narrow
        epoch appends) into hash-bucketed delta files — every row
        version kept, no merge, one capped-writer repartition pass.
        After this, every file carries a bucket id, which is what makes
        bucket-subset major compaction possible: a bucket's rows then
        live ONLY in that bucket's files. This is the LSM L0→L1 fold;
        at 10^10-event scale it runs continuously on recent epochs while
        major compaction visits each bucket on its own cadence."""
        m = self.manifest()
        todo = [f for f in m["files"] if f.get("bucket") is None]
        if not todo:
            return {"compacted": False, "reason": "no-unbucketed-files"}
        df = self._read_files(spark, todo, self.schema())
        sub = f"deltab-v{m['version'] + 1}-{uuid.uuid4().hex[:8]}"
        entries = self._write_data(df, sub, n_buckets=m["n_buckets"])
        for e in entries:
            e["kind"] = "delta"
        self._count_rows(entries, self.path, key=self.key)
        nm = self._next_manifest("compact-minor")
        drop = {f["path"] for f in todo}
        nm["files"] = [
            f for f in nm["files"] if f["path"] not in drop
        ] + entries
        self._publish(nm)
        return {
            "compacted": True,
            "version": nm["version"],
            "bucketed_files": len(entries),
            "replaced_files": len(drop),
        }

    def compact(self, spark: SparkSession,
                buckets: set[int] | None = None,
                min_retained_rev: int | None = None,
                new_n_buckets: int | None = None) -> dict:
        """Fold deltas into unique-per-key, hash-bucketed base files —
        the ``OPTIMIZE TABLE … FINAL`` analog. Old files are dropped
        from the manifest (garbage-collectable); ledger is preserved.

        Tombstones are RETAINED in the base by default (one row per
        deleted key at its delete ``_rev``). That is the table's
        retention contract: a later replay of an OLDER withheld epoch
        (patch-by-replay, C5) carries a lower ``_rev`` than the
        tombstone, so the delete keeps winning max-``_rev`` dedup and
        the key cannot be resurrected. ``read_final`` filters
        tombstones at read time so results are unchanged. Pass
        ``min_retained_rev`` to PURGE tombstones with
        ``_rev < min_retained_rev`` — the replay horizon below which the
        caller guarantees no epoch will ever be replayed (running
        compact with a horizon on an all-base table is the standalone
        purge pass).

        ``buckets=None`` rewrites the whole table. ``buckets={...}``
        is MAJOR compaction of a bucket subset: only those buckets'
        files are read and rewritten — the incremental form a 100 TB
        table needs (never a full rewrite; each bucket compacts on its
        own schedule). Unbucketed deltas are folded first
        (``compact_deltas``) so the subset's rows are self-contained.
        While any file is bucketed under a key type since widened
        (``_hashed_bucket``), no subset is: the whole table is rewritten.

        ``new_n_buckets`` evolves the bucket count (grow when per-bucket
        size outruns executor memory) — a FULL rewrite by definition
        (every row re-hashes), so it requires ``buckets=None``. Older
        snapshots keep their own ``n_buckets`` in their manifests; the
        version-aware readers (``point_lookup``) use the manifest's
        value, never the live attribute."""
        if new_n_buckets is not None and buckets is not None:
            raise ValueError(
                "bucket-count evolution re-hashes every row: it requires "
                "a full compaction (buckets=None)"
            )
        if buckets is not None:
            self.compact_deltas(spark)
        m = self.manifest()
        kt = self.schema()[self.key].dataType.jsonValue()
        if buckets is not None and any(
                _hashed_bucket(f, kt) is None for f in m["files"]):
            buckets = None  # a widened key: no bucket is self-contained
        if buckets is None:
            target = list(m["files"])
        else:
            target = [f for f in m["files"] if f["bucket"] in buckets]
        if not target:
            return {"compacted": False, "reason": "no-files"}
        nb = m["n_buckets"] if new_n_buckets is None else new_n_buckets
        if (all(f.get("kind") == "base" for f in target)
                and min_retained_rev is None and nb == m["n_buckets"]):
            return {"compacted": False, "reason": "already-base"}
        schema = self.schema()
        # the bucket write keeps the aggregate's key-hash partitioning
        # (shuffle=False): at most one exchange for the whole compaction
        final = last_event_wins(self._read_files(spark, target, schema),
                                self.key, REV_COL)
        if min_retained_rev is not None:
            final = final.filter(
                ~F.col(DELETED_COL) | (F.col(REV_COL) >= min_retained_rev)
            )
        sub = f"base-v{m['version'] + 1}-{uuid.uuid4().hex[:8]}"
        entries = self._write_data(final, sub, n_buckets=nb, shuffle=False)
        for e in entries:
            e["kind"] = "base"
        self._count_rows(entries, self.path, key=self.key)
        nm = self._next_manifest(
            "compact" if buckets is None else "compact-buckets"
        )
        nm["n_buckets"] = nb
        drop = {f["path"] for f in target}
        kept = [f for f in nm["files"] if f["path"] not in drop]
        nm["files"] = kept + entries if buckets is not None else entries
        self._publish(nm)
        # only once a manifest records the new count: a failed write or
        # publish leaves this instance hashing as the head manifest does
        self.n_buckets = nb
        return {
            "compacted": True,
            "version": nm["version"],
            "base_files": len(entries),
            "rows": sum(e["rows"] for e in entries),
            "replaced_files": len(drop),
        }

    def stats(self) -> dict:
        """Operational summary from the manifest chain only (no job):
        sizes, layout, merge-on-read debt, commit counts — the
        DESCRIBE EXTENDED / table-metrics surface."""
        m = self.manifest()
        files = m["files"]
        base = [f for f in files if f.get("kind") == "base"]
        delta = [f for f in files if f.get("kind") != "base"]
        plan = self.plan_compaction()
        return {
            "version": m["version"],
            "n_buckets": m["n_buckets"],
            "files": len(files),
            "base_files": len(base),
            "delta_files": len(delta),
            "base_rows": sum(f["rows"] or 0 for f in base),
            "delta_rows": sum(f["rows"] or 0 for f in delta),
            "rev_high": self.rev_high(),
            "committed_epochs": {
                p: len(led) for p, led in m["ledger"].items()
            },
            "staged_commits": self.staged_commits(),
            "compaction_due": bool(plan["minor"] or plan["buckets"]),
            "schema_fields": len(m["schema"].get("fields", [])),
        }

    def clone_to(self, dest: str) -> "LakeTable":
        """Zero-copy snapshot clone: hard-link the CURRENT version's
        data files under ``dest`` and start a fresh manifest chain at
        v0 referencing them — the Delta SHALLOW CLONE / Iceberg
        snapshot-table analog for dev/test forks. The clone is fully
        independent going forward (its own commits, ledger, vacuum);
        hard links mean the shared immutable files cost no extra
        storage, and either side vacuuming its link never deletes the
        other's (link count protects the inode). Requires dest on the
        same filesystem."""
        m = self.manifest()
        os.makedirs(os.path.join(dest, "manifest"), exist_ok=False)
        os.makedirs(os.path.join(dest, "data"), exist_ok=True)
        files = []
        for f in m["files"]:
            src = os.path.join(self.path, f["path"])
            dst = os.path.join(dest, f["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
            files.append(dict(f))
        t = LakeTable(dest, key=self.key, n_buckets=m["n_buckets"])
        t._publish_root(
            m["schema"], files, json.loads(json.dumps(m["ledger"])),
            dict(m["properties"]),
            operation=f"clone-of-{self.path}@v{m['version']}",
        )
        return t

    def plan_compaction(
        self,
        max_delta_rows_per_bucket: int = 1_000_000,
        max_delta_files_per_bucket: int = 8,
        max_unbucketed_files: int = 32,
    ) -> dict:
        """Maintenance scheduling from MANIFEST STATS ONLY (no job, no
        scan): which buckets' merge-on-read debt exceeds the thresholds,
        and whether the unbucketed L0 (raw epoch appends) needs a minor
        fold first. The per-bucket cadence a 10^10-row table runs on —
        call on a timer, feed ``buckets`` into ``compact``:

            plan = table.plan_compaction()
            if plan["minor"]:
                table.compact_deltas(spark)
            if plan["buckets"]:
                table.compact(spark, buckets=plan["buckets"])

        Unbucketed delta rows are counted against EVERY bucket's debt
        (their rows may land anywhere), which is why the minor fold runs
        first — it converts L0 debt into per-bucket debt that this
        planner can then localize."""
        m = self.manifest()
        unb_files = [f for f in m["files"] if f.get("bucket") is None]
        unb_rows = sum(f["rows"] or 0 for f in unb_files)
        rows: dict[int, int] = {}
        nfiles: dict[int, int] = {}
        for f in m["files"]:
            b = f.get("bucket")
            if b is None or f.get("kind") == "base":
                continue
            rows[b] = rows.get(b, 0) + (f["rows"] or 0)
            nfiles[b] = nfiles.get(b, 0) + 1
        due = {
            b for b in set(rows) | set(nfiles)
            if rows.get(b, 0) + unb_rows > max_delta_rows_per_bucket
            or nfiles.get(b, 0) > max_delta_files_per_bucket
        }
        minor = (
            len(unb_files) > max_unbucketed_files
            or unb_rows > max_delta_rows_per_bucket
            or (bool(unb_files) and bool(due))
        )
        return {
            "minor": minor,
            "buckets": due,
            "unbucketed_files": len(unb_files),
            "unbucketed_rows": unb_rows,
            "delta_rows_by_bucket": rows,
        }

    def vacuum(self, keep_versions: int = 2) -> int:
        """Delete data files unreferenced by the last ``keep_versions``
        manifests (snapshot-expiry analog), each with its ``.crc``
        sidecar, the temp files of driver writes a crash interrupted, and
        write directories left holding only commit markers. Returns the
        number of data files removed. ``keep_versions`` must be at least
        1: the head snapshot is always kept."""
        if keep_versions < 1:
            raise ValueError(
                f"vacuum keep_versions must be >= 1 (got {keep_versions}): "
                f"0 would delete the live snapshot's data files")
        cur = self.current_version() or 0
        keep: set[str] = set()
        for v in range(max(0, cur - keep_versions + 1), cur + 1):
            if os.path.exists(os.path.join(self._manifest_dir, f"v{v}.json")):
                keep.update(f["path"] for f in self.manifest(v)["files"])
        # pending staged (write-audit-publish) commits reference files no
        # committed manifest does yet — they are not garbage
        for sid in self.staged_commits():
            staged = self._load_staged(sid)
            keep.update(f["path"] for f in staged["manifest"]["files"])
        removed = 0
        for root, _dirs, names in os.walk(self._data_dir, topdown=False):
            for name in names:
                # a checksummed file system's sidecar of file X is .X.crc
                of = (name[1:-len(".crc")]
                      if name.startswith(".") and name.endswith(".crc")
                      else name)
                if of.endswith(".parquet"):
                    if os.path.relpath(os.path.join(root, of),
                                       self.path) in keep:
                        continue
                elif not of.endswith(_TMP_SUFFIX):
                    continue  # a marker, or no file of the engine's
                os.unlink(os.path.join(root, name))
                removed += name.endswith(".parquet")
            if root != self._data_dir and set(os.listdir(root)) <= _MARKERS:
                shutil.rmtree(root)
        return removed
