"""The transactional keyed store behind foreachBatch sinks and the
persistent indexes (§3.2, K2/K4/M1-M4).

The reference's upserts are transactional (``ON CONFLICT ... DO UPDATE``
inside a connection transaction, enhanced_kpi_consumer.py:395-434). The
Spark restatement is ONE store implementation on plain parquet:

- :class:`MultiRelationTransactionalStore` — N named relations under one
  optimistic-concurrency commit log. The key space of every relation is
  hash-bucketed; a commit stages ONLY the buckets it touches under a
  unique snapshot dir, then atomically claims the next version number
  with an exclusive hard link (``os.link`` fails with EEXIST if the
  version is taken — the same claim primitive Delta's log protocol
  relies on for its ``_delta_log/N.json`` files). The commit marker is a
  MANIFEST mapping each bucket to its snapshot dirs, so untouched
  buckets are inherited by pointer, never copied (Delta's file-level
  MERGE). A losing writer re-reads the new base, re-applies its fold,
  and retries; readers only ever see fully-committed versions, so reads
  are snapshot-isolated and a crash mid-write leaves at most an
  unreferenced staging dir (cleaned by ``vacuum``).

- :class:`BucketedTransactionalStore` — the single-relation facade the
  streaming sinks and the warehouse loader use: a one-relation store
  plus last-writer-wins ``merge`` / ``write_snapshot``. ``n_buckets=1``
  gives the whole-table shape (one file per commit) for small folded
  state such as the streaming sketches.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.mutations import (
    last_write_wins,
    merge_upsert,
)

# -- OCC commit-log primitives -----------------------------------------------------


def _occ_current_version(commits_dir: str) -> int:
    versions = [int(f) for f in os.listdir(commits_dir) if f.isdigit()]
    return max(versions, default=0)


def _nullable_schema(schema):
    """The schema with every field FULLY recursively nullable (struct
    members, array elements, map values included) — parquet round-trips
    Spark frames with all fields optional, so a cached read schema must
    be at least as permissive as footer inference would have produced;
    a write-primed cache that kept a staged frame's non-null NESTED
    flag could otherwise silently misread another commit's nulls
    (ADVICE r14)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def relax(dt):
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, relax(f.dataType), True, f.metadata)
                    for f in dt
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(relax(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(relax(dt.keyType), relax(dt.valueType), True)
        return dt

    return relax(schema)


def _staged_write_tasks(spark, n_groups: int) -> int:
    """Task count for a staged bucketed write: one task per (rel,
    bucket) group UP TO the cluster's parallelism, beyond which groups
    share tasks. The hash repartition on the partition columns keeps
    each group wholly inside one task, and the dynamic-partition
    writer emits one file per group either way (it task-locally sorts
    on the partition columns and rolls a new file per value), so the
    file layout — and therefore every reader — is unchanged; only the
    per-task fixed cost (writer init, output-commit round trip) stops
    being paid n_groups times when n_groups far exceeds the cores
    (measured: the 80-task postings staged write burned ~0.4s/task of
    non-CPU executor time at batch sizes where the whole write is
    <3 MB — guide §2.2/§6 scale-adaptive partitioning). On a real
    cluster defaultParallelism >= n_groups and the count is identical
    to the one-task-per-group shape."""
    return max(1, min(n_groups, spark.sparkContext.defaultParallelism))


# Retired-epoch records are IMMUTABLE once published (write→fsync→
# exclusive-link, never modified), so their contents can be cached for
# the process lifetime: epochs-dir identity -> (filenames already read,
# epochs). Without this every epoch-guarded commit re-reads every
# retired record — O(total epochs ever vacuumed) JSON opens per commit,
# unbounded for a long-lived stream. A fresh process just starts with a
# cold cache. The key is (path, device, inode, GENERATION) — not the
# path alone (the round-8 path-keyed staleness hole — ADVICE r8
# stores.py:77), and not just (path, dev, inode) either: ext4/xfs
# readily recycle a just-freed inode, so delete-then-recreate at the
# same path can mint an _epochs dir with an identical (path, dev,
# inode) triple (ADVICE r9 stores.py:89). The generation is a uuid
# marker file written ONCE at _epochs-dir creation (write→fsync→
# exclusive-link, first creator wins — the same publish protocol as
# the records), so a recreated store can never inherit a dead store's
# retired epochs whatever the filesystem does with inode numbers.
_RETIRED_EPOCH_CACHE: dict = {}


def _epochs_generation(epochs_dir: str) -> str | None:
    """The _epochs dir's write-once generation uuid; mints one (first
    exclusive link wins, so every process agrees) for pre-generation
    dirs. None when the dir is unreadable/unwritable — the caller then
    skips the cache entirely, which is always correct, just slower."""
    marker = os.path.join(epochs_dir, ".generation")
    try:
        with open(marker) as fh:
            return fh.read()
    except OSError:
        pass
    tmp = os.path.join(epochs_dir, f".tmp-gen-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
        with open(marker) as fh:
            return fh.read()
    except OSError:
        return None


def _epochs_cache_key(epochs_dir: str) -> tuple | None:
    try:
        st = os.stat(epochs_dir)
    except OSError:
        return None
    gen = _epochs_generation(epochs_dir)
    if gen is None:
        return None
    return (epochs_dir, st.st_dev, st.st_ino, gen)


def _read_epoch_record(path: str) -> list:
    """One retired-epoch record: either the r7 single-epoch shape
    ``{"epoch": e}`` or the folded shape ``{"epochs": [...]}``."""
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return []
    if "epochs" in rec:
        return list(rec["epochs"])
    e = rec.get("epoch")
    return [] if e is None else [e]


def _occ_committed_epochs(commits_dir: str) -> set:
    """Epochs recorded by already-committed versions (see
    ``apply_keyed``'s ``epoch`` param) PLUS epochs retired into
    ``_epochs/`` by vacuum — so the idempotence window is the store's
    whole history, not just the marker-retention window (a replay of an
    epoch older than ``vacuum(keep=...)`` must still no-op, or
    t15/t17/t19's sum-folds would double-count). Cost per call: one tiny
    JSON read per RETAINED version (bounded by ``vacuum(keep=...)``) + a
    listdir of the retired sidecar; retired records are immutable so
    each is read at most once per process (``_RETIRED_EPOCH_CACHE``),
    and vacuum folds each pruning pass's epochs into ONE record, so the
    sidecar grows with vacuum invocations, not epochs."""
    out: set = set()
    for f in os.listdir(commits_dir):
        if not f.isdigit():
            continue
        try:
            with open(os.path.join(commits_dir, f)) as fh:
                e = json.load(fh).get("epoch")
        except (OSError, json.JSONDecodeError):
            continue
        if e is not None:
            out.add(e)
    epochs_dir = os.path.join(commits_dir, "_epochs")
    cache_key = _epochs_cache_key(epochs_dir)
    if cache_key is not None:
        seen, cached = _RETIRED_EPOCH_CACHE.setdefault(
            cache_key, (set(), set())
        )
        for f in os.listdir(epochs_dir):
            if f.startswith(".") or f in seen:
                continue
            epochs = _read_epoch_record(os.path.join(epochs_dir, f))
            # a record is immutable AND complete once linked into place,
            # so it is safe to remember the filename even on a read that
            # yielded nothing (corrupt/foreign files stay skipped)
            seen.add(f)
            cached.update(epochs)
        out |= cached
    else:
        # No cache key means either the dir doesn't exist (nothing to
        # read) or the generation marker is unavailable — a pre-existing
        # store on a read-only mount, a filesystem without hard links,
        # EPERM. Losing the CACHE there is fine; losing the SIDECAR is
        # not: a replayed epoch older than vacuum retention would stop
        # being recognized as committed and double-commit. So read the
        # retired records uncached — correctness never depends on write
        # access to the store (ADVICE r10 stores.py:167).
        try:
            names = os.listdir(epochs_dir)
        except OSError:
            names = []
        for f in names:
            if f.startswith("."):
                continue
            out.update(_read_epoch_record(os.path.join(epochs_dir, f)))
    return out


def _occ_retire_epochs(commits_dir: str, versions: list) -> None:
    """Fold the epoch records of about-to-be-pruned commit markers into
    the durable ``_epochs/`` sidecar BEFORE vacuum unlinks them, so
    retention never shrinks the idempotence window. ALL of one pruning
    pass's epochs land in ONE content-addressed record ``{"epochs":
    [...]}`` — the sidecar's file count grows with vacuum invocations,
    not with epochs, keeping ``_occ_committed_epochs``'s listdir
    bounded for a long-lived stream. Published with the same
    write→fsync→exclusive-link protocol as the markers (a reader never
    sees a half-written record; two vacuums racing over the same
    version set fold identical lists and resolve by EEXIST; records
    are immutable once linked, which is what licenses the read-side
    cache). A deployment whose epochs are monotone per-writer batch
    ids would compact further to a max-per-writer record (Delta's txn
    appId model); the sidecar keeps arbitrary epoch values correct."""
    import hashlib

    epochs_dir = os.path.join(commits_dir, "_epochs")
    epochs = []
    for v in sorted(versions):
        try:
            with open(os.path.join(commits_dir, str(v))) as fh:
                e = json.load(fh).get("epoch")
        except (OSError, json.JSONDecodeError):
            continue
        if e is not None:
            epochs.append(e)
    if not epochs:
        return
    os.makedirs(epochs_dir, exist_ok=True)
    # stamp the dir's generation at creation (no-op when already
    # stamped) — see _epochs_cache_key
    _epochs_generation(epochs_dir)
    payload = json.dumps({"epochs": epochs}, sort_keys=True, default=str)
    digest = hashlib.md5(payload.encode()).hexdigest()
    tmp = os.path.join(epochs_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, os.path.join(epochs_dir, digest))
    except FileExistsError:
        pass
    finally:
        os.unlink(tmp)


def _occ_try_claim(commits_dir: str, version: int, payload: dict) -> bool:
    """Atomically claim ``version`` with ``payload`` as the marker body.

    The content is fully written and fsynced BEFORE the exclusive
    ``os.link`` publishes it, so any reader that can see the marker sees
    a complete pointer. Returns False when another writer already owns
    the version (EEXIST)."""
    tmp = os.path.join(commits_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, os.path.join(commits_dir, str(version)))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def claim_layout_meta(meta_path: str, meta: dict) -> dict:
    """Pin a layout-defining JSON file: publish ``meta`` at
    ``meta_path`` unless one is already there (write tmp, exclusive
    ``os.link``, first creator wins) and return the PERSISTED meta —
    ``meta`` itself when this call created the file, the winner's
    otherwise. Every store and index pins its layout constants this
    way; the caller decides what a mismatch means (error, inherit)."""
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    try:
        os.link(tmp, meta_path)
        return meta
    except FileExistsError:
        with open(meta_path) as fh:
            return json.load(fh)
    finally:
        os.unlink(tmp)


class StoreVersionConflict(RuntimeError):
    """A writer that pinned ``require_version`` found the store moved
    past it before its attempt could commit. The caller owns the
    recomputation: its staged fold closed over frames derived from the
    pinned version, so retrying with the SAME closure would fold fresh
    rows against a stale snapshot (the compact-race hazard) — rebuild
    the snapshot-derived state at the new version, then try again."""


class MultiRelationTransactionalStore:
    """N named bucketed relations under ONE OCC commit log: a commit
    covers every relation ATOMICALLY, staged by a SINGLE Spark write.

    Each relation keeps its own key columns and bucket hashing; one
    commit stages ALL relations' touched buckets under one snapshot dir
    (``__rel=<name>/__bucket=<NN>`` partition dirs, written by ONE job
    over the relations' unioned frames) and one exclusive hard link
    publishes a manifest covering every relation. An index that
    maintains several relations per ingest (e.g. the MinHash band
    index's band keys + shingle profiles) therefore pays one commit
    cycle per batch, and a crash can never leave its relations
    inconsistent. A 1-key update into a 10 TB store rewrites
    ~1/n_buckets of one relation.

    A bucket's manifest entry is a LIST of snapshot dirs (Delta's
    add-file model): :meth:`append_keyed` — the ingest hot path —
    stages ONLY the update rows and appends a pointer, so an append
    commit costs O(batch) however big the store is (reading + rewriting
    the touched buckets, as :meth:`apply_keyed` folds do, would make
    every append O(store)). Reads concatenate a bucket's dir list;
    :meth:`compact` folds each list back to one dir on the maintenance
    cadence, bounding small-file growth.

    Layout under ``path``::

        _meta.json                  {"n_buckets": N, "relations": {rel: keys}}
                                    — pinned at creation; every writer
                                    MUST use the same bucketing or
                                    merges would read the wrong buckets
        _snapshots/<uuid>/__rel=<name>/__bucket=<NN>/  touched buckets
        _commits/<N>                {"manifest": {rel: {"NN": ["<uuid>", ...]}},
                                     "epoch": optional idempotence marker}

    Constraints:
    - every :meth:`apply_keyed` / :meth:`append_keyed` call passes
      updates for EVERY relation (empty frames are fine) — staged files
      then always carry the same union schema, so cross-commit reads
      never mix schemas;
    - relations sharing a column name must share its type (the staging
      union is by name, missing columns null-filled);
    - per-relation reads select their own columns (the union schema's
      other columns are all-null and pruned by parquet column pruning).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        relations: dict[str, list[str]],
        n_buckets: int | None = None,
        max_retries: int = 10,
    ):
        if not relations:
            raise ValueError("need at least one relation")
        self.spark = spark
        self.path = path
        self.relations = dict(relations)
        self.max_retries = max_retries
        # Cached UNION file schema of this store's staged files: every
        # commit stages the same union schema (a documented constraint
        # of this store), so schema inference — a per-`spark.read.parquet`
        # driver cost of ~100-200ms (footer read + file listing) — needs
        # to run at most ONCE per store instance; writes prime it for
        # free from the staged frame (guide §5: keep the driver out of
        # the data path).
        self._file_schema = None
        os.makedirs(os.path.join(path, "_snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)
        # n_buckets and the relation keys are part of the on-disk
        # layout: a writer opening an existing store with different
        # values would hash keys into the WRONG buckets and silently
        # duplicate them. The first creator pins them; later opens
        # inherit n_buckets (None) or must match.
        want = {
            "n_buckets": 16 if n_buckets is None else n_buckets,
            "relations": {r: list(k) for r, k in sorted(relations.items())},
        }
        persisted = claim_layout_meta(os.path.join(path, "_meta.json"), want)
        if "relations" not in persisted:
            raise ValueError(
                f"store at {path} has the old single-relation bucketed "
                "layout (_meta.json without 'relations', commit manifests "
                "mapping bucket -> one snapshot dir); this build reads "
                "the multi-relation layout only — rebuild the store "
                "(re-load its source into a fresh path)"
            )
        if persisted["relations"] != want["relations"]:
            raise ValueError(
                f"store at {path} has relations {persisted['relations']}; "
                f"got {want['relations']}"
            )
        if n_buckets is not None and persisted["n_buckets"] != n_buckets:
            raise ValueError(
                f"store at {path} was created with "
                f"n_buckets={persisted['n_buckets']}; got {n_buckets} — "
                "pass None to inherit"
            )
        self.n_buckets = persisted["n_buckets"]

    @property
    def prune_probes(self) -> bool:
        """Prune-vs-scan rule for keyed probes: the touched-bucket
        collect of :meth:`read_keys` is a whole Spark job over the probe
        keys; at rig-small bucket counts lazily listing every bucket dir
        (:meth:`read`, then the caller's join still filters) is cheaper
        than running it. Large layouts (buckets_for_corpus sizing) MUST
        prune — that is what makes probes O(batch)."""
        return self.n_buckets > 64

    # -- commit-log primitives (shared OCC protocol) ---------------------------

    def _commits_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def current_version(self) -> int:
        return _occ_current_version(self._commits_dir())

    def epoch_committed(self, epoch) -> bool:
        """True iff this idempotent-commit marker was already committed
        (or retired into the _epochs sidecar by vacuum). Callers with
        EXPENSIVE precondition probes (PostingsIndex.merge's overlap
        check) test this first so a replayed commit skips the probe —
        append_keyed/apply_keyed would no-op it anyway, but only after
        the caller had paid for staging."""
        return epoch is not None and epoch in _occ_committed_epochs(
            self._commits_dir()
        )

    def relation_populated(self, rel: str) -> bool:
        """True iff the CURRENT committed manifest lists any snapshot
        for ``rel`` — a pure manifest check, no Spark job. Write-path
        callers gate their replaced-version probes on it so a bootstrap
        append into an empty store skips the probe subplan (and its
        checkpoint barrier) outright; see PostingsIndex.append."""
        manifest = self._manifest(self.current_version())
        return bool(manifest and manifest.get(rel))

    def _manifest(self, version: int) -> dict[str, dict[str, list[str]]] | None:
        """{rel: {bucket: [snapshot, ...]}} — a bucket's rows are the
        concatenation of its snapshot-dir list (appends add pointers;
        rewrites/compaction collapse the list to one)."""
        marker = os.path.join(self._commits_dir(), str(version))
        if version <= 0 or not os.path.exists(marker):
            return None
        with open(marker) as fh:
            return json.load(fh)["manifest"]

    def _try_commit(
        self, version: int, manifest: dict[str, dict[str, list[str]]], epoch=None
    ) -> bool:
        payload: dict = {"manifest": manifest}
        if epoch is not None:
            payload["epoch"] = epoch
        return _occ_try_claim(self._commits_dir(), version, payload)

    def _snapshot_dir(self, snapshot: str) -> str:
        return os.path.join(self.path, "_snapshots", snapshot)

    # the partition columns/dirs use dunder names so a data column named
    # "bucket" is never clobbered, and the underscore prefix hides the
    # dirs from accidental recursive partition discovery
    def _bucket_path(self, snapshot: str, rel: str, bucket: str) -> str:
        return os.path.join(
            self._snapshot_dir(snapshot), f"__rel={rel}", f"__bucket={bucket}"
        )

    def _paths(
        self, rel: str, rel_manifest: dict[str, list[str]], buckets=None
    ) -> list[str]:
        """Every snapshot dir of ``rel``'s buckets (all, or only those in
        ``buckets``) — a bucket's rows are its whole dir list."""
        return [
            self._bucket_path(s, rel, b)
            for b, names in rel_manifest.items()
            if buckets is None or b in buckets
            for s in names
        ]

    def _read_parquet(self, *paths: str) -> DataFrame:
        """Parquet read with the cached union file schema (all staged
        files carry it — the class's documented schema constraint), so
        footer inference runs at most once per store instance."""
        if self._file_schema is None:
            df = self.spark.read.parquet(*paths)
            self._file_schema = _nullable_schema(df.schema)
            return df
        return self.spark.read.schema(self._file_schema).parquet(*paths)

    def _prime_file_schema(self, all_df: DataFrame) -> None:
        """Derive the union FILE schema from a staged frame: partitionBy
        moves __rel/__bucket into directory names, so the files hold
        exactly the remaining columns. Primed BEFORE the commit claim:
        sound only because every commit stages the same union schema
        (the class's documented constraint), so a schema from a write
        that later fails or loses its claim still describes every
        committed file (ADVICE r14)."""
        drop = {"__rel", "__bucket"}
        from pyspark.sql.types import StructType

        self._file_schema = _nullable_schema(
            StructType([f for f in all_df.schema if f.name not in drop])
        )

    def _written_buckets(self, snapshot: str, rel: str) -> set[str]:
        d = os.path.join(self._snapshot_dir(snapshot), f"__rel={rel}")
        if not os.path.isdir(d):
            return set()
        return {
            e.split("=", 1)[1] for e in os.listdir(d) if e.startswith("__bucket=")
        }

    def _bucket_expr(self, rel: str):
        return F.pmod(
            F.xxhash64(*self.relations[rel]), F.lit(self.n_buckets)
        ).cast("int")

    def _tagged(self, rel: str, df: DataFrame) -> DataFrame:
        return df.withColumn("__rel", F.lit(rel)).withColumn(
            "__bucket", self._bucket_expr(rel)
        )

    def _stage(self, parts: list[DataFrame], n_groups: int) -> str:
        """Write the :meth:`_tagged` frames as ONE uncommitted snapshot
        dir and return its name. Each (rel, bucket) is co-located before
        partitionBy: ONE file per rewritten bucket per commit instead of
        (tasks x buckets) shards — the bucket-sized shuffle is tiny next
        to listing/opening hundreds of micro-files on every subsequent
        read. Task count is parallelism-capped (_staged_write_tasks):
        same files, fewer write tasks."""
        all_df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        name = uuid.uuid4().hex
        self._prime_file_schema(all_df)
        (
            all_df.repartition(
                _staged_write_tasks(self.spark, n_groups), "__rel", "__bucket"
            )
            .write.partitionBy("__rel", "__bucket")
            .mode("overwrite")
            .parquet(self._snapshot_dir(name))
        )
        return name

    def _drop_snapshot(self, name: str) -> None:
        shutil.rmtree(self._snapshot_dir(name), ignore_errors=True)

    def _check_relations(self, frames: dict, op: str) -> None:
        if set(frames) != set(self.relations):
            raise ValueError(
                f"{op} needs updates for every relation "
                f"{sorted(self.relations)}; got {sorted(frames)}"
            )

    # -- store interface --------------------------------------------------------

    def read(self, rel: str, version: int | None = None) -> DataFrame | None:
        """Latest committed rows of one relation, or — with ``version``
        — the rows AS OF that still-retained committed version. None for
        an uncommitted version AND for a committed-empty relation (zero
        rows write zero bucket dirs, so there is no parquet schema to
        surface — callers treat both as 'no rows').
        Multi-read consumers (the postings pruned serve's stats +
        postings + forward sequence) pin ``current_version()`` once and
        pass it to every read so a concurrent commit mid-sequence
        cannot split the serve across two states (snapshot isolation
        is per-read by default, not per-serve)."""
        manifest = self._manifest(
            self.current_version() if version is None else version
        )
        if not manifest or not manifest.get(rel):
            return None
        return self._read_parquet(*self._paths(rel, manifest[rel]))

    def read_keys(
        self,
        rel: str,
        keys: DataFrame,
        broadcast_keys: bool = False,
        version: int | None = None,
    ) -> DataFrame | None:
        """Bucket-pruned keyed lookup on one relation: scan ONLY the
        buckets the requested keys hash to, then LEFT SEMI the key set.

        A point lookup in an N-bucket store therefore reads ~1/N of its
        files — the serving-path read the bucketed layout exists for
        (the write side already rewrites only touched buckets; this is
        the symmetric read optimization). The bucket set is a bounded
        collect (<= n_buckets rows, same bound as apply_keyed). Returns
        None when the store is empty or no requested bucket has data
        (no rows either way). Probe-heavy callers skip the collect on
        rig-small layouts with :attr:`prune_probes`.

        ``broadcast_keys=True`` hints the semi-join to broadcast the
        key frame — pass it ONLY when the key set is bounded by
        construction (e.g. the ANN probe path: <= n_centroids cluster
        ids). Without the hint the planner may pick a sort-merge semi
        join, which shuffles the STORE side on the key — and when the
        key is a cluster id, a hot cluster concentrates that exchange
        (the round-11 skew measurement's one adverse plan shape; with
        the broadcast the store side keeps its scan partitioning and a
        hot bucket's files still split by maxPartitionBytes). Leave it
        False for batch-sized key frames (delete lookups, suspect
        probes) where forcing a broadcast could OOM the driver.

        ``version``: read AS OF that committed version (see
        :meth:`read`) instead of the call-time latest."""
        manifest = self._manifest(
            self.current_version() if version is None else version
        )
        if not manifest or not manifest.get(rel):
            return None
        kd = keys.select(*self.relations[rel]).distinct()
        touched = {
            str(r["__bucket"])
            for r in kd.withColumn("__bucket", self._bucket_expr(rel))
            .select("__bucket")
            .distinct()
            .collect()
        }
        paths = self._paths(rel, manifest[rel], touched)
        if not paths:
            return None
        if broadcast_keys:
            kd = F.broadcast(kd)
        return self._read_parquet(*paths).join(
            kd, self.relations[rel], "left_semi"
        )

    def apply_keyed(self, updates: dict[str, DataFrame], fn, epoch=None) -> None:
        """Atomic multi-relation OCC partial-rewrite read-modify-write.

        ``updates`` maps EVERY relation name to its update frame;
        ``fn(rel, current_touched_or_None, upd) -> merged_touched`` MUST
        be key-local per relation — a key's output rows derive only from
        that key's current + update rows (upserts, per-key aggregate
        folds). That property is what makes restricting ``current`` to
        the touched buckets exact. One touched-bucket collect, ONE
        staged write job over all relations, one commit claim. A lost
        commit race re-reads the new base manifest and re-applies
        ``fn``, so concurrent commits (including to the same bucket)
        are never lost.

        ``epoch`` makes the commit IDEMPOTENT per epoch (Delta's txn
        appId/version idea): the epoch is recorded in the commit marker,
        and a call whose epoch some committed version already carries
        is a no-op — so a non-idempotent fold (e.g. a CMS sum-merge)
        replayed by an at-least-once foreachBatch can pass its batch_id
        and never double-counts. The check re-runs inside the retry
        loop, so a lost race against a same-epoch twin resolves to
        exactly one merge.
        """
        self._check_relations(updates, "apply_keyed")
        upd = {
            rel: df.withColumn("__bucket", self._bucket_expr(rel))
            for rel, df in updates.items()
        }
        # ONE bounded collect across all relations (<= n_rel * n_buckets)
        tagged = [
            df.select(F.lit(rel).alias("__rel"), "__bucket").distinct()
            for rel, df in upd.items()
        ]
        touched: dict[str, list[str]] = {rel: [] for rel in self.relations}
        for r in reduce(lambda a, b: a.unionByName(b), tagged).collect():
            touched[r["__rel"]].append(str(r["__bucket"]))
        n_touched = sum(len(v) for v in touched.values())
        if n_touched == 0:
            return
        upd_data = {rel: df.drop("__bucket") for rel, df in upd.items()}
        for _ in range(self.max_retries):
            if self.epoch_committed(epoch):
                return
            base_version = self.current_version()
            base = self._manifest(base_version) or {}
            parts = []
            for rel in sorted(self.relations):
                cur_paths = self._paths(rel, base.get(rel, {}), touched[rel])
                current = (
                    self._read_parquet(*cur_paths) if cur_paths else None
                )
                parts.append(self._tagged(rel, fn(rel, current, upd_data[rel])))
            name = self._stage(parts, n_touched)
            # manifest entries come from the dirs the write ACTUALLY
            # produced: a key-local fn may legitimately empty a touched
            # bucket (deletion fold), and pointing the manifest at a
            # nonexistent dir would make every subsequent read() throw
            manifest = {rel: dict(base.get(rel, {})) for rel in self.relations}
            for rel in self.relations:
                written = self._written_buckets(name, rel)
                for b in touched[rel]:
                    if b in written:
                        # a fold REPLACES the bucket's whole dir list
                        manifest[rel][b] = [name]
                    else:
                        manifest[rel].pop(b, None)
            if self._try_commit(base_version + 1, manifest, epoch=epoch):
                return
            # lost the race: another writer committed base_version+1
            # first; drop our stale staging dir, re-read, re-apply
            self._drop_snapshot(name)
        raise RuntimeError(
            f"apply_keyed on {self.path} lost {self.max_retries} consecutive commit races"
        )

    def append_keyed(
        self, updates: dict[str, DataFrame], epoch=None
    ) -> int | None:
        """Atomic multi-relation APPEND — the ingest hot path.
        Returns the committed version, or ``None`` when nothing was
        committed (empty staged batch, or the epoch was already
        committed) — callers maintaining version-stamped driver
        caches (FingerprintIndex.words) need the distinction.

        Stages ONLY the update rows (one write job) and commits by
        appending a pointer to each touched bucket's dir list: no
        current-state read, no bucket rewrite, so the commit costs
        O(batch) no matter how big the store already is — the add-files
        half of Delta's commit model (``apply_keyed`` is the rewrite
        half). Readers concatenate the list; :meth:`compact` folds it
        back to one dir per bucket on the maintenance cadence.

        ``epoch`` = idempotent-commit marker; without it a replayed
        append duplicates rows (harmless only if the reader's semantics
        tolerate duplicates — the band index's do).
        """
        self._check_relations(updates, "append_keyed")
        # the staged data is batch-sized, so the group count is
        # parallelism-capped (see _staged_write_tasks)
        name = self._stage(
            [self._tagged(rel, updates[rel]) for rel in sorted(self.relations)],
            len(self.relations) * self.n_buckets,
        )
        written = {
            rel: self._written_buckets(name, rel) for rel in self.relations
        }
        if not any(written.values()):
            self._drop_snapshot(name)
            return None
        # the staged dir is version-independent (pure batch rows), so a
        # lost race only re-points the manifest — nothing is re-staged
        for _ in range(self.max_retries):
            if self.epoch_committed(epoch):
                self._drop_snapshot(name)
                return None
            base_version = self.current_version()
            base = self._manifest(base_version) or {}
            manifest = {rel: dict(base.get(rel, {})) for rel in self.relations}
            for rel in self.relations:
                for b in written[rel]:
                    manifest[rel][b] = manifest[rel].get(b, []) + [name]
            if self._try_commit(base_version + 1, manifest, epoch=epoch):
                return base_version + 1
        self._drop_snapshot(name)
        raise RuntimeError(
            f"append_keyed on {self.path} lost {self.max_retries} consecutive commit races"
        )

    def compact(self, epoch=None) -> None:
        """Fold every bucket's snapshot-dir list back to ONE dir (small-
        file hygiene after many appends). One read+rewrite of the whole
        store through the normal commit protocol — maintenance cadence,
        not the ingest path. Rows are preserved verbatim; row-level
        cleanup (e.g. dropping duplicates replayed un-epoched appends
        created) is the caller's semantics — pass its fold to
        :meth:`apply_keyed_all_buckets` directly."""
        self.apply_keyed_all_buckets(
            lambda rel, current, upd: current, epoch=epoch
        )

    def apply_keyed_all_buckets(
        self, fn, epoch=None, require_version: int | None = None
    ) -> None:
        """Run a key-local fold over EVERY populated bucket of every
        relation (compaction, retention sweeps). Same commit protocol as
        apply_keyed, but 'touched' = all buckets in the base manifest.

        ``require_version``: abort with :class:`StoreVersionConflict`
        (no commit, no retry) if the store's current version is not
        exactly this one. A fold whose ``fn`` closes over frames
        DERIVED from a pinned snapshot (PostingsIndex.compact's
        liveness + exact-termstats captures) must pass it: the built-in
        retry re-reads the newest bucket rows but cannot re-derive the
        closure, so a lost race would fold fresh rows against a stale
        snapshot — the caller instead recomputes the closure at the
        new version and calls again."""
        for _ in range(self.max_retries):
            if self.epoch_committed(epoch):
                return
            base_version = self.current_version()
            if require_version is not None and base_version != require_version:
                raise StoreVersionConflict(
                    f"store at {self.path} moved to version {base_version} "
                    f"(caller pinned {require_version}) — recompute the "
                    "snapshot-derived fold state and retry"
                )
            base = self._manifest(base_version) or {}
            populated = [rel for rel in sorted(self.relations) if base.get(rel)]
            if not populated:
                return
            parts = [
                self._tagged(
                    rel,
                    fn(rel, self._read_parquet(*self._paths(rel, base[rel])), None),
                )
                for rel in populated
            ]
            name = self._stage(parts, sum(len(base[rel]) for rel in populated))
            manifest = {
                rel: {b: [name] for b in self._written_buckets(name, rel)}
                for rel in self.relations
            }
            if self._try_commit(base_version + 1, manifest, epoch=epoch):
                return
            self._drop_snapshot(name)
        raise RuntimeError(
            f"compaction on {self.path} lost {self.max_retries} consecutive commit races"
        )

    def write_snapshot(self, dfs: dict[str, DataFrame]) -> None:
        """Full replace of EVERY relation in one atomic commit.

        Replace semantics ignore concurrent state by design (the retry
        re-claims with the same frames — last replace wins). For
        read-modify-write, use :meth:`apply_keyed`, never read +
        ``write_snapshot``."""
        self._check_relations(dfs, "write_snapshot")
        for _ in range(self.max_retries):
            base_version = self.current_version()
            name = self._stage(
                [self._tagged(rel, df) for rel, df in sorted(dfs.items())],
                len(self.relations) * self.n_buckets,
            )
            manifest = {
                rel: {b: [name] for b in self._written_buckets(name, rel)}
                for rel in self.relations
            }
            if self._try_commit(base_version + 1, manifest):
                return
            self._drop_snapshot(name)
        raise RuntimeError(f"write_snapshot on {self.path} lost every commit race")

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        """Drop commit markers older than the newest ``keep`` versions,
        then reclaim snapshot dirs no LIVE manifest references (a dir
        stays live while ANY retained version's manifest points at it
        from ANY relation — partial rewrites share dirs across
        versions), plus unreferenced staging dirs older than
        ``grace_seconds``.

        The grace period exists because an unreferenced directory is not
        necessarily garbage: a concurrent writer stages its snapshot
        BEFORE claiming a version, so deleting young unreferenced dirs
        would corrupt that writer's about-to-commit version. Only dirs
        that have sat unclaimed longer than any plausible stage-to-commit
        window are reclaimed (crash leftovers). Pruned markers' epochs
        are retired into the ``_epochs`` sidecar first, so retention
        never shrinks the idempotence window.
        """
        import time

        if keep < 1:
            # keep=0 would unlink every commit marker — silently emptying
            # the store and restarting the version counter. Vacuum is a
            # retention tool, not a drop-table; refuse.
            raise ValueError(f"vacuum keep must be >= 1, got {keep}")
        versions = sorted(
            int(f) for f in os.listdir(self._commits_dir()) if f.isdigit()
        )
        live = set(versions[-keep:])
        _occ_retire_epochs(
            self._commits_dir(), [v for v in versions if v not in live]
        )
        referenced: set[str] = set()
        for v in versions:
            manifest = self._manifest(v) or {}
            if v in live:
                for rel_manifest in manifest.values():
                    for names in rel_manifest.values():
                        referenced.update(names)
            else:
                os.unlink(os.path.join(self._commits_dir(), str(v)))
        snaps = os.path.join(self.path, "_snapshots")
        now = time.time()
        for name in os.listdir(snaps):
            if name in referenced:
                continue
            p = os.path.join(snaps, name)
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue
            if age >= grace_seconds:
                shutil.rmtree(p, ignore_errors=True)


class BucketedTransactionalStore:
    """Single-relation keyed upsert store: a one-relation
    :class:`MultiRelationTransactionalStore` (relation ``rows``, keyed
    on ``key_cols``) plus last-writer-wins ``merge`` on ``order_cols``
    per key — the reference's ``ON CONFLICT DO UPDATE WHERE
    excluded.seq > current.seq`` shape. Commits, reads, staging, epochs
    and vacuum are the wrapped store's.

    ``n_buckets`` defaults to 16 and is pinned at creation;
    ``n_buckets=1`` keeps small folded state (the streaming sketches)
    as one file per commit.
    """

    REL = "rows"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        n_buckets: int | None = None,
        max_retries: int = 10,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self._store = MultiRelationTransactionalStore(
            spark,
            path,
            {self.REL: self.key_cols},
            n_buckets=n_buckets,
            max_retries=max_retries,
        )
        self.n_buckets = self._store.n_buckets

    def current_version(self) -> int:
        """Highest committed version, or 0 if the store is empty."""
        return self._store.current_version()

    def read(self) -> DataFrame | None:
        """Latest committed rows (snapshot-isolated), or None if empty."""
        return self._store.read(self.REL)

    def read_version(self, version: int) -> DataFrame | None:
        """Time travel: any still-vacuum-retained committed version."""
        return self._store.read(self.REL, version=version)

    def read_keys(
        self, keys: DataFrame, version: int | None = None
    ) -> DataFrame | None:
        """Bucket-pruned keyed lookup (see
        :meth:`MultiRelationTransactionalStore.read_keys`)."""
        return self._store.read_keys(self.REL, keys, version=version)

    def apply_keyed(self, updates: DataFrame, fn, epoch=None) -> None:
        """OCC partial-rewrite read-modify-write:
        ``fn(current_touched_df_or_None, updates) -> merged_touched_df``,
        key-local, ``epoch``-idempotent (see
        :meth:`MultiRelationTransactionalStore.apply_keyed`)."""
        self._store.apply_keyed(
            {self.REL: updates}, lambda _rel, cur, upd: fn(cur, upd), epoch=epoch
        )

    def merge(self, updates: DataFrame) -> None:
        """Transactional last-writer-wins merge: stage only the touched
        buckets, inherit the rest from the base manifest by pointer.
        UPDATE-PRIORITY (merge_upsert): the batch's row replaces a
        stored match; within the batch the newest on ``order_cols``
        wins."""

        def fn(current: DataFrame | None, upd: DataFrame) -> DataFrame:
            if current is None:
                return last_write_wins(upd, self.key_cols, self.order_cols)
            return merge_upsert(current, upd, self.key_cols, self.order_cols)

        self.apply_keyed(updates, fn)

    def write_snapshot(self, df: DataFrame) -> None:
        """Full replace: every bucket rewritten into one snapshot dir."""
        self._store.write_snapshot({self.REL: df})

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        """See :meth:`MultiRelationTransactionalStore.vacuum`."""
        self._store.vacuum(keep, grace_seconds)
