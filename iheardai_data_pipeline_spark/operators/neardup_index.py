"""Persistent MinHash-LSH band index: incremental near-dup ingest
without re-banding the corpus.

:func:`~iheardai_data_pipeline_spark.operators.dedup.incremental_minhash_dedup`
re-shingles and re-bands the ENTIRE corpus on every call — correct, but
at 100 TB the corpus side dwarfs every batch and its banding never
changes. This module persists the banding once: band keys and shingle
profiles are two relations of ONE
:class:`MultiRelationTransactionalStore` (a shared OCC commit log — a
batch's bands and profiles land in one atomic commit, one staged
write); a batch PROBES them (bucket-pruned point lookups +
candidate-bounded joins — no work proportional to corpus size), and
then appends its own bands, so ingest cost is a function of batch size
and candidate count only.

Semantics (arrival-order gate, same convention as the recompute path
and the t12 stream): an incoming doc is DROPPED when it has an
exact-Jaccard-verified near-dup (>= ``threshold``)

- already in the index (anything previously appended or ingested,
  whether or not it survived its own gate — near-dup is not
  transitive, so rejected docs must stay probe-able or chains split
  across batches would resolve differently than one batch), or
- among LOWER-id docs of its own batch.

Feeding id-ordered batches therefore reproduces the one-shot
``incremental_minhash_dedup(all_incoming, corpus)`` answer exactly
(same shingle, signature, band-key, and half-up Jaccard arithmetic).

Scale posture: the band store buckets on the 8-byte band key, so a
probe reads only the buckets its keys hash to (``read_keys``); the
profile store is touched only for verified CANDIDATES. Both stores
append via OCC partial rewrites (only touched buckets rewritten).
``n_buckets`` is a layout constant — size it so one bucket's band rows
fit an executor (e.g. thousands at corpus scale; the rig default 16).

Reference parity: the reference has no persistent near-dup index; this
is part of the training-data extension set (SURVEY §2 extensions), the
production variant its own docs promised for the r4 incremental gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.functions.exact import ratio_half_up
from iheardai_data_pipeline_spark.operators.dedup import (
    _minhash_from_set,
    shingle_array,
)
from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism, eval_once
from iheardai_data_pipeline_spark.streaming.stores import (
    MultiRelationTransactionalStore,
    claim_layout_meta,
)

# On-disk layout version, persisted in the meta JSON. Bump whenever the
# relation schemas change incompatibly. History:
#   (absent) — r6 layout: 3-column profiles (id, sh_set, n_sh)
#   2        — r7 layout: 5-column versioned profiles (+seq, +live)
# An index written under an older layout REFUSES to open: parquet reads
# over mixed-width files either fail on the missing columns or surface
# old rows with live=NULL, which _latest_live would silently drop —
# the entire pre-upgrade corpus would vanish from the dedup gate.
FORMAT_VERSION = 2


def buckets_for_corpus(
    expected_docs: int, bands: int = 16, target_rows_per_bucket: int = 250_000
) -> int:
    """Bucket-count sizing rule (the band-index analog of IVF's sqrt(N)
    centroid rule): the band relation holds ``expected_docs * bands``
    8-byte-keyed rows, and a probe reads whole buckets — so size buckets
    to a bounded row count, not a rig constant.

    ``n_buckets = next_pow2(expected_docs * bands / target_rows_per_bucket)``
    clamped to [16, 65536]. The default target (250k rows ≈ a few MB of
    (bkey, id) pairs) keeps any single probe's bucket reads executor-
    sized; a 1B-doc corpus at 16 bands → 16B band rows → 65536 buckets,
    each ~244k rows. Power-of-two so a later split/merge re-shard halves
    or doubles cleanly.
    """
    if expected_docs <= 0:
        raise ValueError(f"expected_docs must be positive, got {expected_docs}")
    need = (expected_docs * bands + target_rows_per_bucket - 1) // target_rows_per_bucket
    n = 16
    while n < need and n < 65536:
        n *= 2
    return n


class MinHashBandIndex:
    """Persistent LSH band + profile index over a growing corpus.

    ``append(docs)`` indexes documents unconditionally (corpus
    bootstrap); ``ingest(batch)`` gates a batch against everything
    indexed so far (and its own lower-id peers), appends ALL batch docs
    to the index, and returns the surviving rows; ``delete(ids, seq)``
    retracts documents with tombstone rows under the M1/M2
    last-write-wins contract (greatest seq wins, delete wins ties) —
    a retracted doc stops matching probes, and re-ingesting it with a
    higher seq is the upsert path. ``compact()`` reclaims superseded
    and tombstoned rows.

    The LSH parameters are part of the on-disk layout (mixing two
    bandings in one index silently loses candidates), so the creator
    pins them in ``_lsh_meta.json`` and later opens must match or pass
    defaults-by-inheritance.

    ``n_buckets``: pass ``expected_docs=`` to size it with
    :func:`buckets_for_corpus` (preferred — it is a layout constant you
    cannot change later without re-sharding); the bare default (16) is
    only right for rig-scale corpora.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 5,
        k: int = 64,
        bands: int = 16,
        threshold: float = 0.7,
        n_buckets: int | None = None,
        expected_docs: int | None = None,
    ) -> None:
        if k % bands != 0:
            raise ValueError(f"k={k} must divide into bands={bands}")
        if n_buckets is None and expected_docs is not None:
            n_buckets = buckets_for_corpus(expected_docs, bands)
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        os.makedirs(path, exist_ok=True)
        meta = {
            "format": FORMAT_VERSION,
            "n": n,
            "k": k,
            "bands": bands,
            "threshold": threshold,
        }
        persisted = claim_layout_meta(os.path.join(path, "_lsh_meta.json"), meta)
        if persisted.get("format") != FORMAT_VERSION:
            old = persisted.get("format", "1 (pre-versioned, 3-column profiles)")
            raise ValueError(
                f"index at {path} uses on-disk format {old}; this "
                f"build reads format {FORMAT_VERSION}. Opening would "
                "mix profile schemas in one relation and silently "
                "drop pre-upgrade rows from the gate — rebuild the "
                "index (re-append the corpus into a fresh path)."
            )
        if persisted != meta:
            raise ValueError(
                f"index at {path} was created with {persisted}; got {meta} "
                "— one banding per index"
            )
        self.n, self.k, self.bands, self.threshold = n, k, bands, threshold
        # ONE transactional store for BOTH relations: each ingest batch
        # commits its band keys and shingle profiles atomically in a
        # single cycle (one touched-bucket collect, one staged write,
        # one claim link) — halving the per-batch fixed cost the two
        # separate stores paid, and removing the crash window where the
        # bands landed but the profiles didn't (round-5 punch item).
        self._store = MultiRelationTransactionalStore(
            spark,
            os.path.join(path, "state"),
            relations={"bands": ["bkey"], "profiles": [id_col]},
            n_buckets=n_buckets,
        )
        # delete/tombstone fast-path flag: until the first delete(), no
        # tombstone rows exist and the probe path skips the LWW collapse
        # entirely — the append-only hot path pays ZERO for the upsert
        # capability. Once set, the flag stays (LWW over all-live rows
        # is a no-op, and clearing it would race a concurrent delete).
        self._flag_path = os.path.join(path, "_has_tombstones")

    # -- row-local derivations (no shuffle) -----------------------------------

    def _profiles(self, docs: DataFrame) -> DataFrame:
        """(id, sh_set, n_sh, sig) — one narrow projection; docs shorter
        than the shingle width have no set and can neither match nor be
        matched, so they pass every gate and stay out of the index
        (identical to the recompute path's size>0 filter)."""
        return (
            eval_once(
                ensure_parallelism(docs),
                sh_set=F.transform(
                    shingle_array(F.col(self.text_col), self.n),
                    lambda s: F.xxhash64(s),
                ),
            )
            .filter(F.size("sh_set") > 0)
            .select(
                F.col(self.id_col),
                "sh_set",
                F.size("sh_set").alias("n_sh"),
                _minhash_from_set(F.col("sh_set"), self.k).alias("sig"),
            )
        )

    def _band_rows(self, profiles: DataFrame) -> DataFrame:
        """(bkey, id): one 8-byte key per (band, band-signature) — the
        same r-slice banding as minhash_lsh_pairs, collapsed to a single
        long so the store buckets on it (a cross-band xxhash64 collision
        only adds a candidate pair, which exact verification discards)."""
        r = self.k // self.bands
        bkeys = F.transform(
            F.sequence(F.lit(0), F.lit(self.bands - 1)),
            lambda b: F.xxhash64(b, F.xxhash64(F.slice(F.col("sig"), b * r + 1, r))),
        )
        return profiles.select(
            F.col(self.id_col), F.explode(bkeys).alias("bkey")
        ).select("bkey", self.id_col)

    def _verified_pairs(
        self, cand: DataFrame, left_prof: DataFrame, right_prof: DataFrame
    ) -> DataFrame:
        """Exact-Jaccard filter of candidate (id_a, id_b) pairs — the
        same half-up arithmetic as the recompute path, so the gate is
        bit-identical to incremental_minhash_dedup."""
        ic = self.id_col
        return (
            cand.join(
                left_prof.select(
                    F.col(ic).alias("id_a"),
                    F.col("sh_set").alias("set_a"),
                    F.col("n_sh").alias("n_a"),
                ),
                "id_a",
            )
            .join(
                right_prof.select(
                    F.col(ic).alias("id_b"),
                    F.col("sh_set").alias("set_b"),
                    F.col("n_sh").alias("n_b"),
                ),
                "id_b",
            )
            .withColumn("shared", F.size(F.array_intersect("set_a", "set_b")))
            .withColumn(
                "jaccard",
                ratio_half_up(
                    F.col("shared"),
                    F.col("n_a") + F.col("n_b") - F.col("shared"),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", "jaccard")
        )

    def _versioned(self, prof3: DataFrame, seq: int) -> DataFrame:
        """Profile rows stamped with their LWW version: (id, sh_set,
        n_sh, seq, live=true). ``seq`` is the caller's monotone write
        sequence — the reference's ``excluded.seq > current.seq`` upsert
        ordering (enhanced_kpi_consumer.py:395-434), here applied to the
        index's own state."""
        return prof3.select(
            self.id_col,
            "sh_set",
            "n_sh",
            F.lit(seq).cast("long").alias("seq"),
            F.lit(True).alias("live"),
        )

    def _latest_live(self, prof_rows: DataFrame) -> DataFrame:
        """LWW collapse of multi-version profile rows to (id, sh_set,
        n_sh) of the CURRENT live version per doc: greatest seq wins;
        on a seq tie the tombstone wins (deterministic, delete-biased —
        the conservative resolution for a retraction race). Rows of one
        doc share a bucket (profiles are keyed by id), so this is exact
        under bucket-pruned reads."""
        ic = self.id_col
        order = F.struct(
            F.col("seq"), F.when(F.col("live"), F.lit(0)).otherwise(F.lit(1))
        )
        latest = prof_rows.groupBy(ic).agg(
            F.max_by(F.struct("sh_set", "n_sh", "live"), order).alias("s")
        )
        return latest.filter(F.col("s.live")).select(
            ic,
            F.col("s.sh_set").alias("sh_set"),
            F.col("s.n_sh").alias("n_sh"),
        )

    @property
    def _has_tombstones(self) -> bool:
        return os.path.exists(self._flag_path)

    # -- public API -----------------------------------------------------------

    def append(self, docs: DataFrame, epoch=None, seq: int = 0) -> None:
        """Index documents unconditionally (corpus bootstrap / trusted
        sources). ONE atomic OCC commit for both relations; profiles
        computed once. Plain append, not LWW merge: a doc's profile is
        a pure function of its text, so re-appends are identical rows
        and both the ordering window and the dedup would be wasted
        shuffles per batch. ``epoch`` (e.g. a
        foreachBatch batch_id) makes the commit idempotent.

        UPSERT CONTRACT: re-appending an id that is already LIVE with
        DIFFERENT text (no intervening :meth:`delete`) is UNSUPPORTED —
        without a tombstone no LWW collapse runs and both versions stay
        probe-able. Replace = ``delete(ids, seq=s)`` then
        ``append/ingest(batch, seq=s+1)``."""
        prof = self._profiles(docs).cache()
        try:
            self._store.append_keyed(
                {
                    "bands": self._band_rows(prof),
                    "profiles": self._versioned(
                        prof.select(self.id_col, "sh_set", "n_sh"), seq
                    ),
                },
                epoch=epoch,
            )
        finally:
            prof.unpersist()

    def delete(self, ids: DataFrame, seq: int, epoch=None) -> None:
        """Retract documents by id: appends TOMBSTONE profile rows
        (null profile, live=false) in one O(batch) commit — the M1/M2
        last-write-wins contract applied to the index (the reference's
        signature semantics ARE upsert). A deleted doc stops matching
        probes immediately: its band rows still generate candidates,
        but verification joins only LIVE latest profiles, so every such
        candidate dies exactly (bands are a candidate generator, never
        a correctness surface). Physical rows are reclaimed by
        :meth:`compact`. Re-ingesting the id later with a HIGHER seq
        makes it live again (upsert = delete + ingest).

        ``seq`` must exceed every seq previously written for these ids
        (ties resolve to the tombstone). ``epoch`` = idempotent-commit
        marker, as on ingest."""
        ic = self.id_col
        try:
            with open(self._flag_path, "x"):
                pass
        except FileExistsError:
            pass
        tomb = ids.select(
            F.col(ic),
            F.lit(None).cast("array<bigint>").alias("sh_set"),
            F.lit(None).cast("int").alias("n_sh"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(False).alias("live"),
        )
        empty_bands = ids.select(
            F.lit(None).cast("bigint").alias("bkey"), F.col(ic)
        ).limit(0)
        self._store.append_keyed(
            {"bands": empty_bands, "profiles": tomb}, epoch=epoch
        )

    def merge(self, other: "MinHashBandIndex", epoch=None) -> None:
        """Fold another SHARD's entire versioned state into this index
        (the per-shard-build + merge topology; see
        PersistentAnnIndex.merge for the full correctness model). Both
        shards must share the banding parameters (n, k, bands,
        threshold) — band keys and gate decisions from different
        parameters are not comparable, so a mismatch raises (the same
        rule the constructor's meta check enforces within one path).
        Band rows are parameter-pure functions of text (no stamps);
        profile rows carry their LWW stamps VERBATIM, so deletes and
        re-ingests resolve across shards exactly as in one index.
        Tombstone state propagates. ONE atomic O(shard) commit;
        ``epoch`` makes a replayed merge idempotent."""
        mine = (self.n, self.k, self.bands, self.threshold)
        theirs = (other.n, other.k, other.bands, other.threshold)
        if mine != theirs:
            raise ValueError(
                f"refusing to merge banding {theirs} into {mine} — "
                "band keys are only comparable under one parameter set"
            )
        profiles = other._store.read("profiles")
        if profiles is None:
            return  # empty shard
        oc, sc = other.id_col, self.id_col
        bands = other._store.read("bands")
        if bands is None:
            # delete-only shard: no band rows were ever committed
            bands = self.spark.createDataFrame(
                [], f"bkey bigint, {sc} long"
            )
        else:
            bands = bands.select("bkey", F.col(oc).alias(sc))
        if other._has_tombstones:
            try:
                with open(self._flag_path, "x"):
                    pass
            except FileExistsError:
                pass
        self._store.append_keyed(
            {
                "bands": bands,
                "profiles": profiles.select(
                    F.col(oc).alias(sc), "sh_set", "n_sh", "seq", "live"
                ),
            },
            epoch=epoch,
        )

    def ingest(self, batch: DataFrame, epoch=None, seq: int = 0) -> DataFrame:
        """Gate ``batch`` against the index + lower-id batch peers,
        append ALL batch docs (kept and rejected — see module doc),
        return the surviving rows with every original column.
        ``epoch`` (e.g. a foreachBatch batch_id) makes the store append
        idempotent; the gate itself is replay-exact either way (the
        probe anti-joins the batch's own ids).

        Cost anatomy: probe = one bucket-pruned read of the band store
        (only buckets the batch's band keys hash to) + one equi-join on
        the 8-byte key; verification = profile fetches for CANDIDATE
        ids only; intra-batch = a batch-local band self-join. Nothing
        scales with corpus size.

        The returned frame reads pinned store snapshots — materialize
        it before ``vacuum()`` drops old versions.
        """
        ic = self.id_col
        prof = self._profiles(batch).cache()
        bands_inc = self._band_rows(prof).cache()
        try:
            # intra-batch: later id drops when a lower-id peer matches,
            # regardless of that peer's own fate (one-shot convention)
            cand_all = (
                bands_inc.withColumnRenamed(ic, "id_a")
                .join(bands_inc.withColumnRenamed(ic, "id_b"), "bkey")
                .filter(F.col("id_a") > F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            right_prof = prof.select(ic, "sh_set", "n_sh")
            # scan-all regime (rig-small layouts): plain read() — the
            # equi-joins below already filter, and read_keys' LEFT SEMI
            # would embed its key-frame plan a second time
            stored = (
                self._store.read_keys("bands", bands_inc.select("bkey"))
                if self._store.prune_probes
                else self._store.read("bands")
            )
            if stored is not None:
                # REPLAY GUARD: a crash-replayed batch (appended to the
                # store but not stream-checkpointed — the at-least-once
                # window foreachBatch allows) finds its OWN bands already
                # stored; without this anti-join every replayed doc
                # self-matches at Jaccard 1.0 and the whole batch is
                # silently dropped. Excluding stored rows whose id is in
                # the current batch (broadcast — batch-sized) restores
                # the first run's exact candidate set, so replayed
                # ingest() returns the same survivors (intra-batch
                # ordering is re-derived below, as on the first run).
                cand = (
                    bands_inc.withColumnRenamed(ic, "id_a")
                    .join(stored.withColumnRenamed(ic, "id_b"), "bkey")
                    .join(
                        F.broadcast(prof.select(F.col(ic).alias("id_b"))),
                        "id_b",
                        "left_anti",
                    )
                    .select("id_a", "id_b")
                    .distinct()
                )
                if self._store.prune_probes:
                    # candidate pairs are few (banding's whole point) but
                    # their plan reads store buckets + two joins — when
                    # the profile read PRUNES, its touched-bucket collect
                    # would re-execute that plan, so pin it once. In the
                    # scan-all regime nothing collects cand before the
                    # verify pass, so a checkpoint would only ADD a job.
                    cand = cand.localCheckpoint(eager=True)
                idx_prof = (
                    self._store.read_keys(
                        "profiles", cand.select(F.col("id_b").alias(ic))
                    )
                    if self._store.prune_probes
                    else self._store.read("profiles")
                )
                if idx_prof is not None and self._has_tombstones:
                    # LWW collapse only once a delete() has ever
                    # happened: deleted/superseded versions stop
                    # matching here (their band rows above only made
                    # candidates, which this inner join now starves)
                    idx_prof = self._latest_live(idx_prof)
                if idx_prof is not None:
                    # ONE fused verify pass: index and intra-batch
                    # candidate id_b spaces are disjoint (the guard
                    # removed batch ids from the stored side), so a
                    # plain union of pairs + profile sides is exact and
                    # halves the verify plan's joins and distincts
                    cand_all = cand.unionByName(cand_all)
                    right_prof = idx_prof.select(
                        ic, "sh_set", "n_sh"
                    ).unionByName(right_prof)
            dropped = (
                self._verified_pairs(cand_all, prof, right_prof)
                .select(F.col("id_a").alias(ic))
                .distinct()
            )
            survivors = batch.join(dropped, ic, "left_anti")
            # left_anti re-executes per action; pin the (batch-sized)
            # result so the append below can't race its store reads
            survivors = survivors.localCheckpoint(eager=True)
            # ONE atomic O(batch) append: bands + profiles land together,
            # no bucket rewrite (the store's add-files commit)
            self._store.append_keyed(
                {
                    "bands": bands_inc,
                    "profiles": self._versioned(
                        prof.select(ic, "sh_set", "n_sh"), seq
                    ),
                },
                epoch=epoch,
            )
            return survivors
        finally:
            bands_inc.unpersist()
            prof.unpersist()

    def compact(self) -> None:
        """Storage hygiene: fold every bucket's append-dir list back to
        one dir AND drop duplicate rows (rows a crash-replayed
        un-epoched batch re-appended — results never depend on them;
        this reclaims the space and the small files). One read+rewrite
        through the commit protocol — run it on the maintenance
        cadence, not the ingest path.

        With tombstones present, compaction is also the VACUUM of the
        upsert model: profiles collapse to the latest LIVE version per
        doc, and bands are REBUILT from those live profiles (band rows
        carry no version, so anti-joining stale ones out is impossible
        — regeneration from the surviving profiles is exact and the
        rebuild is a row-local signature recompute, no corpus shuffle).
        Both land in ONE atomic commit, so no read ever sees bands
        without their profiles. Caveat, documented like commit-marker
        retention: compaction physically drops tombstone rows, so a
        STALE write replayed afterwards with a lower seq than a
        compacted-away tombstone would resurrect the doc — retire
        deletes only after the at-least-once replay window."""
        ic = self.id_col

        def fold(rel: str, current: DataFrame, upd) -> DataFrame:
            if rel == "profiles":
                if not self._has_tombstones:
                    return current.dropDuplicates([ic])
                return self._versioned_latest_rows(current)
            if not self._has_tombstones:
                return current.dropDuplicates(["bkey", ic])
            # rebuild bands from the store's live profiles (read inside
            # the fold: the OCC retry re-reads, so a lost race refolds
            # against the new base — never a pinned stale frame)
            live = self._latest_live(self._store.read("profiles"))
            return self._band_rows(
                live.select(
                    ic, _minhash_from_set(F.col("sh_set"), self.k).alias("sig")
                )
            )

        self._store.apply_keyed_all_buckets(fold)

    def _versioned_latest_rows(self, prof_rows: DataFrame) -> DataFrame:
        """Full 5-column live-latest rows (compaction keeps the version
        stamp so later writes still LWW against the survivors)."""
        ic = self.id_col
        order = F.struct(
            F.col("seq"), F.when(F.col("live"), F.lit(0)).otherwise(F.lit(1))
        )
        latest = prof_rows.groupBy(ic).agg(
            F.max_by(F.struct("sh_set", "n_sh", "seq", "live"), order).alias("s")
        )
        return latest.filter(F.col("s.live")).select(
            ic,
            F.col("s.sh_set").alias("sh_set"),
            F.col("s.n_sh").alias("n_sh"),
            F.col("s.seq").alias("seq"),
            F.col("s.live").alias("live"),
        )

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep, grace_seconds)
