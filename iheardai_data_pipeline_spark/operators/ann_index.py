"""Persistent IVF-PQ serving index: the READ half of the ANN story.

`ivfpq_search` (operators/pq.py) composes the production ANN read path
— IVF list pruning, ADC over PQ codes, exact shortlist re-rank — but
runs it against an in-memory DataFrame, re-assigning and re-encoding
the corpus on every query. At 100 TB the corpus IS the index: vectors
and their PQ codes live cluster-keyed on disk, written once at ingest,
and a query touches only its probed clusters' buckets.

This module persists three relations under ONE
:class:`~iheardai_data_pipeline_spark.streaming.stores.MultiRelationTransactionalStore`
commit log (the same machinery as the dedup indexes in
``neardup_index.py`` / ``semantic_index.py``):

- ``codes``   (centroid_id-keyed): (id, codes array<int>, centroid_id,
  seq, live) — the ADC scan side, ~32x smaller than the vectors it
  summarizes.
- ``vectors`` (centroid_id-keyed): (id, normalized vector, centroid_id,
  seq, live) — the exact re-rank side, read only for the shortlist.
- ``ids``     (id-keyed): (id, centroid_id, seq, live) — the delete-path
  lookup (a retraction arrives with only the id; the tombstone must
  land in the SAME cluster bucket as the row it kills, or a pruned
  probe of that cluster would never see it — the semantic index's
  design, ported verbatim).

Rows carry the M1/M2 last-write-wins version stamp (greatest ``seq``
wins, tombstone wins ties) so :meth:`delete` retracts vectors exactly
and :meth:`compact` collapses deterministically — the r7 layout's
``dropDuplicates`` kept an ARBITRARY row under conflicting un-epoched
re-appends. The append-only hot path pays ZERO for the capability: the
LWW collapse only runs once a delete has ever happened
(``_has_tombstones`` flag file).

The IVF centroids and PQ codebooks are PINNED index artifacts (the
shipped-model pattern of plans/ann_artifact.py), stored in the index's
meta JSON at bootstrap: serving must score against exactly what the
index was built with, and re-centering would silently re-assign stored
rows (rebuild instead). Vectors are L2-normalized at append time — the
ivfpq_search metric discipline (on unit vectors L2 order == cosine
order; raw vectors measured 0.1-0.3 recall vs 0.8-1.0 normalized).

Query anatomy (:meth:`topk`), at any corpus size:

1. rank the pinned centroids driver-side (bounded — an index-build
   constant, never a Spark job),
2. read ONLY the ``nprobe`` probed clusters' code buckets
   (``read_keys`` bucket pruning — the 100 TB layout; rig-small
   layouts scan-all per the store's shared ``prune_probes`` rule),
3. ADC-rank those codes against the query's m x k lookup table
   (``pq_adc_topk`` — the identical fold the in-memory path runs),
4. fetch the shortlist's vectors from the SAME probed buckets and
   exact-re-rank.

:meth:`topk_batch` is the same anatomy for a FRAME of queries — the
production shape (dedup-by-retrieval, nearest-neighbor joins; the
100 TB reading of the reference's per-record keyed lookup,
enhanced_kpi_consumer.py:638-673 in the reference repo). Centroid
ranking, the ADC lookup table, and both top-N selections run as row-
local expressions / per-query windows INSIDE Spark, so a million-query
frame never loops on the driver; results are row-identical to a
per-query :meth:`topk` loop (pinned by test and by the
x_sim_index_batch_topk catalog gate).

Given the same artifacts and parameters, single-query results are
row-identical to ``ivfpq_search`` — pinned by test; the
x_sim_index_topk / x_sim_index_filtered_topk catalog gates go further
and hash-match the served (id, l2_dist) rows against a full DuckDB
replay of the serve under pinned artifacts (round 10).

Reference parity: training-data extension set (SURVEY §2 extensions);
the serving counterpart of the reference's signature upsert/lookup
stores (etl/load/enhanced_kpi_consumer.py:395-434 keeps state keyed
for point reads; here the key is the IVF list).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.pq import (
    normalize_rows,
    pq_adc_topk,
    pq_encode,
)
from iheardai_data_pipeline_spark.operators.similarity import (
    _assign_to_centroids,
)
from iheardai_data_pipeline_spark.sources.batch import eval_once
from iheardai_data_pipeline_spark.streaming.stores import (
    MultiRelationTransactionalStore,
    claim_layout_meta,
)

# On-disk layout version, persisted in the meta JSON (same contract as
# neardup_index.FORMAT_VERSION). History:
#   (absent) — r7 layout: unversioned (id, codes|vec, centroid_id)
#              rows, two relations, no ids relation
#   2        — r8 layout: +seq +live LWW stamps, + id-keyed "ids"
#              delete-lookup relation
# Older layouts refuse to open: mixed-width parquet in one relation
# either fails on the missing columns or reads old rows with
# live=NULL, which the LWW collapse would silently drop.
FORMAT_VERSION = 2


class PersistentAnnIndex:
    """Cluster-keyed persistent IVF-PQ index with an O(batch) append
    path, LWW delete/tombstone retraction, and bucket-pruned ``topk``
    (single query) / ``topk_batch`` (query frame) serving paths.

    Create with :meth:`bootstrap` (pins artifacts + indexes the
    corpus); reopen by constructing with the same path.

    UPSERT CONTRACT (same as the sibling indexes): re-appending an id
    that is already LIVE with a DIFFERENT vector (no intervening
    :meth:`delete`) is UNSUPPORTED — without a tombstone no LWW
    collapse runs and both versions serve. Replace = ``delete(ids,
    seq=s)`` then ``append(batch, seq=s+1)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        meta_path = os.path.join(path, "_ann_meta.json")
        if not os.path.exists(meta_path):
            raise ValueError(
                f"no ANN index at {path} — build one with bootstrap()"
            )
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("format") != FORMAT_VERSION:
            old = meta.get("format", "1 (pre-versioned, unversioned rows)")
            raise ValueError(
                f"ANN index at {path} uses on-disk format {old}; this "
                f"build reads format {FORMAT_VERSION}. Rebuild the index "
                "(bootstrap a fresh path) — opening would mix row "
                "schemas and drop pre-upgrade rows from serving."
            )
        self.centroids: list[list[float]] = meta["centroids"]
        self.books: list[list[list[float]]] = meta["books"]
        self._store = MultiRelationTransactionalStore(
            spark,
            os.path.join(path, "state"),
            relations={
                "codes": ["centroid_id"],
                "vectors": ["centroid_id"],
                "ids": [id_col],
            },
            n_buckets=n_buckets,
        )
        # tombstone fast-path flag — see MinHashBandIndex (append-only
        # serving pays zero for the delete capability until one happens)
        self._flag_path = os.path.join(path, "_has_tombstones")

    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        centroids: list[list[float]],
        books,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_buckets: int | None = None,
    ) -> "PersistentAnnIndex":
        """Pin the trained artifacts (IVF centroid vectors + PQ
        codebooks, both over NORMALIZED vectors — train them with
        tools/regen_ann_artifacts.py's recipe or inject the shipped
        plans/ann_artifact.py constants) and index the corpus.

        Race/retry semantics: the meta file is claimed with an
        exclusive link (first creator wins). A caller that LOSES the
        race (or retries after a crash) with IDENTICAL artifacts
        proceeds — the corpus append is guarded by a fixed bootstrap
        epoch, so whichever caller commits first wins and every other
        append no-ops (no duplicated rows, no silently discarded
        artifacts — the r7 behavior appended the loser's corpus under
        the winner's artifacts). A loser with DIFFERENT artifacts
        raises: its corpus must not be encoded against codebooks it
        did not supply. Concurrent bootstraps with equal artifacts but
        different corpora are caller error (bootstrap is one-time;
        use :meth:`append` for additional batches)."""
        os.makedirs(path, exist_ok=True)
        meta = {
            "format": FORMAT_VERSION,
            "centroids": [[float(x) for x in v] for v in centroids],
            "books": [
                [[float(x) for x in c] for c in book] for book in books
            ],
        }
        if claim_layout_meta(os.path.join(path, "_ann_meta.json"), meta) != meta:
            raise ValueError(
                f"ANN index at {path} already exists with different "
                "artifacts — refusing to append a corpus encoded "
                "against codebooks the index was not built with"
            )
        idx = cls(spark, path, id_col, vec_col, n_buckets=n_buckets)
        idx.append(corpus, epoch="__bootstrap__")
        return idx

    # -- internals ------------------------------------------------------------

    def _assigned(self, batch: DataFrame) -> DataFrame:
        """(id, NORMALIZED vec, centroid_id) under the pinned centroids
        — two narrow projections, no shuffle."""
        vecs = normalize_rows(batch, self.id_col, self.vec_col)
        return _assign_to_centroids(
            vecs, list(enumerate(self.centroids)), self.id_col, self.vec_col
        ).select(self.id_col, self.vec_col, "centroid_id")

    def _probe_ids(self, query_vec: list[float], nprobe: int) -> list[int]:
        """Driver-side centroid ranking — identical tie-break to
        ivfpq_search ((-cosine, index) ascending)."""
        qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))

        def qsim(vec):
            d = sum(float(a) * b for a, b in zip(query_vec, vec))
            return d / (qn * math.sqrt(sum(x * x for x in vec)))

        ranked = sorted(
            ((qsim(vec), i) for i, vec in enumerate(self.centroids)),
            key=lambda t: (-t[0], t[1]),
        )
        return [i for _, i in ranked[:nprobe]]

    def _read_probed(self, rel: str, probe_ids: list[int]) -> DataFrame | None:
        """Rows of ``rel`` in the probed clusters. Pruned layouts read
        only the touched buckets (the key frame is nprobe literal rows
        — the touched-bucket collect is a constant-size local job);
        scan-all layouts read every dir and let the filter prune."""
        if self._store.prune_probes:
            keys = self.spark.createDataFrame(
                [(int(i),) for i in probe_ids], "centroid_id int"
            )
            return self._store.read_keys(rel, keys, broadcast_keys=True)
        rows = self._store.read(rel)
        if rows is None:
            return None
        return rows.filter(F.col("centroid_id").isin(probe_ids))

    @property
    def _has_tombstones(self) -> bool:
        return os.path.exists(self._flag_path)

    def _latest_live(self, rows: DataFrame, cols: list[str]) -> DataFrame:
        """LWW collapse per id: greatest seq wins, tombstone wins ties
        (delete-biased — the conservative retraction-race resolution);
        returns live rows projected to ``cols``. Exact under pruned
        reads: a tombstone lands in the SAME cluster bucket as the
        version it kills (the ids-relation lookup in :meth:`delete`),
        so whatever clusters a probe reads, every stale row it sees is
        accompanied by its killer."""
        ic = self.id_col
        order = F.struct(
            F.col("seq"), F.when(F.col("live"), F.lit(0)).otherwise(F.lit(1))
        )
        payload = [c for c in cols if c != ic]
        if "live" not in payload:
            payload.append("live")
        latest = rows.groupBy(ic).agg(
            F.max_by(F.struct(*payload), order).alias("s")
        )
        return latest.filter(F.col("s.live")).select(
            ic, *[F.col(f"s.{c}").alias(c) for c in cols if c != ic]
        )

    def _serving(self, rel: str, probe_ids: list[int]) -> DataFrame | None:
        """The live rows of ``rel`` in the probed clusters: raw
        versioned rows on the append-only fast path, LWW-collapsed once
        any delete has happened."""
        rows = self._read_probed(rel, probe_ids)
        if rows is None or not self._has_tombstones:
            return rows
        payload = "codes" if rel == "codes" else self.vec_col
        return self._latest_live(rows, [self.id_col, payload, "centroid_id"])

    def _stamped(self, assigned: DataFrame, codes: DataFrame, seq: int) -> dict:
        """All three relations' rows for one batch with the LWW version
        stamp (seq, live=true)."""
        ic = self.id_col
        s = F.lit(seq).cast("long").alias("seq")
        live = F.lit(True).alias("live")
        return {
            "codes": codes.select(ic, "codes", "centroid_id", s, live),
            "vectors": assigned.select(
                ic, self.vec_col, "centroid_id", s, live
            ),
            "ids": assigned.select(ic, "centroid_id", s, live),
        }

    # -- public API -------------------------------------------------------------

    def append(self, batch: DataFrame, epoch=None, seq: int = 0) -> None:
        """Index a batch: normalize, assign to the pinned lists, PQ-
        encode — three narrow projections — then ONE atomic O(batch)
        add-files commit of all relations (codes never visible without
        their vectors). ``epoch`` makes replays idempotent. See the
        class docstring's UPSERT CONTRACT for re-appending live ids."""
        assigned = self._assigned(batch).localCheckpoint(eager=True)
        try:
            codes = pq_encode(
                assigned,
                self.books,
                id_col=self.id_col,
                vec_col=self.vec_col,
                extra_cols=("centroid_id",),
            )
            self._store.append_keyed(
                self._stamped(assigned, codes, seq), epoch=epoch
            )
        finally:
            assigned.unpersist()

    def delete(self, ids: DataFrame, seq: int, epoch=None) -> None:
        """Retract vectors by id under the M1/M2 last-write-wins
        contract (greatest seq wins, delete wins ties) — the semantic
        index's delete, ported. The retraction arrives with only the
        id, so the OLD cluster comes from a bucket-pruned lookup of the
        ``ids`` relation; tombstones then land in that cluster's codes/
        vectors buckets, where they starve serving exactly. One atomic
        O(batch) commit; physical reclamation in :meth:`compact` (same
        stale-replay-after-compaction caveat as the sibling indexes).
        Deleting an unknown id is a no-op."""
        ic = self.id_col
        try:
            with open(self._flag_path, "x"):
                pass
        except FileExistsError:
            pass
        key_frame = ids.select(ic)
        lookup = (
            self._store.read_keys("ids", key_frame)
            if self._store.prune_probes
            else self._store.read("ids")
        )
        if lookup is None:
            return
        old = self._latest_live(lookup, [ic, "centroid_id"]).join(
            F.broadcast(key_frame), ic, "left_semi"
        )
        s = F.lit(seq).cast("long").alias("seq")
        dead = F.lit(False).alias("live")
        # null payloads typed to match stored rows (schema-only reads —
        # one parquet footer each, no data scan)
        vtype = self._store.read("vectors").schema[self.vec_col].dataType
        vec_null = F.lit(None).cast(vtype).alias(self.vec_col)
        code_null = F.lit(None).cast("array<int>").alias("codes")
        self._store.append_keyed(
            {
                "codes": old.select(ic, code_null, "centroid_id", s, dead),
                "vectors": old.select(ic, vec_null, "centroid_id", s, dead),
                "ids": old.select(ic, "centroid_id", s, dead),
            },
            epoch=epoch,
        )

    def topk(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        shortlist: int = 100,
        exclude_id: int | None = None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Approximate top-k serve: probe ``nprobe`` lists, ADC-rank
        their stored codes, exact-re-rank the ``shortlist``. Returns
        (id, l2_dist) ascending over the normalized vectors — the
        ivfpq_search output contract, row-identical given the same
        artifacts.

        ``allowed`` (optional): an id frame (``id_col``) restricting
        the search to a metadata-selected subset — FILTERED vector
        search, the serving shape behind "top-k among documents WHERE
        <predicate>". The filter is applied to the probed clusters'
        candidates BEFORE ADC ranking (pre-filtering: the shortlist is
        spent entirely on qualifying vectors, so a selective predicate
        cannot starve the result the way post-filtering the final k
        does). Approximation semantics are unchanged — allowed vectors
        living in non-probed clusters are missed exactly as unfiltered
        ones are; raise ``nprobe`` as the predicate gets more
        selective. The semi-join is left to the optimizer: a small id
        set broadcasts, a huge one shuffles — both correct."""
        qn0 = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
        qv = [float(x) / qn0 for x in query_vec]
        probe_ids = self._probe_ids(qv, nprobe)
        codes = self._serving("codes", probe_ids)
        if codes is None:
            raise ValueError(f"ANN index at {self.path} holds no vectors")
        if allowed is not None:
            codes = codes.join(
                allowed.select(self.id_col), self.id_col, "left_semi"
            )
        short = pq_adc_topk(
            codes,
            self.books,
            qv,
            k=shortlist,
            id_col=self.id_col,
            exclude_id=exclude_id,
        ).select(self.id_col)
        vecs = self._serving("vectors", probe_ids)
        qcol = F.array(*[F.lit(float(v)) for v in qv])
        l2 = F.aggregate(
            F.zip_with(
                F.col(self.vec_col),
                qcol,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            vecs.join(short, self.id_col, "left_semi")
            .select(F.col(self.id_col), l2.alias("l2_dist"))
            .orderBy("l2_dist", self.id_col)
            .limit(k)
            .select(self.id_col, F.round("l2_dist", 6).alias("l2_dist"))
        )

    def topk_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        shortlist: int = 100,
        query_id_col: str = "query_id",
        query_vec_col: str | None = None,
        exclude_self: bool = False,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Batch top-k serve for a FRAME of query vectors — the
        production shape (a per-query :meth:`topk` loop is a driver
        bottleneck at any real query volume). Returns one row per
        (query, neighbor): (query_id, id, l2_dist), row-identical to
        running :meth:`topk` per query with the same parameters
        (``exclude_self=True`` == per-query ``exclude_id=query_id``).

        Distributed anatomy — every per-query scalar step of
        :meth:`topk` becomes a row-local expression, every driver-side
        selection a per-query window:

        1. normalize + rank the pinned centroids ROW-LOCALLY: the
           centroid matrix (with pre-computed norms) and PQ codebooks
           ride to every task as ONE broadcast constant row (the
           bloom-words / shipped-sketch pattern — expression size stays
           constant in the artifact size, no Janino blowup), and each
           query sorts its (‑cosine, cid) structs and keeps ``nprobe``
           — the exact ``_probe_ids`` arithmetic and tie-break;
        2. build the query's m x k ADC lookup table row-locally from
           the broadcast codebooks (same subspace-square fold
           ``pq_adc_topk`` computes driver-side);
        3. explode to (query, probed centroid) rows and equi-join the
           ``codes`` relation on centroid_id — the store side is read
           bucket-pruned to the batch's DISTINCT probed clusters
           (bounded by the centroid count, never the query count);
        4. ADC fold per (query, code) row, top-``shortlist`` per query
           via ONE window on query_id;
        5. re-rank: shortlist joins the probed clusters' ``vectors``
           on id and the (slim) query frame on query_id, exact-L2
           fold, top-``k`` per query window — which REUSES the
           shortlist window's query_id exchange.

        Queries with NULL or zero-norm vectors are EXCLUDED (no
        direction — the same rule ``normalize_rows`` applies to the
        corpus; the single-query path raises on them).

        ``allowed`` (optional): an id frame restricting the WHOLE
        batch's search to a metadata-selected subset — the batch twin
        of :meth:`topk`'s filtered serving, applied at the same point
        (the probed clusters' LIVE candidates, before ADC ranking, so
        every query's shortlist is spent on qualifying vectors)."""
        ic = self.id_col
        vc = self.vec_col
        qvc = query_vec_col or vc
        m = len(self.books)
        dsub = len(self.books[0][0])

        # -- broadcast artifact row: centroids (+ norms) and codebooks ----
        cent_rows = [
            (i, [float(x) for x in v],
             math.sqrt(sum(float(x) * float(x) for x in v)))
            for i, v in enumerate(self.centroids)
        ]
        books_lit = [
            [[float(x) for x in c] for c in book] for book in self.books
        ]
        const = self.spark.createDataFrame(
            [(cent_rows, books_lit)],
            "__cents array<struct<cid:int,vec:array<double>,nrm:double>>, "
            "__books array<array<array<double>>>",
        )

        def _fold(arr):
            return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

        # -- 1. normalize (qn0-or-1, the topk() rule) ----------------------
        raw_nrm = F.sqrt(
            _fold(
                F.transform(
                    F.col(qvc), lambda v: v.cast("double") * v.cast("double")
                )
            )
        )
        q0 = (
            eval_once(
                queries.where(F.col(qvc).isNotNull())
                .select(F.col(query_id_col).alias("__qid"), F.col(qvc)),
                __rawnrm=raw_nrm,
            )
            .where(F.col("__rawnrm") > 0)
            .select(
                "__qid",
                F.transform(
                    F.col(qvc), lambda v: v.cast("double") / F.col("__rawnrm")
                ).alias("__qv"),
            )
            .crossJoin(F.broadcast(const))
        )

        # -- probe ranking: the _probe_ids arithmetic, row-local -----------
        # qn recomputed from the normalized vector, exactly as
        # _probe_ids does (it is ~1.0 but not exactly — the division
        # must see the same double)
        qn = F.sqrt(
            _fold(F.transform(F.col("__qv"), lambda v: v * v))
        )
        sims = F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (
                    -(
                        _fold(
                            F.zip_with(
                                F.col("__qv"), c["vec"], lambda a, b: a * b
                            )
                        )
                        / (F.col("__qn") * c["nrm"])
                    )
                ).alias("negsim"),
                c["cid"].alias("cid"),
            ),
        )
        probes = F.slice(F.array_sort(sims), 1, nprobe)

        # -- 2. ADC lookup table: lut[s][j] = ||q_sub - book[s][j]||^2 ----
        lut = F.transform(
            F.col("__books"),
            lambda bk, s: F.transform(
                bk,
                lambda c: _fold(
                    F.zip_with(
                        F.slice(F.col("__qv"), s * dsub + 1, dsub),
                        c,
                        lambda a, b: (a - b) * (a - b),
                    )
                ),
            ),
        )
        q1 = eval_once(q0, __qn=qn)
        q2 = eval_once(q1, __probes=probes, __lut=lut).select(
            "__qid", "__qv", "__lut", "__probes"
        )
        # pin the query-side derivation ONCE: the probed-cluster key
        # frame, the codes join, and the re-rank join all consume it —
        # without the checkpoint each action re-runs the normalize/
        # rank/LUT chain (and read_keys' prune collect would too)
        q2 = q2.localCheckpoint(eager=True)
        exploded = q2.select(
            "__qid",
            "__lut",
            F.explode(
                F.transform(F.col("__probes"), lambda p: p["cid"])
            ).alias("centroid_id"),
        )

        # -- 3. probed codes (bounded key frame: <= n_centroids rows) -----
        probe_keys = exploded.select("centroid_id").distinct()
        if self._store.prune_probes:
            codes = self._store.read_keys(
                "codes", probe_keys, broadcast_keys=True
            )
        else:
            codes = self._store.read("codes")
            if codes is not None:
                codes = codes.join(
                    F.broadcast(probe_keys), "centroid_id", "left_semi"
                )
        if codes is None:
            raise ValueError(f"ANN index at {self.path} holds no vectors")
        if self._has_tombstones:
            codes = self._latest_live(codes, [ic, "codes", "centroid_id"])
        if allowed is not None:
            # post-tombstone, pre-ADC: identical placement to topk()'s
            # filter, so batch == per-query row-for-row with the same
            # allowed frame
            codes = codes.join(allowed.select(ic), ic, "left_semi")

        # -- 4. ADC fold + per-query shortlist window ----------------------
        adc = _fold(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, s: F.element_at(
                    F.element_at(F.col("__lut"), s + 1), c + 1
                ),
            )
        )
        cand = exploded.join(codes, "centroid_id")
        if exclude_self:
            cand = cand.filter(F.col(ic) != F.col("__qid"))
        wshort = Window.partitionBy("__qid").orderBy("__adc", ic)
        short = (
            cand.select("__qid", F.col(ic), adc.alias("__adc"))
            .withColumn("__rn", F.row_number().over(wshort))
            .filter(F.col("__rn") <= shortlist)
            .select("__qid", ic)
        )

        # -- 5. exact re-rank over the probed clusters' vectors ------------
        if self._store.prune_probes:
            vecs = self._store.read_keys(
                "vectors", probe_keys, broadcast_keys=True
            )
        else:
            vecs = self._store.read("vectors").join(
                F.broadcast(probe_keys), "centroid_id", "left_semi"
            )
        if self._has_tombstones:
            vecs = self._latest_live(vecs, [ic, vc, "centroid_id"])
        l2 = _fold(
            F.zip_with(
                F.col(vc),
                F.col("__qv"),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            )
        )
        wk = Window.partitionBy("__qid").orderBy("__l2", ic)
        return (
            short.join(vecs.select(ic, vc), ic)
            .join(q2.select("__qid", "__qv"), "__qid")
            .select("__qid", F.col(ic), l2.alias("__l2"))
            .withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= k)
            .select(
                F.col("__qid").alias(query_id_col),
                F.col(ic),
                F.round("__l2", 6).alias("l2_dist"),
            )
        )

    def merge(self, other: "PersistentAnnIndex", epoch=None) -> None:
        """Fold another SHARD's entire versioned state into this index
        — how a 100 TB corpus is actually indexed: per-shard builds
        (embarrassingly parallel, each an independent bootstrap+append
        pipeline) followed by pairwise/treewise merges into the serving
        index.

        Correctness model: both shards must be pinned to the SAME
        artifacts (centroids + codebooks) — assignments and PQ codes
        from different artifacts are not comparable, so mismatched
        artifacts raise. Rows are carried VERBATIM, version stamps
        included, so the merged index is row-equal to one index that
        received every shard's appends/deletes directly: LWW collapse
        (greatest seq wins, tombstone wins ties) resolves overlapping
        ids exactly as it would have in a single index, provided seq
        values are globally meaningful across shards (disjoint-corpus
        shards — the normal sharding — are trivially exact). Tombstone
        state propagates: if the shard ever deleted, the merged index
        serves LWW-collapsed from the first post-merge read.

        Cost: ONE atomic O(shard) commit (the shard's rows shuffle
        once into this store's bucket layout); nothing scales with the
        destination index's size. ``epoch`` makes a crash-replayed
        merge idempotent. The source index is left untouched."""
        if other.centroids != self.centroids or other.books != self.books:
            raise ValueError(
                "refusing to merge ANN shards pinned to different "
                "artifacts — assignments and PQ codes are only "
                "comparable under one (centroids, books) pair"
            )
        oc, sc = other.id_col, self.id_col
        ov, sv = other.vec_col, self.vec_col
        upd = {}
        for rel, payload in (
            ("codes", ["codes", "centroid_id"]),
            ("vectors", [ov, "centroid_id"]),
            ("ids", ["centroid_id"]),
        ):
            rows = other._store.read(rel)
            if rows is None:
                return  # empty shard: nothing to merge
            cols = [F.col(oc).alias(sc)]
            for c in payload:
                cols.append(F.col(c).alias(sv if c == ov else c))
            upd[rel] = rows.select(*cols, "seq", "live")
        if other._has_tombstones:
            # flag BEFORE the commit (delete()'s ordering): a reader
            # that sees merged tombstones must already LWW-collapse
            try:
                with open(self._flag_path, "x"):
                    pass
            except FileExistsError:
                pass
        self._store.append_keyed(upd, epoch=epoch)

    def doc_topk(
        self,
        query_vec: list[float],
        labels: DataFrame,
        k_docs: int = 5,
        chunk_k: int = 50,
        nprobe: int = 4,
        shortlist: int = 100,
        exclude_id: int | None = None,
        label_col: str = "label",
    ) -> DataFrame:
        """DOCUMENT-level retrieval served THROUGH the index — the
        late-interaction (ColBERT-style MaxSim) shape at document
        granularity: chunks are indexed, documents are answered. A
        document's score is its best chunk's distance among the
        ``chunk_k`` index-served chunks (min L2 over unit vectors ==
        max cosine — the MaxSim reduction), and the top ``k_docs``
        documents are returned as (label, best_l2) ascending.

        This is the 100 TB replacement for a per-query full-corpus
        MaxSim scan (plans/extension_queries.py:x_sim_doc_maxsim_topk
        keeps the exact brute-force baseline): the chunk retrieval is
        the existing bucket-pruned :meth:`topk` — ONLY the ``nprobe``
        probed clusters' code/vector buckets are read, never the
        corpus — and the doc reduction is a broadcast join of the tiny
        chunk shortlist onto the label mapping plus one partial-agg
        group MIN. Approximation semantics are the index's: a document
        whose every chunk lives in non-probed clusters is missed, the
        same way :meth:`topk` misses those chunks.

        ``labels``: (id_col, label_col) mapping — typically a
        projection of the source table; only the rows matching the
        served chunks are ever materialized past the join.
        """
        chunks = self.topk(
            query_vec,
            k=chunk_k,
            nprobe=nprobe,
            shortlist=shortlist,
            exclude_id=exclude_id,
        )
        return (
            labels.select(self.id_col, label_col)
            # the chunk shortlist is <= chunk_k rows — broadcast it so
            # the label mapping is filtered in place, never shuffled
            .join(F.broadcast(chunks), self.id_col)
            .groupBy(label_col)
            .agg(F.min("l2_dist").alias("best_l2"))
            .orderBy("best_l2", label_col)
            .limit(k_docs)
            .orderBy(label_col)
            .select(label_col, "best_l2")
        )

    def doc_topk_batch(
        self,
        queries: DataFrame,
        labels: DataFrame,
        k_docs: int = 5,
        chunk_k: int = 50,
        nprobe: int = 4,
        shortlist: int = 100,
        query_id_col: str = "query_id",
        query_vec_col: str | None = None,
        exclude_self: bool = False,
        allowed: DataFrame | None = None,
        label_col: str = "label",
    ) -> DataFrame:
        """Batch twin of :meth:`doc_topk`: document-level answers for a
        FRAME of queries in one distributed plan. The chunk retrieval
        is :meth:`topk_batch` (row-local probe ranking + ADC tables,
        bucket-pruned store reads, per-query windows — no driver
        loop); the doc reduction groups (query, label) to the best
        chunk distance and window-cuts ``k_docs`` per query, REUSING
        the query-keyed exchange the serve windows already built.
        Returns (query_id, label, best_l2); per-query rows are
        identical to a :meth:`doc_topk` loop with the same parameters
        (pinned by test)."""
        chunks = self.topk_batch(
            queries,
            k=chunk_k,
            nprobe=nprobe,
            shortlist=shortlist,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            exclude_self=exclude_self,
            allowed=allowed,
        )
        w = Window.partitionBy(query_id_col).orderBy("best_l2", label_col)
        return (
            chunks.join(labels.select(self.id_col, label_col), self.id_col)
            .groupBy(query_id_col, label_col)
            .agg(F.min("l2_dist").alias("best_l2"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k_docs)
            .select(query_id_col, label_col, "best_l2")
        )

    def compact(self) -> None:
        """Fold append-dir lists + drop replayed duplicate rows; with
        tombstones present, also the VACUUM of the upsert model — each
        relation collapses to the live latest version per id (keeping
        the version stamp so later writes still LWW against the
        survivors). Deterministic under the LWW order; same stale-
        replay-after-compaction caveat as the sibling indexes."""
        ic = self.id_col
        vc = self.vec_col

        def fold(rel: str, current: DataFrame, upd) -> DataFrame:
            if not self._has_tombstones:
                return current.dropDuplicates([ic])
            payload = {
                "codes": ["codes", "centroid_id"],
                "vectors": [vc, "centroid_id"],
                "ids": ["centroid_id"],
            }[rel]
            order = F.struct(
                F.col("seq"),
                F.when(F.col("live"), F.lit(0)).otherwise(F.lit(1)),
            )
            latest = current.groupBy(ic).agg(
                F.max_by(F.struct(*payload, "seq", "live"), order).alias("s")
            )
            return latest.filter(F.col("s.live")).select(
                ic,
                *[F.col(f"s.{c}").alias(c) for c in payload],
                F.col("s.seq").alias("seq"),
                F.col("s.live").alias("live"),
            )

        self._store.apply_keyed_all_buckets(fold)

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep, grace_seconds)
