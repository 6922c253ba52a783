"""Persistent inverted index serving Okapi BM25 — ranked retrieval as
durable state (the retrieval sibling of the dedup/ANN index family:
fingerprint_index.py, neardup_index.py, semantic_index.py,
ann_index.py).

:func:`~iheardai_data_pipeline_spark.operators.text.bm25_topk`
re-tokenizes and re-aggregates the WHOLE corpus every call. At 100 TB
the postings are a maintained index: five relations of ONE
:class:`~iheardai_data_pipeline_spark.streaming.stores.MultiRelationTransactionalStore`
commit log —

- ``postings`` (term-keyed): (term, doc_id, tf, positions, dl, seq) —
  the probe side. A query's serve reads ONLY the buckets its terms
  hash to, and each term's TRUE document frequency is computable from
  that one bucket (every posting for a term lives there), so idf needs
  no corpus scan. The POSITIONAL payload (sorted in-document token
  offsets — the standard positional-index trade: roughly doubles
  postings bytes) serves exact phrase queries (:meth:`phrase_topk`)
  from the same buckets. ``dl`` (round 15) denormalizes the doc's
  length INTO each posting (+8 bytes/row): a posting is only ever
  served when it belongs to the doc's live version (the seq-equality
  rule), and that version's dl is fixed at append time, so carrying it
  in-row lets BM25 serving skip the corpus-sized doclens liveness
  join entirely (the forward relation's in-row dl idea, applied to
  the probe side — guide §2.4/§6).
- ``doclens`` (doc-keyed): (doc_id, dl, seq, live) — the LIVENESS
  AUTHORITY. Every mutation writes the doc's doclen row and its
  postings with the SAME seq; a candidate posting is live iff its seq
  equals the doc's current live doclens seq. That one equality gives
  delete (tombstone seq > posting seq -> no live doclen row), upsert
  (new postings carry the new seq; stale terms' old rows fail the
  equality), and replay-duplicate tolerance (duplicate rows agree on
  seq; the serve aggregates per (term, doc) with max_by) — with ZERO
  postings-side tombstones, so prune-exactness never needs a
  tombstone to land in a term bucket.
- ``stats`` (single-key): append-only (d_docs, d_len) deltas whose SUM
  is the live (N, total_len) pair BM25's idf/avgdl need. Rows grow
  one per mutating commit and :meth:`compact` folds them to one; the
  serve-side read is commit-count-sized, never corpus-sized.
- ``forward`` (doc-keyed, round 13): (doc_id, terms=[(term, tf)...],
  seq) — the doc's own term list, the inverse access path postings
  can't give (term-keyed buckets make "which terms does doc d have"
  a corpus-wide read). Written at append alongside doclens with the
  SAME seq, so the seq-equality rule resolves its liveness too (a
  delete's doclens tombstone kills the forward row with the
  postings). Roughly doubles indexed bytes minus positions — the
  standard forward-index trade. It serves two reads: (a) the pruned
  serve SCORES candidate docs from it (a candidate-set-sized
  bucket-pruned lookup), so a hot suffix term's postings bucket is
  never scanned at all, and (b) :meth:`prf_topk`'s expansion reads
  the feedback docs' terms from it, killing the caller-supplied
  live-corpus argument (VERDICT r12 nit 1).
- ``termstats`` (term-keyed, round 13): additive (d_df, max_tf)
  deltas per term. SUM(d_df) is the term's EXACT live document
  frequency — append computes the delta against the replaced
  versions' forward rows (+1 gained doc, -1 lost doc), delete
  subtracts the deleted docs' terms — so serve-time idf needs a
  commit-count-sized read of the query terms' buckets instead of the
  r12 serve's one remaining linear term (a COUNT over Σ df(t) probed
  postings). MAX(max_tf) is a HIGH WATERMARK on live max tf (appends
  raise it, deletes never lower it, :meth:`compact` re-tightens it
  exactly) — a sound, possibly loose, upper-bound input, which is
  all max-score pruning needs.
  CAVEAT — replay tolerance EXCLUDES the delta relations: duplicate
  postings/doclens/forward rows self-heal through the max_by
  collapse, but a replayed un-epoched mutation appends its stats AND
  termstats deltas AGAIN and the sums double-count, drifting every
  idf/avgdl-dependent score. At-least-once writers MUST pass
  ``epoch`` (the store then makes the whole replayed commit a
  no-op); the shipped catalog entries all do.

SEQ CONTRACT (the family's LWW rule, specialized): every mutation of a
doc id must carry a seq STRICTLY GREATER than any previous mutation of
that id; ties collapse tombstone-first (delete-biased, as in
semantic_index._latest_live). Single-writer-per-index is the supported
deployment (see FingerprintIndex.words' multi-writer note) — the stats
deltas are computed against the pre-commit state and would double-count
under concurrent distinct writers.

Serve arithmetic is bm25_topk's EXACTLY (same fixed parenthesization,
same floor-to-micro-unit BIGINT sums), so the brute operator's DuckDB
oracle replays the index's answers bit-for-bit over the live corpus —
the x_text_bm25_indexed correctness gate. ``topk(prune=True)`` serves
the same rows through EXACT max-score pruning (:meth:`_topk_pruned` —
the hot-term scale lever: a stopword's postings feed only the df
count, never the scoring exchange; gated by x_text_bm25_wand on the
identical oracle).

Reference parity: training-data extension set (SURVEY §2 extensions);
the persistent variant of x_text_bm25_topk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.text import normalize_text
from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism
from iheardai_data_pipeline_spark.streaming.stores import (
    MultiRelationTransactionalStore,
    claim_layout_meta,
)

# 2 = the round-13 layout: + forward (doc -> term list) and termstats
# (additive per-term df/max-tf deltas) relations. A format-1 index has
# neither and cannot serve the maintained-stats pruned path — rebuild.
# 3 = the round-15 layout: postings rows additionally carry the doc's
# ``dl`` (exact under the seq-equality rule — a posting only serves
# with its own version, whose dl is fixed at append), which is what
# lets the unpruned serve drop its corpus-sized doclens liveness join.
# A format-2 index's postings lack the column — rebuild.
FORMAT_VERSION = 3

# Largest mutation delta (rows) the serve broadcasts into its liveness
# joins: 4M rows is ~100 MB built.
BCAST_DELTA_ROWS = 4_000_000


class PostingsIndex:
    """Persistent BM25-serving inverted index over a growing corpus.

    ``append(docs, seq=...)`` indexes (or, at a strictly greater seq,
    REPLACES) documents; ``delete(ids, seq=...)`` retracts them;
    ``topk(queries)`` serves ranked retrieval reading only the query
    terms' buckets. BM25 constants (k1, b) are part of the on-disk
    state — scores from different constants are not comparable, so the
    creator pins them and later opens must match (the
    FingerprintIndex ``_fp_meta.json`` pattern).

    ``n_buckets``: pass ``expected_docs=`` to size the postings
    relation with the shared ``buckets_for_corpus`` rule (terms per doc
    ~ doclen, but postings rows per doc are DISTINCT terms — the
    ``bands=32`` default below approximates a short-document corpus;
    override for long documents). The bare default (16, scan-all
    regime) is only right for rig-scale corpora.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k1: float = 1.2,
        b: float = 0.75,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int | None = None,
        expected_docs: int | None = None,
        field_weights: dict[str, float] | None = None,
    ) -> None:
        """``field_weights``: pass e.g. ``{"title": 2.5, "body": 1.0}``
        to build a FIELDED (BM25F) index — append then reads those
        document columns instead of ``text_col``, folds each field's
        tf by its weight into an exact BIGINT milli sum (the 'simple
        weighted-field' BM25F — see text.bm25f_topk for the scoring
        contract), and the serve divides tf/dl by 1000 once per
        contribution with a fixed parenthesization. Weights are part
        of the on-disk state like (k1, b) — fielded scores are not
        comparable across weightings. A fielded index stores NO
        positional payload (tf is a weighted fold of several token
        streams, so there is no single position space): phrase_topk
        raises."""
        from iheardai_data_pipeline_spark.operators.neardup_index import (
            buckets_for_corpus,
        )
        from iheardai_data_pipeline_spark.operators.text import (
            _validate_milli_weights,
        )

        if n_buckets is None and expected_docs is not None:
            n_buckets = buckets_for_corpus(expected_docs, bands=32)
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self._w_milli = (
            _validate_milli_weights(field_weights)
            if field_weights is not None
            else None
        )
        # 1.0 keeps the unfielded serve bit-identical (x / 1.0 == x in
        # IEEE); 1000.0 maps milli tf/dl back to weighted-token units
        self._tf_scale = 1000.0 if self._w_milli else 1.0
        os.makedirs(path, exist_ok=True)
        meta = {
            "format": FORMAT_VERSION,
            "k1": k1,
            "b": b,
            "fields": self._w_milli,
        }
        persisted = claim_layout_meta(
            os.path.join(path, "_bm25_meta.json"), meta
        )
        if persisted.get("format") != FORMAT_VERSION:
            # a format mismatch is NOT a parameterization clash — say
            # what it actually is (ADVICE r13): an older layout lacks
            # the forward/termstats relations the maintained-stats serve
            # needs, and no open-time shim can backfill them (their
            # deltas are computed against pre-commit state at each
            # mutation)
            raise ValueError(
                f"postings index at {path} has on-disk format "
                f"{persisted.get('format')}; this build reads format "
                f"{FORMAT_VERSION} — older layouts lack columns/"
                "relations this serve depends on (format 1: the "
                "forward/termstats relations; format 2: the in-row "
                "postings dl) and no open-time shim can backfill "
                "them — the index must be REBUILT from the source "
                "corpus"
            )
        if persisted != meta:
            raise ValueError(
                f"postings index at {path} was created with "
                f"{persisted}; got {meta} — one BM25 parameterization "
                "per index (scores are not comparable across k1/b)"
            )
        self.k1, self.b = k1, b
        self._store = MultiRelationTransactionalStore(
            spark,
            os.path.join(path, "state"),
            relations={
                "postings": ["term"],
                "doclens": [id_col],
                "stats": ["stat"],
                "forward": [id_col],
                "termstats": ["term"],
            },
            n_buckets=n_buckets,
        )

    # -- internals ------------------------------------------------------------

    def _tokens(self, docs: DataFrame) -> DataFrame:
        """(doc_id, pos, term) under the canonical normalization —
        bm25_topk's tokenizer verbatim, plus the 0-based token offset
        (the positional payload phrase serving needs)."""
        return ensure_parallelism(
            docs.where(F.col(self.text_col).isNotNull())
        ).select(
            F.col(self.id_col),
            F.posexplode(
                F.split(normalize_text(F.col(self.text_col)), " ")
            ).alias("pos", "term"),
        )

    def _batch_relations(self, docs: DataFrame, seq: int) -> tuple:
        """tf + sorted positions + in-row dl + doclen + forward rows
        for one batch, stamped with the LWW seq. All derive from ONE
        doc-keyed shuffle: the token stream repartitions by doc id,
        which the (doc, term) tf aggregate, the per-doc dl window (the
        round-15 in-row postings dl), and the downstream per-doc
        rollup all satisfy without another exchange (guide §2.4 —
        operations keyed the same way share one exchange). Only the
        EXPENSIVE frame (tf — the tokenize + shuffle) is eagerly
        checkpointed; the per-doc rollup stays lazy (round 14): its
        consumers share one staged write job, where the identical agg
        subtrees collapse into one exchange (ReusedExchange), so
        materializing it bought nothing but an extra driver barrier
        per mutation."""
        from pyspark.sql import Window

        ic = self.id_col
        s = F.lit(int(seq)).cast("long").alias("seq")
        wdoc = Window.partitionBy(ic)
        if self._w_milli is not None:
            # fielded (BM25F): tf = exact BIGINT milli fold of the
            # fields' token streams (each stream carries its weight as
            # a literal); no positional payload — see __init__. The
            # hash repartition on the doc id doubles as the small-scan
            # fan-out ensure_parallelism used to provide.
            from functools import reduce

            streams = [
                docs.where(F.col(fcol).isNotNull()).select(
                    F.col(ic),
                    F.explode(
                        F.split(normalize_text(F.col(fcol)), " ")
                    ).alias("term"),
                    F.lit(wm).cast("long").alias("w"),
                )
                for fcol, wm in sorted(self._w_milli.items())
            ]
            tf = (
                reduce(lambda a, b: a.unionByName(b), streams)
                .repartition(F.col(ic))
                .groupBy(ic, "term")
                .agg(F.sum("w").alias("tf"))
                .withColumn(
                    "positions", F.lit(None).cast("array<int>")
                )
                .withColumn("dl", F.sum("tf").over(wdoc))
                .localCheckpoint(eager=True)
            )
        else:
            tf = (
                self._tokens(docs)
                .repartition(F.col(ic))
                .groupBy(ic, "term")
                .agg(
                    F.count(F.lit(1)).alias("tf"),
                    F.sort_array(F.collect_list("pos")).alias("positions"),
                )
                .withColumn("dl", F.sum("tf").over(wdoc))
                .localCheckpoint(eager=True)
            )
        perdoc = tf.groupBy(ic).agg(
            F.sum("tf").alias("dl"),
            F.sort_array(
                F.collect_list(F.struct("term", "tf"))
            ).alias("terms"),
        )
        return (
            tf.select("term", ic, "tf", "positions", "dl", s),
            perdoc.select(ic, "dl", s, F.lit(True).alias("live")),
            perdoc.select(ic, "terms", s),
        )

    @staticmethod
    def _lww_okey() -> F.Column:
        """The doclens LWW order (seq ascending, tombstone wins ties)
        linearized into ONE BIGINT: ``2*seq + (0 if live else 1)`` —
        max picks the greatest seq, and between a live row and a
        tombstone at the SAME seq the tombstone's +1 wins (the
        delete-biased tie rule). Linearizing matters for plan shape
        (round 15): a struct ordering key gives max_by a struct
        aggregation buffer, which HashAggregate cannot hold, forcing
        every doclens collapse into a Sort + SortAggregate pair; with
        primitive value/ordering columns the collapse hash-aggregates.
        Sound for 0 <= seq < 2^62 (the family's seq contract)."""
        return F.col("seq") * 2 + F.when(
            F.col("live"), F.lit(0)
        ).otherwise(F.lit(1))

    def _live_doclens(self, rows: DataFrame) -> DataFrame:
        """LWW collapse per doc: greatest seq wins, tombstone wins ties
        (delete-biased); returns live (doc_id, dl, seq). Runs as a
        HashAggregate over the linearized order key (see
        :meth:`_lww_okey`); live winners have an even key, and their
        seq is ``okey div 2`` exactly."""
        ic = self.id_col
        latest = rows.groupBy(ic).agg(
            F.max_by(F.col("dl"), self._lww_okey()).alias("dl"),
            F.max(self._lww_okey()).alias("__okey"),
        )
        return latest.filter(F.col("__okey") % 2 == 0).select(
            ic, "dl", F.expr("__okey DIV 2").alias("seq")
        )

    def _current_live_for(
        self,
        ids: DataFrame,
        broadcast_keys: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """Live (doc_id, dl) for the given ids — one bucket-pruned
        doclens lookup. ``broadcast_keys`` hints the semi-join to
        broadcast the id frame: mutation callers (append/delete) pass
        batch-bounded frames and keep the default; the SERVE path
        passes False because its frame is every live doc containing a
        query term — unbounded when a query carries a hot term, and
        forcing a broadcast of an unbounded frame can OOM the driver
        (read_keys' own rule). Without the hint the optimizer picks
        the strategy from the frame's actual size (AQE). ``version``:
        read doclens AS OF that committed store version (the serve
        paths pin one version for every read — see :meth:`topk`)."""
        key_frame = ids.select(self.id_col)
        rows = (
            self._store.read_keys("doclens", key_frame, version=version)
            if self._store.prune_probes
            else self._store.read("doclens", version=version)
        )
        if rows is None:
            return self.spark.createDataFrame(
                [], f"{self.id_col} long, dl long, seq long"
            )
        kf = F.broadcast(key_frame) if broadcast_keys else key_frame
        return self._live_doclens(rows).join(kf, self.id_col, "left_semi")

    def _stats_delta(self, d_docs: int, d_len: int) -> DataFrame:
        return self.spark.createDataFrame(
            [("corpus", int(d_docs), int(d_len))],
            "stat string, d_docs long, d_len long",
        )

    def _empty(self, rel: str) -> DataFrame:
        schemas = {
            "postings": f"term string, {self.id_col} long, tf long, "
            "positions array<int>, dl long, seq long",
            "doclens": f"{self.id_col} long, dl long, seq long, live boolean",
            "stats": "stat string, d_docs long, d_len long",
            "forward": f"{self.id_col} long, "
            "terms array<struct<term:string,tf:bigint>>, seq long",
            "termstats": "term string, d_df long, max_tf long",
        }
        return self.spark.createDataFrame([], schemas[rel])

    def _live_forward_for(
        self,
        ids: DataFrame,
        broadcast_keys: bool = True,
        live: DataFrame | None = None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Live exploded (doc_id, dl, term, tf) rows for the given ids
        — THE doc-keyed read path (postings answer term -> docs; this
        answers doc -> terms). One bucket-pruned forward read, the
        usual max_by physical-duplicate collapse, and the seq-equality
        liveness join (``live`` lets callers that already hold the
        ids' live (doc_id, dl, seq) frame skip the doclens lookup).
        Returns None when the index has no forward rows at all."""
        ic = self.id_col
        key_frame = ids.select(ic).distinct()
        rows = (
            self._store.read_keys("forward", key_frame, version=version)
            if self._store.prune_probes
            else self._store.read("forward", version=version)
        )
        if rows is None:
            return None
        if live is None:
            live = self._current_live_for(
                key_frame, broadcast_keys=broadcast_keys, version=version
            )
        collapsed = (
            rows.groupBy(ic)
            .agg(F.max_by(F.struct("terms", "seq"), F.col("seq")).alias("s"))
            .select(
                ic,
                F.col("s.terms").alias("terms"),
                F.col("s.seq").alias("seq"),
            )
        )
        return (
            collapsed.join(
                live.select(
                    ic, "dl", F.col("seq").alias("live_seq")
                ),
                ic,
            )
            .filter(F.col("seq") == F.col("live_seq"))
            .select(ic, "dl", F.explode("terms").alias("t"))
            .select(
                ic,
                "dl",
                F.col("t.term").alias("term"),
                F.col("t.tf").alias("tf"),
            )
        )

    def _term_stats_frame(
        self, terms: DataFrame, version: int | None = None
    ) -> DataFrame | None:
        """Maintained per-term statistics for a bounded term frame:
        (term, df, max_tf) with df the EXACT live document frequency
        (the additive deltas' sum) and max_tf the high watermark. One
        bucket-pruned, commit-count-sized termstats read — nothing
        scales with the terms' postings volume. Terms whose df folded
        to <= 0 (all their docs deleted) are dropped."""
        td = terms.select("term").distinct()
        rows = (
            self._store.read_keys(
                "termstats", td, broadcast_keys=True, version=version
            )
            if self._store.prune_probes
            else self._store.read("termstats", version=version)
        )
        if rows is None:
            return None
        return (
            rows.join(F.broadcast(td), "term")
            .groupBy("term")
            .agg(
                F.sum("d_df").alias("df"),
                F.max("max_tf").alias("max_tf"),
            )
            .filter(F.col("df") > 0)
        )

    def stats(self, version: int | None = None) -> tuple[int, int]:
        """Live (n_docs, total_len) — the SUM of the delta relation.
        Commit-count-sized read (compact folds it to one row)."""
        rows = self._store.read("stats", version=version)
        if rows is None:
            return 0, 0
        r = rows.agg(
            F.coalesce(F.sum("d_docs"), F.lit(0)).alias("n"),
            F.coalesce(F.sum("d_len"), F.lit(0)).alias("t"),
        ).collect()[0]
        return int(r["n"]), int(r["t"])

    def _live_candidates(
        self,
        terms: DataFrame,
        version: int | None = None,
        with_positions: bool = True,
        m: DataFrame | None = None,
    ) -> DataFrame | None:
        """The shared serve front half: bucket-pruned postings read for
        the given (bounded, broadcastable) term frame, delta-liveness
        resolution, and physical-duplicate collapse — returns live
        (term, doc_id, tf, dl [, positions]) candidate postings, or
        None when nothing matches.

        Round 15: liveness resolves against the :meth:`_mutation_delta`
        frame (the pruned serve's rule — pass ``m`` to reuse one
        already checkpointed this serve) and dl rides IN the posting
        row, so the old corpus-sized doclens read + LWW collapse +
        per-pass eager checkpoint are gone outright (guide §2.4; at
        100 TB that job re-read doclens once per serve PASS). The
        delta filter runs BEFORE the collapse: it kills stale upsert
        versions by seq equality, so what remains per (term, doc) are
        replayed-append replicas that agree on every payload byte —
        plain MAX both dedups and keeps the value, and the collapse
        stays a HashAggregate (no max_by struct buffer).

        ``with_positions=False`` (the BM25 serve) also drops the
        positional payload at the scan — BM25 never reads it and it is
        the ~2x-bytes half of every posting (guide §2.3) — and hash-
        repartitions on ``term`` so the collapse AND the downstream
        per-term df window share ONE exchange (guide §2.4). Phrase
        serving passes True and keeps the array-carrying collapse."""
        ic = self.id_col
        td = terms.select("term").distinct()
        pl = (
            self._store.read_keys(
                "postings", td, broadcast_keys=True, version=version
            )
            if self._store.prune_probes
            else self._store.read("postings", version=version)
        )
        if pl is None:
            return None
        if m is None:
            m = self._mutation_delta(version=version)
        if m is None:
            return None
        cols = ["term", ic, "tf", "dl", "seq"] + (
            ["positions"] if with_positions else []
        )
        live = (
            pl.select(*cols)
            .join(F.broadcast(td), "term")
            .join(self._delta_join_side(m), ic, "left")
            .filter(self._delta_alive())
        )
        if with_positions:
            return (
                live.groupBy("term", ic)
                .agg(
                    F.max_by(
                        F.struct("tf", "positions", "dl"), F.col("seq")
                    ).alias("s")
                )
                .select(
                    "term",
                    ic,
                    F.col("s.tf").alias("tf"),
                    F.col("s.positions").alias("positions"),
                    F.col("s.dl").alias("dl"),
                )
            )
        return (
            live.select("term", ic, "tf", "dl")
            .repartition(F.col("term"))
            .groupBy("term", ic)
            .agg(F.max("tf").alias("tf"), F.max("dl").alias("dl"))
        )

    # -- public API -------------------------------------------------------------

    def append(self, docs: DataFrame, seq: int = 0, epoch=None) -> None:
        """Index documents (bootstrap) or REPLACE live versions at a
        strictly greater seq (the seq-equality liveness rule makes
        replacement exact without a tombstone: stale postings fail the
        seq match, vanished terms' old rows with them). Null-text rows
        are skipped (no content to index). ONE atomic O(batch) commit
        of postings + doclens + the stats delta.

        Cost anatomy: one (doc, term) shuffle (tf, the only eager
        checkpoint), then ONE add-files commit whose staged write also
        computes the per-doc rollup and the one-row stats delta
        in-plan (no driver collect). Only when the store already HAS
        doclens (a manifest check, no job) does a bucket-pruned
        doclens lookup of the batch ids run, and only when THAT finds
        replaced versions does the bucket-pruned forward lookup of the
        replaced ids follow (their term sets feed the termstats -1
        legs). A bootstrap append is therefore tf + commit, two jobs;
        a FRESH-id batch into a populated store adds just the doclens
        probe (round 14, VERDICT r13 #2 extended: the probe-always,
        collect-always shape cost two extra driver barriers per bulk
        batch that always answered 'nothing replaced'). Nothing scales
        with corpus size.

        At-least-once delivery REQUIRES ``epoch``: a replayed
        un-epoched append duplicates postings/doclens/forward rows
        (harmless — the serve's max_by collapse heals them) but ALSO
        re-appends the stats AND termstats deltas, whose SUMs have no
        dedup — N/total_len/df double-count and every score drifts
        (module header's delta caveat). A replayed EPOCHED append
        short-circuits before any delta work (the commit itself would
        no-op anyway, but only after paying for the probes)."""
        if self._store.epoch_committed(epoch):
            return  # replay: skip the delta probes, not just the commit
        ic = self.id_col
        tf, dl, fwd = self._batch_relations(docs, seq)
        # replaced-version probe: only when the store HAS doclens at all
        # (a pure manifest check) — bootstrap appends skip the probe
        # subplan, its checkpoint barrier, and the replaced gate outright
        # (round 14 optimization: the probe-always shape cost two driver
        # jobs per bulk-build batch that always answered 'nothing')
        replaced = False
        old = None
        if self._store.relation_populated("doclens"):
            old = self._current_live_for(dl).localCheckpoint(eager=True)
            replaced = bool(old.take(1))
        if replaced:
            joined = dl.join(
                old.select(ic, F.col("dl").alias("old_dl")),
                ic,
                "left",
            )
        else:
            joined = dl.withColumn("old_dl", F.lit(None).cast("long"))
        # the (d_docs, d_len) stats delta STAYS A PLAN: it commits as the
        # one-row stats relation inside the SAME staged write job instead
        # of a driver collect + literal re-injection (round 14 — guide
        # §5: the driver does no data work; one fewer job per mutation)
        stats = joined.agg(
            F.coalesce(
                F.sum(F.when(F.col("old_dl").isNull(), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("d_docs"),
            F.coalesce(
                F.sum(F.col("dl") - F.coalesce(F.col("old_dl"), F.lit(0))),
                F.lit(0),
            )
            .cast("long")
            .alias("d_len"),
        ).select(F.lit("corpus").alias("stat"), "d_docs", "d_len")
        # per-term df delta: +1 for every (doc, term) the batch gains,
        # -1 for every (doc, term) a REPLACED version loses — terms a
        # doc keeps across the upsert net to 0, so SUM(d_df) stays the
        # exact live df. Old term sets come from the forward relation,
        # fetched ONLY when the doclens probe found replaced versions
        # (fresh batches and bootstrap have no -1 legs by definition).
        # max_tf = the batch's own max per term (watermark semantics:
        # only ever raised here).
        parts = tf.select(ic, "term").withColumn("w", F.lit(1))
        if replaced:
            old_fwd = self._live_forward_for(old, live=old)
            if old_fwd is not None:
                parts = parts.unionByName(
                    old_fwd.select(ic, "term").withColumn("w", F.lit(-1))
                )
        ts = (
            parts.groupBy("term")
            .agg(F.sum("w").cast("long").alias("d_df"))
            .join(
                tf.groupBy("term").agg(F.max("tf").alias("max_tf")),
                "term",
                "left",
            )
            .select("term", "d_df", "max_tf")
        )
        self._store.append_keyed(
            {
                "postings": tf,
                "doclens": dl,
                "stats": stats,
                "forward": fwd,
                "termstats": ts,
            },
            epoch=epoch,
        )

    def delete(self, ids: DataFrame, seq: int, epoch=None) -> None:
        """Retract documents by id (M1/M2 last-write-wins, the family
        contract): one doclens tombstone per currently-live id — it
        lands in the doc's own doclen bucket, and every posting of the
        doc dies with it through the seq-equality rule (the forward
        row with the postings), so NO term bucket is touched — except
        the termstats deltas: the deleted docs' term sets (one
        bucket-pruned forward lookup of the batch ids) each subtract 1
        from their terms' df sums, keeping serve-time df exact without
        ever counting postings. Deleting an unknown/dead id is a
        no-op. Physical postings/forward reclamation happens in
        :meth:`compact`."""
        if self._store.epoch_committed(epoch):
            return  # replay: skip the probes, not just the commit
        ic = self.id_col
        old = self._current_live_for(ids).localCheckpoint(eager=True)
        if not old.take(1):
            return  # no currently-live ids: a no-op, no commit
        # the negative stats delta stays a PLAN committed inside the
        # staged write (see append) — the old collect gated the no-op
        # case too, which the bounded take(1) above now answers alone
        stats = old.agg(
            (-F.count(F.lit(1))).cast("long").alias("d_docs"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("d_len"),
        ).select(F.lit("corpus").alias("stat"), "d_docs", "d_len")
        old_fwd = self._live_forward_for(old, live=old)
        ts = (
            old_fwd.groupBy("term")
            .agg((F.count(F.lit(1)) * F.lit(-1)).cast("long").alias("d_df"))
            .select(
                "term", "d_df", F.lit(None).cast("long").alias("max_tf")
            )
            if old_fwd is not None
            else self._empty("termstats")
        )
        s = F.lit(int(seq)).cast("long").alias("seq")
        self._store.append_keyed(
            {
                "postings": self._empty("postings"),
                "doclens": old.select(
                    ic, "dl", s, F.lit(False).alias("live")
                ),
                "stats": stats,
                "forward": self._empty("forward"),
                "termstats": ts,
            },
            epoch=epoch,
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        query_id_col: str = "query_id",
        query_text_col: str = "qtext",
        allowed: DataFrame | None = None,
        prune: bool = False,
        diag: dict | None = None,
    ) -> DataFrame:
        """Okapi BM25 top-k per query, served FROM THE INDEX: reads
        only the query terms' postings buckets (+ the mutation-sized
        doclens delta + the commit-count-sized stats relation), never
        the corpus. Output schema == bm25_topk's, and the arithmetic is
        its fixed-parenthesization micro-unit discipline, so the brute
        operator's oracle replays this serve exactly.

        ``allowed``: optional (doc_id) frame of eligible documents —
        the metadata-filtered serving the ANN index's ``topk(allowed=)``
        gives vectors. The mask filters CANDIDATES ONLY; df/N/avgdl
        stay corpus-global (the standard search-engine filter-query
        contract: a filter narrows results, it does not re-weight the
        collection statistics), so a doc's score is identical with or
        without the mask. The semi-join runs at the identical
        (post-liveness, pre-scoring) point for every query, and the
        join strategy is left to the optimizer (small id sets
        broadcast, huge ones shuffle — the filtered-ANN rule).

        Plan shape: the query-term frame is bounded by the serving
        workload — broadcast onto the postings read (the ANN probe-key
        rule: the store side never exchanges on a — possibly hot —
        term). df(t) aggregates the probed bucket's live postings; the
        final top-k window partitions by query.

        ``prune=True``: serve through :meth:`_topk_pruned` — EXACT
        max-score/WAND-family pruning for hot-term workloads (same
        output, bit for bit; the only difference is which postings
        flow through the scoring exchange). ``diag``: an optional dict
        the pruned path fills with measured row counts (extra count
        jobs — measurement only).

        Every read of the serve — stats, termstats, postings, doclens,
        forward — is pinned to ONE store version captured here (round
        14, ADVICE r13): a serve is a multi-read sequence, and a
        concurrent commit landing mid-sequence would otherwise make a
        later read see a newer state than an earlier one (e.g. a
        candidate's fresh forward seq failing the already-snapshotted
        mutation delta's seq equality and silently dropping the doc
        from scoring)."""
        version = self._store.current_version()
        qterms = (
            queries.select(
                F.col(query_id_col),
                F.explode(
                    F.split(normalize_text(F.col(query_text_col)), " ")
                ).alias("term"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if prune:
            return self._topk_pruned(
                qterms, k, query_id_col, allowed, diag, version=version
            )
        return self._topk_terms(
            qterms, k, query_id_col, allowed, version=version
        )

    def _topk_terms(
        self,
        qterms: DataFrame,
        k: int,
        query_id_col: str,
        allowed: DataFrame | None = None,
        version: int | None = None,
        stats_pair: tuple[int, int] | None = None,
        m: DataFrame | None = None,
    ) -> DataFrame:
        """The serve body behind :meth:`topk`, taking an already-
        tokenized (query_id, term) frame — also the pass-2 entry point
        for :meth:`prf_topk`, whose expanded term sets exist only as a
        frame, never as query text. ``version`` pins every store read
        (callers capture it once per serve — :meth:`topk`'s contract);
        None falls back to per-read latest. ``stats_pair`` lets a
        multi-pass caller (PRF) hand in the (n_docs, total_len) it
        already collected at the pinned version instead of re-running
        the stats job per pass; ``m`` likewise an already-checkpointed
        mutation delta (round 15 — both passes share one)."""
        from pyspark.sql import Window

        ic = self.id_col
        n_docs, total_len = (
            stats_pair
            if stats_pair is not None
            else self.stats(version=version)
        )
        out_schema = (
            f"{query_id_col} long, {ic} long, n_terms long, "
            "score_micro long, score double, rnk long"
        )
        if n_docs <= 0:
            return self.spark.createDataFrame([], out_schema)
        n_docs_f = float(n_docs)
        # scale 1.0 is a bit-exact identity (x / 1.0 == x), so the
        # unfielded serve is unchanged; 1000.0 maps a FIELDED index's
        # milli tf/dl back to weighted-token units with the same fixed
        # parenthesization as text.bm25f_topk
        avgdl = (float(total_len) / self._tf_scale) / n_docs_f
        cand = self._live_candidates(
            qterms.select("term"), version=version, with_positions=False, m=m
        )
        if cand is None:
            return self.spark.createDataFrame([], out_schema)
        # df BEFORE the mask: collection statistics are corpus-global.
        # Attached as a count window over the term partitioning instead
        # of a groupBy + self-join: one pass over the candidate rows,
        # no second exchange, no sort-merge join (round 14 — the df
        # values are the identical per-term live-row counts). The
        # candidate frame arrives already hash-partitioned on term
        # (round 15: _live_candidates' repartition serves its collapse
        # AND this window from one exchange).
        from pyspark.sql import Window as _W

        cand = cand.withColumn(
            "df", F.count(F.lit(1)).over(_W.partitionBy("term"))
        )
        if allowed is not None:
            cand = cand.join(allowed.select(ic).distinct(), ic, "left_semi")
        idf = F.log(
            F.lit(1.0)
            + ((F.lit(n_docs_f) - F.col("df")) + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tfd = F.col("tf") / F.lit(self._tf_scale)
        dld = F.col("dl") / F.lit(self._tf_scale)
        denom = tfd + F.lit(self.k1) * (
            F.lit(1.0 - self.b)
            + F.lit(self.b) * (dld / F.lit(avgdl))
        )
        contrib = idf * ((tfd * F.lit(self.k1 + 1.0)) / denom)
        matched = (
            cand.join(F.broadcast(qterms), "term")
            .select(
                query_id_col,
                ic,
                F.floor(contrib * F.lit(1000000.0))
                .cast("long")
                .alias("micro"),
            )
        )
        scored = matched.groupBy(query_id_col, ic).agg(
            F.sum("micro").alias("score_micro"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("score_micro"), F.asc(ic)
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(
                query_id_col,
                ic,
                "n_terms",
                "score_micro",
                (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
                "rnk",
            )
        )

    def _mutation_delta(self, version: int | None = None) -> DataFrame | None:
        """M = the LWW verdict of every doc MUTATED after bootstrap
        (``seq > 0 OR NOT live`` — parquet min/max stats prune every
        bootstrap-only doclens file, so M is mutation-sized, never
        corpus-sized), eagerly checkpointed. The delta-liveness rule
        it supports (shared by postings and forward rows, which append
        stamps with the same seq as doclens):

        - doc in M: its global LWW verdict IS M's (every M row outranks
          any excluded row — excluded rows are live seq-0, which lose
          to any seq > 0 and to a tied seq-0 tombstone) -> a row is
          live iff M says live and seq matches.
        - doc not in M: all its doclens rows are live seq-0 (append
          always pairs postings/forward with doclens in one commit) ->
          a row is live iff its seq == 0.

        Returns None when the store has no doclens at all. Computed
        ONCE per serve (round 15: the UNPRUNED serve and phrase serving
        resolve liveness against it too — no serve path reads
        corpus-sized doclens anymore) and reused by every pass/
        iteration (hoisting it out of the loop is the round-13
        driver-job diet). The checkpointed frame is stamped with its
        row count so join sites can hint a broadcast when the delta is
        small (see :meth:`_delta_join_side`)."""
        ic = self.id_col
        doclens = self._store.read("doclens", version=version)
        if doclens is None:
            return None
        m = (
            doclens.filter((F.col("seq") > 0) | (~F.col("live")))
            .groupBy(ic)
            # linearized LWW key (see _lww_okey): one BIGINT max keeps
            # the collapse a HashAggregate; m_seq/m_live unpack exactly
            .agg(F.max(self._lww_okey()).alias("__okey"))
            .select(
                ic,
                F.expr("__okey DIV 2").alias("m_seq"),
                (F.col("__okey") % 2 == 0).alias("m_live"),
            )
            .localCheckpoint(eager=True)  # delta-sized
        )
        # count over already-checkpointed partitions: one cheap local
        # job that licenses the broadcast decision at every join site
        m._graft_rows = m.count()
        return m

    @staticmethod
    def _delta_join_side(m: DataFrame) -> DataFrame:
        """The mutation delta as a join input: broadcast-hinted while
        it is small (the normal regime — compact folds mutations away;
        without the hint the checkpointed frame's unknown size stats
        make the initial plan a sort-merge join, and even AQE's runtime
        conversion has already paid the delta's exchange). Bounded by
        BCAST_DELTA_ROWS; a larger backlog falls back to the optimizer's
        choice — the scale-safe posture."""
        n = getattr(m, "_graft_rows", None)
        return F.broadcast(m) if n is not None and n <= BCAST_DELTA_ROWS else m

    @staticmethod
    def _delta_alive() -> F.Column:
        """The delta-liveness predicate over (seq, m_seq, m_live) —
        see :meth:`_mutation_delta` for the proof."""
        return F.when(
            F.col("m_seq").isNull(), F.col("seq") == F.lit(0)
        ).otherwise(F.col("m_live") & (F.col("seq") == F.col("m_seq")))

    def _live_pruned(
        self,
        terms: DataFrame,
        m: DataFrame | None = None,
        version: int | None = None,
    ) -> DataFrame | None:
        """The pruned-serve scan: live (term, doc_id, tf) for the given
        bounded term frame, WITHOUT the positions payload (BM25 never
        needs it — column pruning halves probed postings bytes) and
        WITHOUT a corpus-sized doclens join: liveness resolves against
        the :meth:`_mutation_delta` frame (pass ``m`` to reuse one
        already computed this serve; the sentinel-free contract is
        m=None -> compute here, which still returns None only when the
        store has no postings/doclens).

        Physical-duplicate/stale-version collapse is the serve's usual
        max_by. Returns None when the store has no postings."""
        ic = self.id_col
        td = terms.select("term").distinct()
        pl = (
            self._store.read_keys(
                "postings", td, broadcast_keys=True, version=version
            )
            if self._store.prune_probes
            else self._store.read("postings", version=version)
        )
        if pl is None:
            return None
        if m is None:
            m = self._mutation_delta(version=version)
        if m is None:
            return None
        pl = (
            pl.select("term", ic, "tf", "seq")
            .join(F.broadcast(td), "term")
            .groupBy("term", ic)
            .agg(F.max_by(F.struct("tf", "seq"), F.col("seq")).alias("s"))
            .select(
                "term", ic,
                F.col("s.tf").alias("tf"),
                F.col("s.seq").alias("seq"),
            )
        )
        return (
            pl.join(self._delta_join_side(m), ic, "left")
            .filter(self._delta_alive())
            .select("term", ic, "tf")
        )

    def _topk_pruned(
        self,
        qterms: DataFrame,
        k: int,
        query_id_col: str,
        allowed: DataFrame | None = None,
        diag: dict | None = None,
        version: int | None = None,
        stats_pair: tuple[int, int] | None = None,
        m: DataFrame | None = None,
        ts_cache: dict | None = None,
        probe_cache: dict | None = None,
    ) -> DataFrame:
        """EXACT top-k BM25 under max-score pruning (Turtle & Flood's
        max-score, the WAND family, re-expressed set-at-a-time): a hot
        term's postings bucket is NEVER READ AT ALL — not for stats
        (maintained termstats), not for candidates (essential terms
        only), not for scoring (doc-keyed forward fetch).

        Anatomy (every step named because SCALE.md measures it):

        1. Per-term stats from the MAINTAINED termstats deltas: exact
           live df(t) (the additive sum) and the max-tf high watermark
           — ONE bucket-pruned commit-count-sized read. This replaces
           the r12 serve's one remaining linear term (a COUNT over the
           probed postings, Σ df(t) rows — called irreducible then
           because exact idf needs exact live df; maintenance at
           append/delete makes it a lookup instead).
        2. Driver-side per-term upper bounds: UB(t) = idf(t) *
           sat(max_tf) with sat(tf) = tf(k1+1)/(tf + k1(1-b)) — valid
           for every posting since dl >= 1 makes the true denominator
           strictly larger, and valid under the WATERMARK max_tf since
           sat is monotone in tf (a loose watermark loosens the bound,
           never unsounds it; compact re-tightens). Floored into
           micro-units with a +1 margin and a 1e-9 relative inflation,
           so a ulp difference between the driver's libm log and the
           engine's JVM log can never make the bound unsound (pruning
           DECISIONS tolerate slack; scoring itself stays in the
           engine, bit-identical to the unpruned serve).
        3. Per query, terms sort by UB descending; the leading
           'essential' prefix generates candidates, and the iteration
           extends the prefix until the k-th best EXACT candidate
           score theta beats the non-essential suffix's UB sum
           STRICTLY (strict < : a non-candidate can then neither beat
           NOR TIE theta, so the doc-id tiebreak cannot be stolen).
           Candidate generation reads ONLY the essential terms'
           postings buckets, incrementally as prefixes grow (terms
           already probed are cached across iterations). Scoring a
           candidate reads its term list from the doc-keyed FORWARD
           relation — a candidate-set-sized bucket-pruned lookup that
           carries dl on the same liveness join — so the suffix
           terms' (and in particular the stopword's) postings never
           produce a single scanned row. Iterations batch across
           unfinished queries; each strictly grows some prefix, so the
           loop is bounded by the longest query's term count (driver
           loop over QUERY TERMS, never over data).

        Exactness: every candidate's score is the engine's usual
        floored-micro sum over ALL its matched query terms (the live
        forward term list ∩ query terms == the live postings matches,
        written atomically together), and any non-candidate matches
        only suffix terms, so its score <= suffix UB sum < theta.
        Output == the unpruned serve's, row for row — the
        x_text_bm25_wand entry gates that against the same oracle as
        x_text_bm25_indexed.

        Takes an already-tokenized (query_id, term) frame (round 14 —
        the :meth:`_topk_terms` calling convention), so
        :meth:`prf_topk` can route BOTH its passes through this serve:
        the pass-2 expanded term sets exist only as a frame. ``diag``
        counters ACCUMULATE across calls (a two-pass PRF serve sums
        its passes into one dict); ``maintained_df_sum`` is the sum of
        the workload terms' maintained df — a bookkeeping total from
        the termstats lookup, NOT a count of scanned rows (the r12
        serve's probed-postings count it replaced; renamed from
        live_postings_rows, ADVICE r13).

        Multi-pass reuse params (round-14 job diet — every one an
        evaluation-strategy change only, all version-pinned so the
        reused state is bit-identical to a refetch): ``stats_pair`` =
        an already-collected (n_docs, total_len); ``m`` = an already-
        checkpointed mutation delta; ``ts_cache`` = {term: (df,
        max_tf) | None} maintained-termstats cache (None = term absent
        at this version; only MISSING terms are fetched and the cache
        is updated in place); ``probe_cache`` = {"read_terms": set,
        "ess_live": frame} so a second pass never re-probes a term
        bucket the first pass already read."""
        import math

        from pyspark.sql import Window
        from pyspark.sql.types import StructType

        if version is None:
            version = self._store.current_version()
        ic = self.id_col
        out_schema = (
            f"{query_id_col} long, {ic} long, n_terms long, "
            "score_micro long, score double, rnk long"
        )
        n_docs, total_len = (
            stats_pair
            if stats_pair is not None
            else self.stats(version=version)
        )
        if n_docs <= 0:
            return self.spark.createDataFrame([], out_schema)
        n_docs_f = float(n_docs)
        avgdl = (float(total_len) / self._tf_scale) / n_docs_f
        # -- 1. maintained per-term stats (commit-count-sized read) ------
        # ONE collect of the (query_id, term) workload feeds both the
        # termstats fetch and the per-query term lists below
        qpairs = qterms.collect()  # bounded by the serving workload
        workload_terms = {r["term"] for r in qpairs}
        term_stats: dict = {}
        if ts_cache is not None:
            for t in workload_terms & set(ts_cache):
                if ts_cache[t] is not None:
                    term_stats[t] = ts_cache[t]
        missing = sorted(
            workload_terms - (set(ts_cache) if ts_cache is not None else set())
        )
        if missing:
            stats_frame = self._term_stats_frame(
                self.spark.createDataFrame(
                    [(t,) for t in missing], "term string"
                ),
                version=version,
            )
            fetched = (
                {}
                if stats_frame is None
                else {
                    r["term"]: (int(r["df"]), int(r["max_tf"]))
                    for r in stats_frame.collect()
                }
            )
            for t in missing:
                got_ts = fetched.get(t)
                if ts_cache is not None:
                    ts_cache[t] = got_ts
                if got_ts is not None:
                    term_stats[t] = got_ts
        if not term_stats:
            return self.spark.createDataFrame([], out_schema)
        if diag is not None:
            diag["maintained_df_sum"] = diag.get(
                "maintained_df_sum", 0
            ) + sum(d for d, _ in term_stats.values())
            for key in (
                "probed_postings_rows",
                "scoring_rows",
                "candidate_docs",
                "iterations",
            ):
                diag.setdefault(key, 0)

        # -- 2. driver-side sound upper bounds (micro units) -------------
        k1, b = self.k1, self.b
        ubm: dict[str, int] = {}
        for t, (dfv, mtf) in term_stats.items():
            idf = math.log(1.0 + ((n_docs_f - dfv) + 0.5) / (dfv + 0.5))
            mtd = mtf / self._tf_scale
            sat = (mtd * (k1 + 1.0)) / (mtd + k1 * (1.0 - b))
            ubm[t] = int(math.floor(idf * sat * 1e6 * (1.0 + 1e-9))) + 1

        q_terms: dict = {}
        for r in qpairs:
            if r["term"] in term_stats:
                q_terms.setdefault(r[query_id_col], []).append(r["term"])
        for qid in q_terms:
            q_terms[qid].sort(key=lambda t: (-ubm[t], t))
        if not q_terms:
            return self.spark.createDataFrame([], out_schema)

        dfreq = F.broadcast(
            self.spark.createDataFrame(
                [(t, d) for t, (d, _) in sorted(term_stats.items())],
                "term string, df long",
            )
        )
        pair_schema = StructType(
            [qterms.schema[query_id_col], qterms.schema["term"]]
        )
        idf_col = F.log(
            F.lit(1.0)
            + ((F.lit(n_docs_f) - F.col("df")) + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tfd = F.col("tf") / F.lit(self._tf_scale)
        dld = F.col("dl") / F.lit(self._tf_scale)
        denom = tfd + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (dld / F.lit(avgdl))
        )
        contrib = idf_col * ((tfd * F.lit(k1 + 1.0)) / denom)
        allowed_ids = (
            allowed.select(ic).distinct().localCheckpoint(eager=True)
            if allowed is not None
            else None
        )

        # M (the doclens mutation delta) is computed ONCE and reused by
        # every iteration's essential probe AND the forward liveness —
        # no per-iteration doclens read of any kind (and a multi-pass
        # caller hands in the one it already checkpointed)
        if m is None:
            m = self._mutation_delta(version=version)
        if m is None:
            return self.spark.createDataFrame([], out_schema)

        # -- 3. essential-prefix iteration, batched across queries -------
        ess = {qid: 1 for qid in q_terms}
        unfinished = set(q_terms)
        finals: list[DataFrame] = []
        # postings probed so far: essential terms only, incrementally
        # as prefixes grow (a term's bucket is read at most once — and
        # with ``probe_cache``, at most once across a MULTI-PASS serve)
        if probe_cache is not None and "ess_live" in probe_cache:
            ess_live = probe_cache["ess_live"]
            read_terms = set(probe_cache["read_terms"])
        else:
            ess_live = self.spark.createDataFrame(
                [], f"term string, {ic} long"
            )
            read_terms = set()
        while unfinished:
            if diag is not None:
                diag["iterations"] += 1
            need = {
                t
                for qid in unfinished
                for t in q_terms[qid][: ess[qid]]
            }
            new_terms = sorted(need - read_terms)
            if new_terms:
                got = self._live_pruned(
                    self.spark.createDataFrame(
                        [(t,) for t in new_terms], "term string"
                    ),
                    m=m,
                    version=version,
                )
                if got is not None:
                    got = got.select("term", ic)
                    if diag is not None:
                        # measurement only: the probe count needs its
                        # own materialization (an extra job per probe —
                        # never benchmark with diag set)
                        got = got.localCheckpoint(eager=True)
                        diag["probed_postings_rows"] += got.count()
                    # ONE checkpoint materializes probe + union together
                    ess_live = ess_live.unionByName(got).localCheckpoint(
                        eager=True
                    )
                read_terms |= set(new_terms)
                if probe_cache is not None:
                    probe_cache["ess_live"] = ess_live
                    probe_cache["read_terms"] = set(read_terms)
            ess_pairs = [
                (qid, t)
                for qid in sorted(unfinished)
                for t in q_terms[qid][: ess[qid]]
            ]
            ess_df = self.spark.createDataFrame(ess_pairs, pair_schema)
            cand = (
                ess_live.join(F.broadcast(ess_df), "term")
                .select(query_id_col, ic)
                .distinct()
            )
            if allowed_ids is not None:
                cand = cand.join(allowed_ids, ic, "left_semi")
            if self._store.prune_probes or diag is not None:
                # the bucket-pruned forward lookup collects over cdocs
                # (and diag counts cand) — pin once; in the scan-all
                # regime cand stays lazy inside the scoring job (its
                # inputs are already checkpointed, so no recompute of
                # anything upstream — one fewer driver barrier/iter)
                cand = cand.localCheckpoint(eager=True)
            cdocs = cand.select(ic).distinct()
            sub_pairs = [
                (qid, t) for qid in sorted(unfinished) for t in q_terms[qid]
            ]
            sub_qterms = self.spark.createDataFrame(sub_pairs, pair_schema)
            # scoring reads the CANDIDATES' term lists from the
            # doc-keyed forward relation — no suffix-term postings
            # bucket is ever scanned. Liveness is the shared M rule
            # (no doclens read), and dl is the in-row sum of the
            # forward term list (== the doclens dl by construction:
            # both are SUM(tf) over the same per-batch tf relation)
            if self._store.prune_probes:
                # read_keys semi-joins the candidate ids itself
                fraw = self._store.read_keys(
                    "forward", cdocs, version=version
                )
            else:
                fraw = self._store.read("forward", version=version)
                if fraw is not None:
                    fraw = fraw.join(cdocs, ic, "left_semi")
            if fraw is None:
                fwd = self.spark.createDataFrame(
                    [], f"{ic} long, dl long, term string, tf long"
                )
            else:
                fwd = (
                    fraw.groupBy(ic)
                    .agg(
                        F.max_by(
                            F.struct("terms", "seq"), F.col("seq")
                        ).alias("s")
                    )
                    .select(
                        ic,
                        F.col("s.terms").alias("terms"),
                        F.col("s.seq").alias("seq"),
                    )
                    .join(self._delta_join_side(m), ic, "left")
                    .filter(self._delta_alive())
                    .select(
                        ic,
                        F.aggregate(
                            "terms",
                            F.lit(0).cast("long"),
                            lambda acc, t: acc + t["tf"],
                        ).alias("dl"),
                        F.explode("terms").alias("t"),
                    )
                    .select(
                        ic,
                        "dl",
                        F.col("t.term").alias("term"),
                        F.col("t.tf").alias("tf"),
                    )
                )
            rows = (
                fwd.join(F.broadcast(sub_qterms), "term")
                .join(cand, [query_id_col, ic], "left_semi")
            )
            if diag is not None:
                # measurement only — these counts are EXTRA Spark jobs
                # (two per iteration): never benchmark with diag set
                diag["scoring_rows"] += rows.count()
                diag["candidate_docs"] += cdocs.count()
            scored = (
                rows.join(dfreq, "term")
                .select(
                    query_id_col,
                    ic,
                    F.floor(contrib * F.lit(1000000.0))
                    .cast("long")
                    .alias("micro"),
                )
                .groupBy(query_id_col, ic)
                .agg(
                    F.sum("micro").alias("score_micro"),
                    F.count(F.lit(1)).alias("n_terms"),
                )
                .localCheckpoint(eager=True)
            )
            w = Window.partitionBy(query_id_col).orderBy(
                F.desc("score_micro"), F.asc(ic)
            )
            thetas = {
                r[query_id_col]: int(r["score_micro"])
                for r in scored.withColumn(
                    "rnk", F.row_number().over(w)
                )
                .filter(F.col("rnk") == k)
                .collect()
            }
            done_now = []
            for qid in sorted(unfinished):
                terms, e = q_terms[qid], ess[qid]
                theta = thetas.get(qid)
                suffix = sum(ubm[t] for t in terms[e:])
                if e >= len(terms) or (
                    theta is not None and suffix < theta
                ):
                    done_now.append(qid)
                    continue
                # jump straight to the minimal prefix whose suffix UB
                # already loses to the CURRENT theta (theta only grows
                # with more candidates, so the jump stays sound)
                while e < len(terms) and not (
                    theta is not None
                    and sum(ubm[t] for t in terms[e:]) < theta
                ):
                    e += 1
                ess[qid] = e
            if done_now:
                done_lit = self.spark.createDataFrame(
                    [(qid,) for qid in done_now],
                    StructType([qterms.schema[query_id_col]]),
                )
                finals.append(
                    scored.join(F.broadcast(done_lit), query_id_col)
                )
                unfinished -= set(done_now)

        from functools import reduce

        all_scored = reduce(lambda a, c: a.unionByName(c), finals)
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("score_micro"), F.asc(ic)
        )
        return (
            all_scored.withColumn(
                "rnk", F.row_number().over(w).cast("long")
            )
            .filter(F.col("rnk") <= k)
            .select(
                query_id_col,
                ic,
                "n_terms",
                "score_micro",
                (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
                "rnk",
            )
        )

    def prf_topk(
        self,
        queries: DataFrame,
        k: int = 5,
        fb_docs: int = 3,
        fb_terms: int = 2,
        query_id_col: str = "query_id",
        query_text_col: str = "qtext",
        allowed: DataFrame | None = None,
        prune: bool = False,
        diag: dict | None = None,
    ) -> DataFrame:
        """Pseudo-relevance-feedback BM25 SERVED FROM THE INDEX (the
        persistent twin of
        :func:`~iheardai_data_pipeline_spark.operators.text.bm25_prf_topk`):
        pass 1 is the normal bucket-pruned serve at k=``fb_docs``;
        expansion terms come from the feedback documents with the same
        EXACT integer vote (tf * floor(idf*1e6), original terms
        excluded, term-asc ties); pass 2 re-serves the expanded term
        sets through :meth:`_topk_terms`.

        SELF-CONTAINED since round 13: the feedback docs' term lists
        come from the index's own doc-keyed FORWARD relation (one
        bucket-pruned lookup of the fb_docs x |queries| ids), so the
        expansion vote is always consistent with the index's live
        state by construction — the r12 shape took a caller-supplied
        live-corpus frame whose drift (stale text, missed delete)
        would silently skew the vote (VERDICT r12 nit 1). The
        expansion terms' exact live df comes from the maintained
        termstats sums (commit-count-sized), and both passes read only
        their terms' buckets. Output schema == bm25_topk's; the brute
        PRF oracle replays the whole pipeline over the live corpus.

        ``prune=True`` (round 14 — VERDICT r13 #1): BOTH passes serve
        through :meth:`_topk_pruned` instead of the unpruned body, so
        a hot query term (or a common idf-vote-surviving expansion
        term) never re-grows the scoring exchange max-score pruning
        killed on :meth:`topk` — the pruned serve is row-identical to
        the unpruned one, so pass-1 feedback docs, the expansion vote,
        and the final ranking are all unchanged (the wand entry gates
        that on the UNCHANGED brute PRF oracle). ``diag``: as in
        :meth:`topk`; counters accumulate across the two passes. The
        whole two-pass serve (feedback read and expansion df included)
        is pinned to ONE store version captured here."""
        ic = self.id_col
        version = self._store.current_version()
        qterms = (
            queries.select(
                F.col(query_id_col),
                F.explode(
                    F.split(normalize_text(F.col(query_text_col)), " ")
                ).alias("term"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # per-serve shared state (round-14 job diet): stats collected
        # ONCE, the mutation delta checkpointed ONCE, and the pruned
        # passes share a termstats cache + probe cache — all pinned to
        # the one serve version, so pass 2 reuses pass 1's state
        # bit-identically instead of re-running its driver jobs
        stats_pair = self.stats(version=version)
        # both serve modes resolve liveness against the mutation delta
        # (round 15): checkpoint it once and share it across the passes
        shared_m = self._mutation_delta(version=version)
        ts_cache: dict = {}
        probe_cache: dict = {}

        def serve(qt: DataFrame, kk: int) -> DataFrame:
            if prune:
                return self._topk_pruned(
                    qt,
                    kk,
                    query_id_col,
                    allowed,
                    diag,
                    version=version,
                    stats_pair=stats_pair,
                    m=shared_m,
                    ts_cache=ts_cache,
                    probe_cache=probe_cache,
                )
            return self._topk_terms(
                qt,
                kk,
                query_id_col,
                allowed,
                version=version,
                stats_pair=stats_pair,
                m=shared_m,
            )

        # ``allowed`` applies to BOTH passes: restricted serving should
        # also take feedback only from eligible documents
        fb = (
            serve(qterms, fb_docs)
            .select(query_id_col, ic)
            .localCheckpoint(eager=True)
        )
        n_docs, _total = stats_pair
        if n_docs <= 0 or not fb.take(1):
            # no corpus or no pass-1 matches anywhere: pass 2 == pass 1
            return serve(qterms, k)
        tf_fb = self._live_forward_for(
            fb.select(ic).distinct(), version=version
        )
        if tf_fb is None:
            return serve(qterms, k)
        tf_fb = tf_fb.select(ic, "term", "tf").localCheckpoint(
            eager=True
        )  # fb_docs x |queries| docs' term lists
        dfreq = self._term_stats_frame(tf_fb.select("term"), version=version)
        if dfreq is None:
            return serve(qterms, k)
        idf_micro = F.floor(
            F.log(
                F.lit(1.0)
                + ((F.lit(float(n_docs)) - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1000000.0)
        ).cast("long")
        idfm = dfreq.select("term", idf_micro.alias("idf_micro"))
        from pyspark.sql import Window

        we = Window.partitionBy(query_id_col).orderBy(
            F.desc("w"), F.asc("term")
        )
        exp = (
            fb.join(tf_fb, ic)
            .join(idfm, "term")
            .groupBy(query_id_col, "term")
            .agg(F.sum(F.col("tf") * F.col("idf_micro")).alias("w"))
            .join(qterms, [query_id_col, "term"], "left_anti")
            .withColumn("rn", F.row_number().over(we))
            .filter(F.col("rn") <= fb_terms)
            .select(query_id_col, "term")
        )
        qt2 = (
            qterms.unionByName(exp).distinct().localCheckpoint(eager=True)
        )
        return serve(qt2, k)

    def phrase_topk(
        self,
        queries: DataFrame,
        k: int = 5,
        query_id_col: str = "query_id",
        query_text_col: str = "qtext",
    ) -> DataFrame:
        """Exact-phrase top-k per query, served FROM THE INDEX's
        positional payload: reads only the phrase terms' postings
        buckets (+ the mutation-sized doclens delta for liveness),
        never the corpus. Semantics and output schema are
        :func:`~iheardai_data_pipeline_spark.operators.text.phrase_topk`'s
        exactly (overlapping matches count; duplicate-term phrases via
        base-shift completion; pure integer scoring — no float
        discipline at all), so the brute operator's oracle replays
        this serve over the live corpus."""
        from pyspark.sql import Window

        if self._w_milli is not None:
            raise ValueError(
                "phrase serving needs the positional payload, which a "
                "FIELDED (BM25F) index does not store — weighted tf "
                "folds several token streams, so there is no single "
                "position space; build an unfielded index for phrases"
            )

        ic = self.id_col
        qtoks = queries.select(
            F.col(query_id_col),
            F.posexplode(
                F.split(normalize_text(F.col(query_text_col)), " ")
            ).alias("idx", "term"),
        ).localCheckpoint(eager=True)
        qlen = qtoks.groupBy(query_id_col).agg(
            F.count(F.lit(1)).alias("phrase_len")
        )
        out_schema = (
            f"{query_id_col} long, {ic} long, n_matches long, rnk long"
        )
        # one pinned version for the serve's postings+doclens reads
        cand = self._live_candidates(
            qtoks.select("term"), version=self._store.current_version()
        )
        if cand is None:
            return self.spark.createDataFrame([], out_schema)
        hits = (
            cand.select("term", ic, F.explode("positions").alias("pos"))
            .join(F.broadcast(qtoks), "term")
            .select(
                query_id_col,
                ic,
                (F.col("pos") - F.col("idx")).alias("base"),
            )
        )
        bases = hits.groupBy(query_id_col, ic, "base").agg(
            F.count(F.lit(1)).alias("n_idx")
        )
        matched = (
            bases.join(F.broadcast(qlen), query_id_col)
            .filter(F.col("n_idx") == F.col("phrase_len"))
            .groupBy(query_id_col, ic)
            .agg(F.count(F.lit(1)).alias("n_matches"))
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("n_matches"), F.asc(ic)
        )
        return (
            matched.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(query_id_col, ic, "n_matches", "rnk")
        )

    def merge(self, other: "PostingsIndex", epoch=None) -> None:
        """Fold another SHARD's entire state into this index (the
        per-shard-build + merge topology; see PersistentAnnIndex.merge
        for the correctness model). Rows carry verbatim (seq/live
        included) so the seq-equality liveness rule resolves across
        shards exactly as in one index. Shards must share (k1, b) and
        doc-id spaces must be disjoint — BOTH ENFORCED (raise, no
        commit). Disjointness is what makes the stats deltas additive
        (each shard counted each live doc exactly once). Mere per-id
        seq ordering — the sibling indexes' weaker LWW precondition —
        is NOT enough here: if both shards indexed versions of the
        same doc, the seq-equality rule serves the right version but
        both shards' +1 doc deltas survive the merge and N drifts
        high, corrupting every idf. The overlap probe covers ALL
        doclens ids of both sides, TOMBSTONED INCLUDED (ADVICE r12):
        a live/tombstone overlap is just as corrupt — the tombstone's
        seq can outrank the other side's live seq, serving the doc
        dead while the live side's +1 stats delta still counts it.
        That is also why the remedy is delete-then-COMPACT-then-merge
        on one side: delete alone leaves the tombstone row (still an
        overlap, and still a seq hazard); compact physically drops it
        and folds the shard's stats to net 0, making the merge clean.
        The probe is a bucket-pruned semi-join of the shard's doclens
        ids against this index's (the delete()-lookup cost class,
        O(shard)). ONE atomic O(shard) commit; ``epoch`` makes a
        replayed merge idempotent (checked FIRST, so a replay skips
        the probe — a post-first-merge replay would otherwise see its
        own rows as an overlap)."""
        if (
            abs(other.k1 - self.k1) > 1e-12
            or abs(other.b - self.b) > 1e-12
            or other._w_milli != self._w_milli
        ):
            raise ValueError(
                "refusing to merge postings shards with different BM25 "
                "constants or field weightings — scores are only "
                "comparable under one (k1, b, fields) parameterization"
            )
        if self._store.epoch_committed(epoch):
            return  # replayed merge: the commit below would no-op
        other_doclens = other._store.read("doclens")
        if other_doclens is not None:
            if other.id_col != self.id_col:
                other_doclens = other_doclens.withColumnRenamed(
                    other.id_col, self.id_col
                )
            # ALL ids, live or tombstoned, on BOTH sides (ADVICE r12):
            # a tombstone whose seq outranks the other side's live seq
            # serves the doc dead while the live +1 delta still counts
            shard_ids = other_doclens.select(self.id_col).distinct()
            mine = (
                self._store.read_keys("doclens", shard_ids)
                if self._store.prune_probes
                else self._store.read("doclens")
            )
            sample = (
                []
                if mine is None
                else [
                    r[self.id_col]
                    for r in mine.join(shard_ids, self.id_col, "left_semi")
                    .select(self.id_col)
                    .distinct()
                    .limit(5)
                    .collect()
                ]
            )
            if sample:
                raise ValueError(
                    "refusing to merge postings shards whose doclens id "
                    f"spaces OVERLAP (e.g. {sample}, tombstones "
                    "included): stats deltas would double-count (N "
                    "drifts high, corrupting every idf) and a tombstone "
                    "seq can outrank the other side's live seq — delete "
                    "the overlapping ids from one side AND compact it "
                    "(delete-then-COMPACT-then-merge; compact drops the "
                    "tombstones and folds stats to net 0), then retry"
                )
        rels = {}
        for rel in ("postings", "doclens", "stats", "forward", "termstats"):
            rows = other._store.read(rel)
            rels[rel] = rows if rows is not None else self._empty(rel)
        if other.id_col != self.id_col:
            for rel in ("postings", "doclens", "forward"):
                rels[rel] = rels[rel].withColumnRenamed(
                    other.id_col, self.id_col
                )
        self._store.append_keyed(rels, epoch=epoch)

    def compact(self, epoch=None) -> None:
        """Maintenance fold: doclens collapse to the live latest row
        per doc (tombstones physically dropped — what makes the merge
        remedy delete-then-COMPACT-then-merge sound), postings AND
        forward rows physically drop every row that fails the
        seq-equality rule (deleted docs and stale upsert versions),
        the stats deltas fold to ONE row, and the termstats deltas are
        REPLACED by an exact per-term recompute over the live postings
        — df re-bases to one row per term and the max_tf watermark
        re-TIGHTENS to the true live max (the only place it can come
        back down). The live-doc frame and the exact term stats are
        captured eagerly at a PINNED store version, and the fold
        commits only onto exactly that version (round 14, ADVICE r13):
        a lost commit race no longer re-folds the newest rows against
        the stale captures — the whole snapshot recomputes at the new
        version and the fold retries clean. Same stale-replay caveat
        as the band index's compact."""
        from iheardai_data_pipeline_spark.streaming.stores import (
            StoreVersionConflict,
        )

        ic = self.id_col
        for _ in range(self._store.max_retries):
            v = self._store.current_version()
            doclens = self._store.read("doclens", version=v)
            live = (
                self._live_doclens(doclens).select(ic, "seq")
                if doclens is not None
                else None
            )
            exact_ts = None
            if live is not None:
                live = live.localCheckpoint(eager=True)
                pl = self._store.read("postings", version=v)
                if pl is not None:
                    # liveness first, then full-row replica dedup — all
                    # hash-aggregable (see _compact_fold's rationale)
                    live_pl = (
                        pl.select("term", ic, "tf", "seq")
                        .join(live.withColumnRenamed("seq", "live_seq"), ic)
                        .filter(F.col("seq") == F.col("live_seq"))
                        .dropDuplicates(["term", ic, "tf", "seq"])
                    )
                    exact_ts = (
                        live_pl.groupBy("term")
                        .agg(
                            F.count(F.lit(1)).alias("d_df"),
                            F.max("tf").alias("max_tf"),
                        )
                        .localCheckpoint(eager=True)  # vocabulary-sized;
                        # compact is the O(store) maintenance path anyway
                    )
            fold = self._compact_fold(live, exact_ts)
            try:
                self._store.apply_keyed_all_buckets(
                    fold, epoch=epoch, require_version=v
                )
                return
            except StoreVersionConflict:
                continue  # recompute the snapshot at the new version
        raise RuntimeError(
            f"compact on {self.path} lost {self._store.max_retries} "
            "consecutive commit races"
        )

    def _compact_fold(self, live, exact_ts):
        """The per-relation fold :meth:`compact` commits, closed over
        ONE pinned version's liveness + exact-termstats captures."""
        ic = self.id_col

        def fold(rel: str, current: DataFrame, upd) -> DataFrame:
            if rel == "doclens":
                lw = self._live_doclens(current)
                return lw.select(
                    ic, "dl", "seq", F.lit(True).alias("live")
                )
            # round 15 (both row relations): resolve LIVENESS FIRST —
            # the seq-equality join kills stale upsert versions and
            # deleted docs without any aggregation — then fold the
            # surviving replayed replicas (bit-identical rows by the
            # replay contract) with a full-row dropDuplicates, which
            # plans as a HashAggregate with no agg functions. The old
            # shape max_by'd an ARRAY-carrying struct per (term, doc)
            # first, forcing a Sort + SortAggregate pair that moved the
            # positional payload through two sorts (guide §2.3/§1.2).
            # Winner identity is unchanged: the max-seq row IS the
            # live-seq row whenever it survives at all (postings never
            # outlive their doclens commit).
            if rel == "postings":
                if live is None:
                    return current.limit(0)
                return (
                    current.join(
                        live.withColumnRenamed("seq", "live_seq"), ic
                    )
                    .filter(F.col("seq") == F.col("live_seq"))
                    .select("term", ic, "tf", "positions", "dl", "seq")
                    .dropDuplicates()
                )
            if rel == "forward":
                if live is None:
                    return current.limit(0)
                return (
                    current.join(
                        live.withColumnRenamed("seq", "live_seq"), ic
                    )
                    .filter(F.col("seq") == F.col("live_seq"))
                    .select(ic, "terms", "seq")
                    .dropDuplicates()
                )
            if rel == "termstats":
                if exact_ts is None:
                    return current.limit(0)
                # every live term already has termstats rows (its
                # append wrote them), so the exact frame never lands
                # in a bucket the base manifest lacks
                return exact_ts.select("term", "d_df", "max_tf")
            return (
                current.groupBy("stat")
                .agg(
                    F.sum("d_docs").alias("d_docs"),
                    F.sum("d_len").alias("d_len"),
                )
                .select("stat", "d_docs", "d_len")
            )

        return fold

    def _stats_audit(
        self, exact_cache: dict | None = None, capture_exact: bool = False
    ):
        """Shared audit core behind :meth:`verify_stats` and
        :meth:`repair_stats`: maintained vs exact corpus stats plus
        the FULL-joined per-term frame (term, df, max_tf, df_exact,
        max_tf_exact — either side's columns null where the term is
        missing from it), localCheckpointed, or None when neither side
        has term rows. Every read pinned to one store version.
        Returns (n_docs, total_len, exact_n, exact_total, joined,
        exact_state).

        ``capture_exact`` checkpoints the per-term EXACT recompute and
        returns it in ``exact_state`` so a caller whose next commit
        touches ONLY the delta relations (repair_stats — it appends
        stats/termstats deltas, never postings/doclens rows) can pass
        it back as ``exact_cache`` and re-audit without re-running the
        O(store) exact recompute (round 14 — the post-repair verify
        was a full second audit)."""
        ic = self.id_col
        v = self._store.current_version()
        n_docs, total_len = self.stats(version=v)
        if exact_cache is not None:
            exact_n = exact_cache["exact_n"]
            exact_total = exact_cache["exact_total"]
            exact = exact_cache["exact"]
        else:
            doclens = self._store.read("doclens", version=v)
            if doclens is None:
                exact_n, exact_total = 0, 0
            else:
                r = self._live_doclens(doclens).agg(
                    F.coalesce(F.count(F.lit(1)), F.lit(0)),
                    F.coalesce(F.sum("dl"), F.lit(0)),
                ).collect()[0]
                exact_n, exact_total = int(r[0]), int(r[1])
            pl = self._store.read("postings", version=v)
            exact = None
            if pl is not None and doclens is not None:
                live_keys = self._live_doclens(doclens).select(ic, "seq")
                # liveness first, then full-row replica dedup — all
                # hash-aggregable (see _compact_fold's rationale)
                live_pl = (
                    pl.select("term", ic, "tf", "seq")
                    .join(live_keys.withColumnRenamed("seq", "live_seq"), ic)
                    .filter(F.col("seq") == F.col("live_seq"))
                    .dropDuplicates(["term", ic, "tf", "seq"])
                )
                exact = live_pl.groupBy("term").agg(
                    F.count(F.lit(1)).alias("df_exact"),
                    F.max("tf").alias("max_tf_exact"),
                )
                if capture_exact:
                    exact = exact.localCheckpoint(eager=True)
        ts = self._store.read("termstats", version=v)
        maintained = (
            ts.groupBy("term")
            .agg(
                F.sum("d_df").alias("df"),
                F.max("max_tf").alias("max_tf"),
            )
            .filter(F.col("df") != 0)
            if ts is not None
            else None
        )
        joined = None
        if maintained is not None or exact is not None:
            m = (
                maintained
                if maintained is not None
                else self.spark.createDataFrame(
                    [], "term string, df long, max_tf long"
                )
            )
            e = (
                exact
                if exact is not None
                else self.spark.createDataFrame(
                    [], "term string, df_exact long, max_tf_exact long"
                )
            )
            joined = m.join(e, "term", "full").localCheckpoint(eager=True)
        exact_state = {
            "exact_n": exact_n,
            "exact_total": exact_total,
            "exact": exact,
        }
        return n_docs, total_len, exact_n, exact_total, joined, exact_state

    def verify_stats(self, _exact_cache: dict | None = None) -> dict:
        """Audit the MAINTAINED aggregates against a full recompute
        over the live postings/doclens — the fsck for the module
        header's delta caveat: an un-epoched replayed mutation
        double-counts the stats AND termstats deltas SILENTLY (the
        row relations self-heal through max_by, the sums do not), and
        every idf/avgdl-dependent score then drifts while the serve
        still looks healthy. O(store) — run on the compact/maintenance
        cadence, never the serve path.

        Checks: (a) maintained (N, total_len) == the live doclens
        recompute; (b) every term's maintained SUM(d_df) == its exact
        live df (both directions of the full join — a phantom term is
        as wrong as a missing one); (c) the max_tf WATERMARK is sound
        (maintained >= exact live max — looseness is legal, an
        underestimate would unsound the pruned serve's bounds).
        Returns a dict with ``ok`` plus the per-check booleans and
        drift counts; raises nothing. Repair: :meth:`repair_stats`
        (round 14) heals BOTH drift classes with corrective deltas —
        no rebuild needed (:meth:`compact` alone re-bases per-term df
        but its corpus-stats fold is SUM-preserving, so (N, total_len)
        corruption would survive it).

        ``_exact_cache``: repair_stats' internal reuse — its commit
        touches only the delta relations, so the pre-commit audit's
        exact recompute (checkpointed) is still the live truth."""
        n_docs, total_len, exact_n, exact_total, joined, _ = (
            self._stats_audit(exact_cache=_exact_cache)
        )
        df_drift = unsound_watermarks = 0
        if joined is not None:
            # both drift tallies in ONE pass over the audit frame
            r = joined.agg(
                F.sum(
                    F.when(
                        F.coalesce(F.col("df"), F.lit(0))
                        != F.coalesce(F.col("df_exact"), F.lit(0)),
                        1,
                    ).otherwise(0)
                ).alias("df_drift"),
                F.sum(
                    F.when(
                        F.col("max_tf_exact").isNotNull()
                        & (
                            F.col("max_tf").isNull()
                            | (F.col("max_tf") < F.col("max_tf_exact"))
                        ),
                        1,
                    ).otherwise(0)
                ).alias("unsound"),
            ).collect()[0]
            df_drift = int(r["df_drift"] or 0)
            unsound_watermarks = int(r["unsound"] or 0)
        stats_ok = (n_docs, total_len) == (exact_n, exact_total)
        termstats_ok = df_drift == 0 and unsound_watermarks == 0
        return {
            "ok": stats_ok and termstats_ok,
            "stats_ok": stats_ok,
            "termstats_ok": termstats_ok,
            "n_docs": n_docs,
            "n_docs_exact": exact_n,
            "total_len": total_len,
            "total_len_exact": exact_total,
            "df_drifted_terms": int(df_drift),
            "unsound_watermarks": int(unsound_watermarks),
        }

    def repair_stats(self, epoch=None) -> dict:
        """Corrective-delta repair for the maintained-aggregate drift
        :meth:`verify_stats` detects (round 14 — VERDICT r13 #3): ONE
        append-only commit of (a) a corpus stats delta
        ``(exact_n - N, exact_total - total_len)`` and (b) per-term
        termstats deltas ``d_df = exact_df - maintained_df`` for every
        drifted term, carrying the exact live max tf wherever the
        maintained WATERMARK is unsound (the watermark MAX-fold then
        lifts it to soundness; sound-but-loose watermarks are left
        alone — looseness is legal and compact re-tightens). After the
        commit the sums equal the exact recompute by construction, so
        an un-epoched replay's double-counted stats heal WITHOUT a
        rebuild. Phantom terms (maintained df, zero live postings) get
        a negative delta folding their df to 0, which every serve read
        filters out; their stale watermark rows are unreachable behind
        that filter. The repair itself is one more additive commit and
        thus subject to the module's delta caveat — pass ``epoch`` if
        the repair can replay. Audit-clean stores commit NOTHING.
        O(store), maintenance cadence. Returns the post-repair
        :meth:`verify_stats` dict (``ok`` True is the healed signal)
        plus ``repaired``: True iff corrective deltas were committed —
        i.e. the pre-repair audit found real drift (callers wanting
        both facts need one audit fewer than verify-then-repair);
        single-writer during repair is assumed (the family contract)."""
        n_docs, total_len, exact_n, exact_total, joined, exact_state = (
            self._stats_audit(capture_exact=True)
        )
        d_docs = exact_n - n_docs
        d_len = exact_total - total_len
        ts_fix = self._empty("termstats")
        n_fix = 0
        if joined is not None:
            fixes = (
                joined.select(
                    "term",
                    (
                        F.coalesce(F.col("df_exact"), F.lit(0))
                        - F.coalesce(F.col("df"), F.lit(0))
                    )
                    .cast("long")
                    .alias("d_df"),
                    F.when(
                        F.col("max_tf_exact").isNotNull()
                        & (
                            F.col("max_tf").isNull()
                            | (F.col("max_tf") < F.col("max_tf_exact"))
                        ),
                        F.col("max_tf_exact"),
                    )
                    .cast("long")
                    .alias("max_tf"),
                )
                .filter(
                    (F.col("d_df") != 0) | F.col("max_tf").isNotNull()
                )
                .localCheckpoint(eager=True)
            )
            n_fix = fixes.count()
            if n_fix:
                ts_fix = fixes.select("term", "d_df", "max_tf")
        if d_docs == 0 and d_len == 0 and n_fix == 0:
            # clean — nothing to commit; the audit just ran, so answer
            # from its own numbers instead of re-running it
            out = self.verify_stats(_exact_cache=exact_state)
            out["repaired"] = False
            return out
        self._store.append_keyed(
            {
                "postings": self._empty("postings"),
                "doclens": self._empty("doclens"),
                "stats": (
                    self._stats_delta(d_docs, d_len)
                    if (d_docs or d_len)
                    else self._empty("stats")
                ),
                "forward": self._empty("forward"),
                "termstats": ts_fix,
            },
            epoch=epoch,
        )
        # post-repair audit: the corrective commit touched ONLY the
        # delta relations, so the checkpointed exact recompute is still
        # the live truth — only the maintained side re-reads
        out = self.verify_stats(_exact_cache=exact_state)
        out["repaired"] = True
        return out

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep, grace_seconds)
