"""The benchmark workloads: what one closed-loop client does to the engine.

Each workload builds its state from the generated inputs in
:meth:`Workload.bootstrap`, runs the first execution of its op kinds in
:meth:`Workload.warmup`, and hands the client a fixed pattern of ops per
round: the pattern is the same for every seed, the seed picks the
inputs. A run measures a fixed number of whole rounds, so the op mix is the
same across seeds.

Every call into the engine goes through its public functions and is
wrapped in a tracer span named after the engine layer it enters.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType, TimestampType

from perfbench import checks, datagen
from perfbench.tracing import Tracer, dir_bytes

TOPK = 10


class Workload:
    name = ""
    # nominal seconds per round on a 4-core machine: a run of --seconds
    # measures round(seconds / round_s) rounds, at least one
    round_s = 1.0

    def __init__(self, spark, tracer: Tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work_dir
        self.data_dir = os.path.join(work_dir, "data")

    def bootstrap(self) -> None:
        """Generate the inputs and build the engine state they feed."""
        raise NotImplementedError

    def warmup(self) -> None:
        """First executions, so cold planning and code generation stay
        out of the measured latencies."""
        raise NotImplementedError

    def round(self, r: int) -> list[tuple[str, object]]:
        """(op kind, zero-argument callable) for each op of round ``r``."""
        raise NotImplementedError

    def failed_kinds(self) -> dict[str, list[str]]:
        """{op kind: problems} for every op kind whose outputs are wrong."""
        raise NotImplementedError

    def layer_metrics(self, records) -> dict[str, float]:
        """Per-layer figures only the workload can compute."""
        return {}


# Catalog entries spanning the OLAP surface: TPC-H-shaped scans, joins
# and top-N (q1, q5, q18); event analytics over ordered paths (a6); the
# functions layer's regex normalisation and envelope routing (p6_p10,
# p45_p47). The first four take 1.3-2.6 s warm and the last two
# 0.4-1.2 s, so the median op lies inside the slow group. With as many
# fast entries as slow ones it was the mean of the slowest fast op and
# the fastest slow one, and swung by a quarter between runs of equal
# wall time; the faster q3, a4 and a7 entries left for that reason. Every
# entry returns at most 15k rows: the oracle check compares cell by
# cell in Python, about 20 us a cell, so the 100k-row per-event
# transforms (p17_p21, p29_p34) and per-session a1 would add a minute of
# checking to every run.
OLAP_ENTRIES = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "a6_journey_paths",
    "p6_p10_contact_normalize",
    "p45_p47_envelope_routing",
)
OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


class OlapMix(Workload):
    """Read-only: each round runs every entry once, in a seeded order,
    to a noop sink so the whole plan executes."""

    name = "olap_mix"
    round_s = 10.0

    def bootstrap(self) -> None:
        from iheardai_data_pipeline_spark.plans.catalog import CATALOG, _ensure_loaded

        _ensure_loaded()
        self.catalog = CATALOG
        datagen.write_tables(self.seed, self.data_dir)

    def _collect(self, name: str):
        with self.tracer.span("plans.build"):
            df = self.catalog[name].fn(self.spark, self.data_dir)
        with self.tracer.span("plans.collect"):
            return df.toPandas()

    def warmup(self) -> None:
        # The warm-up execution of each entry is also the result the
        # oracle check compares. The entries are independent, so their
        # cold first executions run as the engine's parallel legs.
        from iheardai_data_pipeline_spark.session import parallel_legs

        legs = [partial(self._collect, name) for name in OLAP_ENTRIES]
        self.results = dict(zip(OLAP_ENTRIES, parallel_legs(*legs)))

    def _query(self, name: str) -> None:
        with self.tracer.span("plans.build"):
            df = self.catalog[name].fn(self.spark, self.data_dir)
        with self.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def round(self, r: int):
        order = np.random.default_rng([self.seed, 11, r]).permutation(len(OLAP_ENTRIES))
        return [(OLAP_ENTRIES[i], partial(self._query, OLAP_ENTRIES[i])) for i in order]

    def failed_kinds(self) -> dict[str, list[str]]:
        views = checks.parquet_views(self.data_dir, OLAP_TABLES)
        bad = {}
        for name in OLAP_ENTRIES:
            want = checks.run_sql(self.catalog[name].oracle, views)
            problems = checks.same_rows(self.results[name], want)
            if problems:
                bad[name] = problems
        return bad


EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)
N_EVENT_BATCHES = 8
N_WRITES = 8
# The serves of a round, after its ingest and change set. BM25 serves
# take ~2 s and ANN serves ~0.7 s on a 4-core machine, so with five BM25
# serves among the round's nine ops the median op is the middle BM25
# serve, not the boundary between the two kinds. A serve's cost depends
# on how hot its terms are; with three BM25 serves a run the op median
# spread by a quarter from seed to seed.
SERVES = ("bm25", "bm25", "ann", "bm25", "bm25", "ann", "bm25")
ANN_NPROBE = 4
ANN_SHORTLIST = 100
# Mean recall@10 of the served ANN answers against exact cosine search
# over the vectors live when each was served.
ANN_RECALL_FLOOR = 0.75


def _ann_artifacts(vecs: np.ndarray, seed: int, m: int = 8, k: int = 16, iters: int = 8):
    """IVF centroids and PQ codebooks trained on the corpus by Lloyd's
    k-means: the pinned artifacts an ANN index is bootstrapped with."""
    rng = np.random.default_rng([seed, 5])

    def kmeans(x: np.ndarray, n: int) -> np.ndarray:
        c = x[rng.choice(len(x), n, replace=False)]
        for _ in range(iters):
            a = ((x[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
            c = np.stack([x[a == j].mean(0) if (a == j).any() else c[j] for j in range(n)])
        return c

    x = vecs.astype(np.float64)
    dsub = x.shape[1] // m
    books = [kmeans(x[:, s * dsub : (s + 1) * dsub], k).tolist() for s in range(m)]
    return kmeans(x, datagen.N_CLUSTERS).tolist(), books


def _replace_users(current, upd):
    """KPI fold: the touched users' sessions are recomputed whole, so
    their old rows are replaced; other users in the bucket are kept."""
    if current is None:
        return upd
    return current.join(upd.select("user_id").distinct(), "user_id", "left_anti").unionByName(upd)


def _append_events(current, upd):
    return upd if current is None else current.unionByName(upd)


class IngestServe(Workload):
    """Streamed micro-batch KPI folds and index writes beside BM25 and
    ANN serving, all on the engine's transactional stores."""

    name = "ingest_serve"
    round_s = 25.0

    def bootstrap(self) -> None:
        from iheardai_data_pipeline_spark.operators.ann_index import PersistentAnnIndex
        from iheardai_data_pipeline_spark.operators.postings_index import PostingsIndex
        from iheardai_data_pipeline_spark.session import parallel_legs
        from iheardai_data_pipeline_spark.sources.batch import load_table
        from iheardai_data_pipeline_spark.streaming.readers import read_file_stream
        from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore

        t = self.tracer
        sizes = datagen.write_corpus(self.seed, self.data_dir)
        self.batches = datagen.event_batches(self.seed, os.path.join(self.work, "staged"), N_EVENT_BATCHES)
        self.inputs = datagen.retrieval_inputs(self.seed, os.path.join(self.work, "writes"), N_WRITES)
        self.src = os.path.join(self.work, "stream-src")
        os.makedirs(self.src)
        self.paths = {name: os.path.join(self.work, "stores", name) for name in ("events", "kpis", "bm25", "ann")}
        # parquet bytes of everything written into the stores: the
        # bootstrap corpus now, each batch and change set as applied
        self.stored_input_bytes = sizes["documents"] + sizes["embeddings"]
        self.events = BucketedTransactionalStore(self.spark, self.paths["events"], ["user_id"], ["event_id"])
        self.kpis = BucketedTransactionalStore(self.spark, self.paths["kpis"], ["user_id"], ["session_seq"])
        emb = pq.read_table(os.path.join(self.data_dir, "embeddings.parquet"))
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        centroids, books = _ann_artifacts(self.vecs, self.seed)

        def build_bm25():
            with t.span("sources.load_table"):
                docs = load_table(self.spark, self.data_dir, "documents").select("doc_id", "text")
            with t.span("postings.append", store=self.paths["bm25"]):
                index = PostingsIndex(self.spark, self.paths["bm25"], expected_docs=datagen.N_DOCS)
                index.append(docs, seq=1)
            return index

        def build_ann():
            with t.span("sources.load_table"):
                emb_df = load_table(self.spark, self.data_dir, "embeddings").select("vec_id", "embedding")
            with t.span("ann.bootstrap", store=self.paths["ann"]):
                return PersistentAnnIndex.bootstrap(
                    self.spark, self.paths["ann"], emb_df, centroids=centroids, books=books
                )

        # independent index builds: the engine's parallel legs
        self.bm25, self.ann = parallel_legs(build_bm25, build_ann)
        with t.span("streaming.read_file_stream"):
            self.stream = read_file_stream(self.spark, self.src, EVENT_SCHEMA, max_files_per_trigger=1)
        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"), columns=["doc_id", "text"])
        # the live documents after each change set; a served BM25 answer
        # is checked against the corpus it was served from
        self.corpora = [dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))]
        self.seq = 1
        self.next_batch = self.next_write = self.next_bm25 = self.next_ann = 0
        self.consumed: list[str] = []
        self.ingest_rows: list[int] = []
        self.served_bm25: list[tuple[int, str, list]] = []  # (corpus version, query, rows)
        self.served_ann: list[tuple[np.ndarray, list, np.ndarray, np.ndarray]] = []  # (query, rows, live ids, vectors)
        self.recall = 0.0

    # -- ops --------------------------------------------------------------------

    def _fold(self, batch, batch_id: int) -> None:
        """foreachBatch body: transform, drop already-committed event ids,
        append the new events and re-fold the touched users' session KPIs."""
        from iheardai_data_pipeline_spark.functions.common import normalize_string, required_fields_ok
        from iheardai_data_pipeline_spark.functions.frontend import normalize_event_type
        from iheardai_data_pipeline_spark.operators.sessionize import session_kpis

        t = self.tracer
        with t.span("streaming.batch"):
            with t.span("functions.build"):
                clean = batch.filter(required_fields_ok("event_id", "user_id", "ts")).select(
                    "event_id", "ts", "user_id",
                    normalize_event_type("event_type").alias("event_type"),
                    "value", normalize_string("props").alias("props"),
                )
            clean = clean.dropDuplicates(["event_id"]).localCheckpoint(eager=True)
            with t.span("stores.read_keys"):
                seen = self.events.read_keys(clean.select("user_id"))
            new = clean if seen is None else clean.join(seen.select("event_id"), "event_id", "left_anti")
            new = new.localCheckpoint(eager=True)
            with t.span("stores.apply_keyed", store=self.paths["events"]):
                self.events.apply_keyed(new, _append_events, epoch=batch_id)
            with t.span("stores.read_keys"):
                touched = self.events.read_keys(new.select("user_id"))
            if touched is None:  # every event of the batch was a re-send
                return
            with t.span("operators.session_kpis"):
                kpis = session_kpis(touched)
            with t.span("stores.apply_keyed", store=self.paths["kpis"]):
                self.kpis.apply_keyed(kpis, _replace_users, epoch=batch_id)

    def _ingest(self) -> None:
        """Land the next micro-batch file and run the stream until it is
        committed (availableNow: one trigger, one file)."""
        path, rows = self.batches[self.next_batch]
        self.next_batch += 1
        landed = os.path.join(self.src, os.path.basename(path))
        os.rename(path, landed)
        self.consumed.append(landed)
        self._wrote(landed)
        with self.tracer.span("streaming.query"):
            query = (
                self.stream.writeStream.foreachBatch(self._fold)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(self.work, "stream-checkpoint"))
                .start()
            )
            self.tracer.add_job_group(str(query.runId))
            query.awaitTermination()
        for name, store in (("events", self.events), ("kpis", self.kpis)):
            with self.tracer.span("stores.vacuum", store=self.paths[name]):
                store.vacuum(keep=2, grace_seconds=0)
        self.ingest_rows.append(rows)

    def _wrote(self, path: str) -> None:
        n = os.path.getsize(path)
        self.stored_input_bytes += n
        self.tracer.note_input(n)

    def _query_frame(self, texts: list[str]):
        return self.spark.createDataFrame(list(enumerate(texts)), "query_id long, qtext string")

    def _bm25(self) -> None:
        text = self.inputs.bm25_queries[self.next_bm25]
        self.next_bm25 += 1
        with self.tracer.span("postings.topk"):
            rows = self.bm25.topk(self._query_frame([text]), k=TOPK).collect()
        self.served_bm25.append((len(self.corpora) - 1, text, rows))

    def _ann(self) -> None:
        q = self.inputs.ann_queries[self.next_ann]
        self.next_ann += 1
        with self.tracer.span("ann.topk"):
            rows = self.ann.topk(q.tolist(), k=TOPK, nprobe=ANN_NPROBE, shortlist=ANN_SHORTLIST).collect()
        self.served_ann.append((q, [r[self.ann.id_col] for r in rows], self.vec_ids, self.vecs))

    def _write(self) -> None:
        """Apply one change set: upsert documents (new ids, and new text
        for existing ids at a higher seq) and index the new documents'
        vectors."""
        paths = self.inputs.writes[self.next_write]
        self.next_write += 1
        for p in paths.values():
            self._wrote(p)
        self.seq += 1
        with self.tracer.span("postings.append", store=self.paths["bm25"]):
            self.bm25.append(self.spark.read.parquet(paths["upserts"]), seq=self.seq)
        with self.tracer.span("ann.append", store=self.paths["ann"]):
            self.ann.append(self.spark.read.parquet(paths["vectors"]), seq=self.seq)
        upserts = pq.read_table(paths["upserts"])
        live = dict(self.corpora[-1])
        live.update(zip(upserts.column("doc_id").to_pylist(), upserts.column("text").to_pylist()))
        self.corpora.append(live)
        vecs = pq.read_table(paths["vectors"])
        self.vec_ids = np.concatenate([self.vec_ids, vecs.column("vec_id").to_numpy()])
        self.vecs = np.concatenate([self.vecs, np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False))])

    def warmup(self) -> None:
        # The stream and both serves are independent first executions, so
        # they run as the engine's parallel legs; the change set shares
        # its plans with the bootstrap's index builds.
        from iheardai_data_pipeline_spark.session import parallel_legs

        parallel_legs(self._ingest, self._bm25, self._ann)
        # only the measured serves are checked
        self.served_bm25.clear()
        self.served_ann.clear()

    def round(self, r: int):
        # the serves follow the change set, so they read its fresh,
        # uncompacted commits beside the bootstrap's
        serve = {"bm25": self._bm25, "ann": self._ann}
        return [("ingest", self._ingest), ("write", self._write)] + [(kind, serve[kind]) for kind in SERVES]

    # -- checks -----------------------------------------------------------------

    def failed_kinds(self) -> dict[str, list[str]]:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent reads: the engine's parallel legs
        kpis, bm25 = parallel_legs(self._check_kpis, self._check_bm25)
        recalls = [
            checks.recall_at_k(got, checks.exact_topk(vecs, ids, q, TOPK)) for q, got, ids, vecs in self.served_ann
        ]
        self.recall = float(np.mean(recalls)) if recalls else 0.0
        bad = {}
        if kpis:
            bad["ingest"] = kpis
        if bm25:
            bad["bm25"] = bad["write"] = bm25
        if self.recall < ANN_RECALL_FLOOR:
            bad["ann"] = [f"mean recall@{TOPK} {self.recall:.3f} is below the floor {ANN_RECALL_FLOOR}"]
        return bad

    def _check_kpis(self) -> list[str]:
        from iheardai_data_pipeline_spark.operators.sessionize import SESSION_KPIS_ORACLE

        want = checks.run_sql(SESSION_KPIS_ORACLE, checks.distinct_events_view(self.consumed))
        return checks.same_rows(self.kpis.read().toPandas(), want)

    def _check_bm25(self) -> list[str]:
        """Every served answer, against brute-force BM25 over the live
        documents of the corpus it was served from."""
        from iheardai_data_pipeline_spark.operators.text import bm25_topk

        problems = []
        for version in sorted({v for v, _text, _rows in self.served_bm25}):
            served = [(text, rows) for v, text, rows in self.served_bm25 if v == version]
            got = pd.DataFrame(
                [{**r.asDict(), "query_id": i} for i, (_text, rows) in enumerate(served) for r in rows]
            )
            live = self.spark.createDataFrame(sorted(self.corpora[version].items()), "doc_id long, text string")
            want = bm25_topk(live, self._query_frame([text for text, _rows in served]), k=TOPK).toPandas()
            problems += checks.same_rows(got, want)
        return problems

    def layer_metrics(self, records) -> dict[str, float]:
        walls = [lat for kind, lat, _ok in records if kind == "ingest"]
        rows = sum(self.ingest_rows[-len(walls):]) if walls else 0
        return {
            "streaming.rows_per_s": rows / sum(walls) if walls else 0.0,
            "stores.bytes_stored_per_input_byte": dir_bytes(*self.paths.values()) / self.stored_input_bytes,
            "postings.index_mb": dir_bytes(self.paths["bm25"]) / 1e6,
            "ann.recall_at_k": self.recall,
        }


WORKLOADS = {w.name: w for w in (OlapMix, IngestServe)}
