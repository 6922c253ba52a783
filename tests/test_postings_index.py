"""PostingsIndex: the persistent BM25 serve must equal the brute
bm25_topk over the LIVE corpus after any mutation sequence — the index
is an evaluation-strategy change only."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.postings_index import PostingsIndex
from iheardai_data_pipeline_spark.operators.text import bm25_topk

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the lazy dog sleeps all day the dog"),
    (3, "quick quick quick brown foxes everywhere"),
    (4, "a completely unrelated document about spark shuffles"),
    (5, "dog"),
    (6, None),
    (7, "the the the the the"),
    (8, "spark window merge batch stream"),
    (9, "hash join group vector scan"),
]

QUERIES = [
    (10, "quick dog"),
    (11, "spark shuffles"),
    (12, "the lazy"),
]


@pytest.fixture(scope="module")
def spark():
    from iheardai_data_pipeline_spark.session import get_spark

    return get_spark(app_name="test-postings-index")


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, rows=QUERIES):
    return spark.createDataFrame(rows, "query_id long, qtext string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _brute(spark, rows, k=4):
    return _rows(bm25_topk(_docs(spark, rows), _queries(spark), k=k))


def test_serve_equals_brute_after_bootstrap(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pi"))
    idx.append(_docs(spark), seq=0)
    live = [r for r in DOCS if r[1] is not None]
    assert _rows(idx.topk(_queries(spark), k=4)) == _brute(spark, live, k=4)


def test_upsert_and_delete_track_live_corpus(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pi2"))
    idx.append(_docs(spark), seq=0)
    # upsert: doc 4 loses its spark-ness, doc 2 gains terms
    v2 = [
        (4, "nothing to see here anymore"),
        (2, "the lazy dog sleeps all day the dog spark spark"),
    ]
    idx.append(_docs(spark, v2), seq=1)
    # delete doc 1 and an unknown id (no-op)
    idx.delete(
        spark.createDataFrame([(1,), (999,)], "doc_id long"), seq=2
    )
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(v2))
    del live[1]
    want = _brute(spark, sorted(live.items()), k=4)
    assert _rows(idx.topk(_queries(spark), k=4)) == want
    # stats track the live corpus exactly
    n, total = idx.stats()
    assert n == len(live)
    assert total == sum(len(t.split()) for t in live.values())


def test_reopen_append_epoch_replay_noops(spark, tmp_path):
    root = str(tmp_path / "pi3")
    idx = PostingsIndex(spark, root)
    idx.append(_docs(spark), seq=0, epoch="boot")
    before = idx.stats()
    served = _rows(idx.topk(_queries(spark), k=4))
    # reopen (fresh handle) and replay the same epoch: must no-op
    idx2 = PostingsIndex(spark, root)
    idx2.append(_docs(spark), seq=0, epoch="boot")
    assert idx2.stats() == before
    assert _rows(idx2.topk(_queries(spark), k=4)) == served


def test_meta_pin_rejects_different_constants(spark, tmp_path):
    root = str(tmp_path / "pi4")
    PostingsIndex(spark, root, k1=1.2, b=0.75)
    with pytest.raises(ValueError, match="one BM25 parameterization"):
        PostingsIndex(spark, root, k1=2.0, b=0.75)


def test_open_old_format_index_says_rebuild(spark, tmp_path):
    """Round 14 (ADVICE r13): opening a pre-forward/termstats layout
    must name the FORMAT mismatch and the rebuild remedy, not the
    misleading k1/b-parameterization message."""
    import json
    import os

    root = str(tmp_path / "pi_v1")
    os.makedirs(root)
    with open(os.path.join(root, "_bm25_meta.json"), "w") as fh:
        json.dump({"format": 1, "k1": 1.2, "b": 0.75}, fh)
    with pytest.raises(ValueError, match="REBUILT"):
        PostingsIndex(spark, root, k1=1.2, b=0.75)


def test_merge_disjoint_shards_serve_like_union_build(spark, tmp_path):
    half_a = [r for r in DOCS if r[0] % 2 == 0]
    half_b = [r for r in DOCS if r[0] % 2 == 1]
    a = PostingsIndex(spark, str(tmp_path / "sa"))
    a.append(_docs(spark, half_a), seq=0)
    b = PostingsIndex(spark, str(tmp_path / "sb"))
    b.append(_docs(spark, half_b), seq=0)
    a.merge(b, epoch="m1")
    a.merge(b, epoch="m1")  # replay: must no-op
    live = [r for r in DOCS if r[1] is not None]
    assert _rows(a.topk(_queries(spark), k=4)) == _brute(spark, live, k=4)
    n, total = a.stats()
    assert n == len(live)


def test_merge_refuses_mismatched_constants(spark, tmp_path):
    a = PostingsIndex(spark, str(tmp_path / "ma"), k1=1.2)
    b = PostingsIndex(spark, str(tmp_path / "mb"), k1=1.5)
    with pytest.raises(ValueError, match="BM25 constants"):
        a.merge(b)


def test_merge_refuses_overlapping_doc_ids(spark, tmp_path):
    # VERDICT r11 #4 hardening: overlapping-id merges used to silently
    # drift N high (both shards' +1 doc deltas survive) — now enforced
    a = PostingsIndex(spark, str(tmp_path / "oa"))
    a.append(_docs(spark, [r for r in DOCS if r[0] <= 5]), seq=0)
    b = PostingsIndex(spark, str(tmp_path / "ob"))
    b.append(_docs(spark, [r for r in DOCS if r[0] >= 5]), seq=0)  # 5 overlaps
    with pytest.raises(ValueError, match="OVERLAP"):
        a.merge(b)
    # no commit happened: A's stats are untouched
    n, _ = a.stats()
    assert n == len([r for r in DOCS if r[0] <= 5 and r[1] is not None])
    # an EPOCH-replayed merge of a disjoint shard must still no-op even
    # though its rows now overlap with itself post-merge (the epoch
    # check runs BEFORE the overlap probe)
    c = PostingsIndex(spark, str(tmp_path / "oc"))
    c.append(_docs(spark, [r for r in DOCS if r[0] >= 7]), seq=0)
    a2 = PostingsIndex(spark, str(tmp_path / "oa"))
    a2.merge(c, epoch="mc")
    a2.merge(c, epoch="mc")  # replay: must not raise, must no-op
    n2, _ = a2.stats()
    live_ids = {r[0] for r in DOCS if r[1] is not None}
    assert n2 == len([i for i in live_ids if i <= 5 or i >= 7])
    # an UN-epoched replayed merge now raises instead of corrupting
    with pytest.raises(ValueError, match="OVERLAP"):
        a2.merge(c)


def test_merge_refuses_tombstoned_overlap_until_compact(spark, tmp_path):
    """ADVICE r12: the overlap probe must cover TOMBSTONED ids too —
    a delete-then-merge leaves a tombstone whose seq outranks the
    shard's live seq (doc serves dead, shard's +1 delta still counts
    it). The sound remedy is delete-then-COMPACT-then-merge, and that
    exact sequence must succeed and serve the shard's version."""
    a = PostingsIndex(spark, str(tmp_path / "ta"))
    a.append(_docs(spark, [r for r in DOCS if r[0] <= 5]), seq=0)
    # retract doc 5 on A at a HIGH seq — the hazardous tombstone
    a.delete(spark.createDataFrame([(5,)], "doc_id long"), seq=9)
    b = PostingsIndex(spark, str(tmp_path / "tb"))
    b.append(_docs(spark, [r for r in DOCS if r[0] >= 5]), seq=0)
    # live-vs-TOMBSTONE overlap: must refuse (pre-fix this passed and
    # then served doc 5 dead while counting it in N)
    with pytest.raises(ValueError, match="tombstones included"):
        a.merge(b)
    # the prescribed remedy: compact A (drops the tombstone row and
    # folds its stats delta), then the merge is clean
    a.compact()
    a.merge(b, epoch="tm")
    live = [r for r in DOCS if r[1] is not None]  # doc 5 now from B
    assert _rows(a.topk(_queries(spark), k=4)) == _brute(spark, live, k=4)
    n, total = a.stats()
    assert n == len(live)
    assert total == sum(len(t.split()) for _, t in live)


def test_compact_preserves_serve_and_reclaims(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pc"))
    idx.append(_docs(spark), seq=0)
    idx.append(
        _docs(spark, [(4, "nothing to see here anymore")]), seq=1
    )
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2)
    before = _rows(idx.topk(_queries(spark), k=4))
    stats_before = idx.stats()
    idx.compact()
    assert _rows(idx.topk(_queries(spark), k=4)) == before
    assert idx.stats() == stats_before
    # physical reclamation: no posting row survives for doc 1, no
    # stale row for doc 4's v0 terms, stats folded to one row
    pl = idx._store.read("postings")
    assert pl.filter(F.col("doc_id") == 1).count() == 0
    assert pl.filter(
        (F.col("doc_id") == 4) & (F.col("term") == "spark")
    ).count() == 0
    assert idx._store.read("stats").count() == 1
    # round 14: the fsck runs on the maintenance cadence — post-compact
    # the maintained aggregates must audit clean
    assert idx.verify_stats()["ok"]


def test_serve_reads_only_probed_term_buckets(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pp"), n_buckets=128)
    assert idx._store.prune_probes
    idx.append(_docs(spark), seq=0)
    out = idx.topk(_queries(spark, [(0, "dog")]), k=3)
    rows = out.collect()
    assert rows and rows[0]["doc_id"] in (1, 2, 5)
    files = [f for f in out.inputFiles() if "__rel=postings" in f]
    buckets = {
        f.split("__bucket=")[1].split("/")[0]
        for f in files
        if "__bucket=" in f
    }
    manifest = (idx._store._manifest(idx._store.current_version()) or {})[
        "postings"
    ]
    # one query term -> exactly the one bucket it hashes to
    assert len(buckets) == 1 < len(manifest)


def test_empty_index_and_no_match_queries(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pe"))
    assert idx.topk(_queries(spark), k=3).count() == 0
    idx.append(_docs(spark), seq=0)
    assert (
        idx.topk(_queries(spark, [(0, "zzz_absent")]), k=3).count() == 0
    )


def test_phrase_serve_equals_brute_after_mutations(spark, tmp_path):
    from iheardai_data_pipeline_spark.operators.text import phrase_topk

    idx = PostingsIndex(spark, str(tmp_path / "ph"))
    idx.append(_docs(spark), seq=0)
    v2 = [(3, "quick brown quick brown"), (8, "lazy dog lazy dog lazy")]
    idx.append(_docs(spark, v2), seq=1)
    idx.delete(spark.createDataFrame([(2,)], "doc_id long"), seq=2)
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(v2))
    del live[2]
    phrases = spark.createDataFrame(
        [(0, "quick brown"), (1, "lazy dog"), (2, "the lazy dog")],
        "query_id long, qtext string",
    )
    got = sorted(tuple(r) for r in idx.phrase_topk(phrases, k=4).collect())
    want = sorted(
        tuple(r)
        for r in phrase_topk(
            _docs(spark, sorted(live.items())), phrases, k=4
        ).collect()
    )
    assert got == want
    # the upserted doc's duplicated phrase really counts twice
    assert (0, 3, 2, 1) in got


def test_phrase_serve_survives_compact(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "phc"))
    idx.append(_docs(spark), seq=0)
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=1)
    phrases = spark.createDataFrame(
        [(0, "lazy dog")], "query_id long, qtext string"
    )
    before = sorted(tuple(r) for r in idx.phrase_topk(phrases, k=3).collect())
    idx.compact()
    after = sorted(tuple(r) for r in idx.phrase_topk(phrases, k=3).collect())
    assert before == after and before


def test_phrase_serve_reads_only_probed_term_buckets(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "php"), n_buckets=128)
    assert idx._store.prune_probes
    idx.append(_docs(spark), seq=0)
    out = idx.phrase_topk(
        spark.createDataFrame(
            [(0, "lazy dog")], "query_id long, qtext string"
        ),
        k=3,
    )
    rows = out.collect()
    assert rows and rows[0]["doc_id"] in (1, 2)
    files = [f for f in out.inputFiles() if "__rel=postings" in f]
    buckets = {
        f.split("__bucket=")[1].split("/")[0]
        for f in files
        if "__bucket=" in f
    }
    manifest = (idx._store._manifest(idx._store.current_version()) or {})[
        "postings"
    ]
    # two phrase terms -> at most their two buckets, never the layout
    assert 1 <= len(buckets) <= 2 < len(manifest)


def test_filtered_serve_scores_unchanged_under_mask(spark, tmp_path):
    """allowed= filters candidates only — a surviving doc's score must
    be IDENTICAL to its unfiltered score (df/N/avgdl stay global)."""
    idx = PostingsIndex(spark, str(tmp_path / "pf"))
    idx.append(_docs(spark), seq=0)
    allowed = spark.createDataFrame(
        [(i,) for i, t in DOCS if t is not None and i % 2 == 1],
        "doc_id long",
    )
    full = {
        (r["query_id"], r["doc_id"]): (r["score_micro"], r["n_terms"])
        for r in idx.topk(_queries(spark), k=100).collect()
    }
    got = idx.topk(_queries(spark), k=100, allowed=allowed).collect()
    assert got and all(r["doc_id"] % 2 == 1 for r in got)
    for r in got:
        assert full[(r["query_id"], r["doc_id"])] == (
            r["score_micro"],
            r["n_terms"],
        )
    # and the filtered ranking is the full ranking restricted + re-cut
    for qid in {r["query_id"] for r in got}:
        want_order = [
            d
            for (q, d), _ in sorted(
                full.items(), key=lambda kv: (-kv[1][0], kv[0][1])
            )
            if q == qid and d % 2 == 1
        ]
        got_order = [
            r["doc_id"]
            for r in sorted(got, key=lambda r: r["rnk"])
            if r["query_id"] == qid
        ]
        assert got_order == want_order[: len(got_order)]


# --- max-score pruned serving (round 12) -----------------------------------


def test_pruned_serve_equals_unpruned_after_mutations(spark, tmp_path):
    """topk(prune=True) is an evaluation-strategy change ONLY: same
    rows, bit for bit, through the full mutation scenario (bootstrap +
    epoch replay + upsert + delete). The workload includes a hot term
    ('the' appears in most docs) so the pruning path actually prunes."""
    idx = PostingsIndex(spark, str(tmp_path / "pw"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    idx.append(_docs(spark), seq=0, epoch="boot")  # replay: no-op
    v2 = [
        (4, "nothing to see here anymore"),
        (2, "the lazy dog sleeps all day the dog spark spark"),
    ]
    idx.append(_docs(spark, v2), seq=1, epoch="up")
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2,
               epoch="del")
    queries = spark.createDataFrame(
        [(10, "quick dog"), (11, "spark shuffles"),
         (12, "the lazy"), (13, "the")],
        "query_id long, qtext string",
    )
    for k in (1, 3, 100):
        want = _rows(idx.topk(queries, k=k))
        assert want  # non-degenerate comparison
        assert _rows(idx.topk(queries, k=k, prune=True)) == want


def test_pruned_serve_prunes_hot_term_from_scoring(spark, tmp_path):
    """On a hot-term + rare-term query the scoring exchange must see
    FEWER rows than the naive per-query postings volume, and diag
    reports the measured quantities."""
    # 40 docs all containing 'the'; only 3 contain 'zebra'
    rows = [
        (i, "the filler text " + ("zebra " if i % 13 == 0 else "pad ") * 2)
        for i in range(40)
    ]
    idx = PostingsIndex(spark, str(tmp_path / "ph"))
    idx.append(_docs(spark, rows), seq=0)
    queries = spark.createDataFrame(
        [(0, "zebra the")], "query_id long, qtext string"
    )
    diag: dict = {}
    got = _rows(idx.topk(queries, k=2, prune=True, diag=diag))
    assert got == _rows(idx.topk(queries, k=2))
    # naive volume = df(zebra) + df(the) = 4 + 40 (i%13==0 hits 0, 13,
    # 26, 39); pruned scoring must touch only the rare term's
    # candidates (x their matched terms)
    # maintained_df_sum (renamed from live_postings_rows, round 14 —
    # it is the termstats bookkeeping total, not scanned rows)
    assert diag["maintained_df_sum"] == 44
    assert diag["scoring_rows"] < 44
    assert diag["candidate_docs"] <= 5
    assert diag["iterations"] >= 1
    # round 13: the hot term's postings bucket is NEVER READ — probed
    # postings = the essential (rare) term's 4 rows only; stats came
    # from the maintained termstats deltas, scoring from the doc-keyed
    # forward relation
    assert diag["probed_postings_rows"] == 4


def test_pruned_serve_with_allowed_mask(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "pa"))
    idx.append(_docs(spark), seq=0)
    allowed = spark.createDataFrame(
        [(i,) for i, t in DOCS if t is not None and i % 2 == 1],
        "doc_id long",
    )
    for k in (2, 100):
        want = _rows(idx.topk(_queries(spark), k=k, allowed=allowed))
        got = _rows(
            idx.topk(_queries(spark), k=k, allowed=allowed, prune=True)
        )
        assert got == want


def test_pruned_serve_edge_cases(spark, tmp_path):
    # empty index
    idx = PostingsIndex(spark, str(tmp_path / "pe"))
    q = _queries(spark)
    assert idx.topk(q, k=3, prune=True).count() == 0
    # absent-terms query
    idx.append(_docs(spark), seq=0)
    qa = spark.createDataFrame(
        [(9, "zzz_absent qqq_nope")], "query_id long, qtext string"
    )
    assert idx.topk(qa, k=3, prune=True).count() == 0
    # mixed present/absent + k exceeding matches
    qm = spark.createDataFrame(
        [(9, "zzz_absent dog")], "query_id long, qtext string"
    )
    assert _rows(idx.topk(qm, k=50, prune=True)) == _rows(
        idx.topk(qm, k=50)
    )


def test_pruned_serve_randomized_equality(spark, tmp_path):
    """Randomized corpora/queries (fixed seeds): pruned == unpruned on
    every draw — ties, duplicate terms, single-doc corpora, k edges."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(12)]
        n = rng.randint(1, 30)
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 8))))
            for i in range(n)
        ]
        idx = PostingsIndex(spark, str(tmp_path / f"pr{seed}"))
        idx.append(_docs(spark, rows), seq=0)
        queries = spark.createDataFrame(
            [
                (qi, " ".join(rng.choices(vocab, k=rng.randint(1, 4))))
                for qi in range(3)
            ],
            "query_id long, qtext string",
        )
        k = rng.choice([1, 2, 5])
        assert _rows(idx.topk(queries, k=k, prune=True)) == _rows(
            idx.topk(queries, k=k)
        ), f"seed={seed}"


# --- index-served PRF (round 12) --------------------------------------------


def test_prf_serve_equals_brute_after_mutations(spark, tmp_path):
    """prf_topk — SELF-CONTAINED since round 13 (the expansion reads
    the index's own forward relation, no caller-supplied corpus) —
    must equal the brute bm25_prf_topk over the live corpus, through
    upsert and delete, and the expansion must matter (pass 2 != plain
    topk)."""
    from iheardai_data_pipeline_spark.operators.text import bm25_prf_topk

    idx = PostingsIndex(spark, str(tmp_path / "prf"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    v2 = [
        (4, "nothing to see here anymore"),
        (2, "the lazy dog sleeps all day the dog spark spark"),
    ]
    idx.append(_docs(spark, v2), seq=1, epoch="up")
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2,
               epoch="del")
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(v2))
    del live[1]
    live_rows = sorted(live.items())
    queries = _queries(spark)
    want = _rows(
        bm25_prf_topk(
            _docs(spark, live_rows), queries, k=4, fb_docs=2, fb_terms=2
        )
    )
    got = _rows(idx.prf_topk(queries, k=4, fb_docs=2, fb_terms=2))
    assert got == want
    # expansion is not a no-op on this corpus
    assert got != _rows(idx.topk(queries, k=4))


def test_prf_serve_no_matches_falls_back(spark, tmp_path):
    idx = PostingsIndex(spark, str(tmp_path / "prfe"))
    idx.append(_docs(spark), seq=0)
    qa = spark.createDataFrame(
        [(9, "zzz_absent")], "query_id long, qtext string"
    )
    assert idx.prf_topk(qa, k=3).count() == 0


def test_termstats_track_exact_live_df_and_compact_tightens(spark, tmp_path):
    """Round 13: SUM(d_df) per term must equal the brute live df
    through bootstrap + epoch replay + upsert + delete; max_tf is a
    high watermark that compact re-tightens to the exact live max;
    compact also physically reclaims stale/dead forward rows."""
    from collections import Counter

    idx = PostingsIndex(spark, str(tmp_path / "ts"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    idx.append(_docs(spark), seq=0, epoch="boot")  # replay: must no-op
    v2 = [
        (4, "nothing to see here anymore"),
        (2, "the lazy dog sleeps all day the dog spark spark"),
    ]
    idx.append(_docs(spark, v2), seq=1, epoch="up")
    idx.delete(
        spark.createDataFrame([(1,), (7,)], "doc_id long"), seq=2,
        epoch="del",
    )
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(v2))
    del live[1], live[7]
    df_want: Counter = Counter()
    max_want: dict = {}
    for _, t in live.items():
        for term, n in Counter(t.split()).items():
            df_want[term] += 1
            max_want[term] = max(max_want.get(term, 0), n)
    ts = idx._store.read("termstats")
    got = {
        r["term"]: (r["df"], r["max_tf"])
        for r in ts.groupBy("term")
        .agg(F.sum("d_df").alias("df"), F.max("max_tf").alias("max_tf"))
        .collect()
        if r["df"] > 0
    }
    assert {t: d for t, (d, _) in got.items()} == dict(df_want)
    for t, (_, m) in got.items():
        assert m >= max_want[t]  # watermark soundness
    # terms whose only docs died fold to df<=0 and drop from the view
    assert "fox" not in got and "jumps" not in got
    # the deleted doc 7 had watermarked 'the' at tf 5; live max is 2
    assert got["the"][1] == 5 and max_want["the"] == 2
    idx.compact()
    ts2 = {
        r["term"]: (r["d_df"], r["max_tf"])
        for r in idx._store.read("termstats").collect()
    }
    assert ts2 == {t: (df_want[t], max_want[t]) for t in df_want}
    fwd = idx._store.read("forward")
    assert fwd.filter(F.col("doc_id").isin([1, 7])).count() == 0
    assert fwd.count() == len(live)
    # and the serve still matches brute after the fold
    assert _rows(idx.topk(_queries(spark), k=4)) == _brute(
        spark, sorted(live.items()), k=4
    )
    assert _rows(idx.topk(_queries(spark), k=4, prune=True)) == _brute(
        spark, sorted(live.items()), k=4
    )
    # round 14: post-compact maintenance fsck (the production cadence)
    assert idx.verify_stats()["ok"]


def test_verify_stats_detects_unepoched_replay_drift(spark, tmp_path):
    """The fsck for the delta caveat: a healthy mutated index audits
    clean; an UN-EPOCHED replayed append (the documented silent
    corruption — row relations self-heal, the delta sums do not)
    must flag both the corpus stats and the per-term df sums."""
    idx = PostingsIndex(spark, str(tmp_path / "vs"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    idx.append(
        _docs(spark, [(2, "the lazy dog sleeps spark spark")]),
        seq=1, epoch="up",
    )
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2,
               epoch="del")
    rep = idx.verify_stats()
    assert rep["ok"] and rep["stats_ok"] and rep["termstats_ok"]
    assert rep["n_docs"] == rep["n_docs_exact"]
    # now the corruption: replay the bootstrap batch WITHOUT an epoch —
    # postings/doclens/forward rows dedup through max_by, but the
    # stats AND termstats deltas double-count (the deleted doc 1 is
    # re-counted in N while the seq-2 tombstone keeps it dead, and the
    # upserted doc 2's delta is diffed against a version that LOSES
    # the LWW)
    idx.append(_docs(spark), seq=0)
    rep2 = idx.verify_stats()
    assert not rep2["ok"]
    assert not rep2["stats_ok"]
    assert rep2["n_docs"] != rep2["n_docs_exact"]
    assert not rep2["termstats_ok"] and rep2["df_drifted_terms"] > 0
    # watermarks stay SOUND through the drift (they only ever grow)
    assert rep2["unsound_watermarks"] == 0
    # compact's EXACT termstats recompute repairs the per-term drift;
    # the corpus stats fold is sum-preserving, so that corruption
    # SURVIVES compaction — detector still red, for the right reason
    idx.compact()
    rep3 = idx.verify_stats()
    assert rep3["termstats_ok"] and rep3["df_drifted_terms"] == 0
    assert not rep3["stats_ok"] and not rep3["ok"]


# --- fielded (BM25F) index (round 13) ----------------------------------------


FIELD_DOCS = [
    (1, "quick fox", "the quick brown fox jumps over the lazy dog"),
    (2, "lazy dog report", "the lazy dog sleeps all day the dog"),
    (3, "brown foxes", "quick quick quick brown foxes everywhere"),
    (4, "spark notes", "a completely unrelated document about spark shuffles"),
    (5, "dog", "dog"),
    (6, None, None),
    (7, "misc", "spark window merge batch stream"),
]


def _fdocs(spark, rows=FIELD_DOCS):
    return spark.createDataFrame(
        rows, "doc_id long, title string, body string"
    )


def test_fielded_index_serves_bm25f_through_mutations(spark, tmp_path):
    """A field_weights index must equal the brute bm25f_topk over the
    live fielded corpus through upsert + delete, pruned and unpruned
    (the fielded serve is the same code at tf scale 1000)."""
    from iheardai_data_pipeline_spark.operators.text import bm25f_topk

    weights = {"title": 2.5, "body": 1.0}
    idx = PostingsIndex(
        spark, str(tmp_path / "ff"), field_weights=weights
    )
    idx.append(_fdocs(spark), seq=0, epoch="boot")
    v2 = [(4, "spark deep dive", "spark spark shuffles window merge")]
    idx.append(_fdocs(spark, v2), seq=1, epoch="up")
    idx.delete(spark.createDataFrame([(2,)], "doc_id long"), seq=2,
               epoch="del")
    live = {i: (t, b) for i, t, b in FIELD_DOCS if b is not None}
    live.update({i: (t, b) for i, t, b in v2})
    del live[2]
    live_rows = [(i, t, b) for i, (t, b) in sorted(live.items())]
    want = _rows(
        bm25f_topk(_fdocs(spark, live_rows), _queries(spark),
                   fields=weights, k=4)
    )
    assert want
    assert _rows(idx.topk(_queries(spark), k=4)) == want
    assert _rows(idx.topk(_queries(spark), k=4, prune=True)) == want
    # compact preserves the fielded serve and the exact stats
    stats_before = idx.stats()
    idx.compact()
    assert idx.stats() == stats_before
    assert _rows(idx.topk(_queries(spark), k=4)) == want
    # round 14: post-compact maintenance fsck, fielded (milli) units
    assert idx.verify_stats()["ok"]


def test_fielded_index_guards(spark, tmp_path):
    idx = PostingsIndex(
        spark, str(tmp_path / "fg"), field_weights={"title": 2.5, "body": 1.0}
    )
    idx.append(_fdocs(spark), seq=0)
    with pytest.raises(ValueError, match="positional payload"):
        idx.phrase_topk(
            spark.createDataFrame([(0, "lazy dog")],
                                  "query_id long, qtext string")
        )
    # weight mismatch refuses merge (scores not comparable)
    other = PostingsIndex(spark, str(tmp_path / "fg2"))
    with pytest.raises(ValueError, match="field weightings"):
        idx.merge(other)
    # non-milli weight refused at creation
    with pytest.raises(ValueError, match="milli"):
        PostingsIndex(
            spark, str(tmp_path / "fg3"),
            field_weights={"title": 2.0005}

        )


def test_pruned_serve_nonzero_bootstrap_seq(spark, tmp_path):
    """The delta-liveness rule's last uncovered corner: a corpus whose
    FIRST append is at seq > 0 (every doc lands in the M delta, none
    on the seq==0 fast path) must serve identically pruned and
    unpruned — including after an upsert above it."""
    idx = PostingsIndex(spark, str(tmp_path / "pnz"))
    idx.append(_docs(spark), seq=5)
    idx.append(
        _docs(spark, [(2, "the lazy dog sleeps all day the dog spark")]),
        seq=7,
    )
    idx.delete(spark.createDataFrame([(3,)], "doc_id long"), seq=8)
    for k in (2, 50):
        want = _rows(idx.topk(_queries(spark), k=k))
        assert want
        assert _rows(idx.topk(_queries(spark), k=k, prune=True)) == want


# --- round 14: pruned PRF, append diet, repair_stats --------------------------


def test_prf_pruned_equals_unpruned_and_brute(spark, tmp_path):
    """prf_topk(prune=True) routes BOTH passes through the max-score
    serve; it must equal the unpruned PRF (and therefore the brute
    bm25_prf_topk) row for row through the full mutation scenario —
    including a hot-term query so pass 1 actually prunes. diag
    accumulates across the two passes."""
    from iheardai_data_pipeline_spark.operators.text import bm25_prf_topk

    idx = PostingsIndex(spark, str(tmp_path / "prfw"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    v2 = [
        (4, "nothing to see here anymore"),
        (2, "the lazy dog sleeps all day the dog spark spark"),
    ]
    idx.append(_docs(spark, v2), seq=1, epoch="up")
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2,
               epoch="del")
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(v2))
    del live[1]
    queries = _queries(
        spark, QUERIES + [(13, "the dog")]  # hot-term workload
    )
    want = _rows(
        bm25_prf_topk(
            _docs(spark, sorted(live.items())), queries,
            k=4, fb_docs=2, fb_terms=2,
        )
    )
    assert want
    unpruned = _rows(idx.prf_topk(queries, k=4, fb_docs=2, fb_terms=2))
    diag: dict = {}
    pruned = _rows(
        idx.prf_topk(
            queries, k=4, fb_docs=2, fb_terms=2, prune=True, diag=diag
        )
    )
    assert unpruned == want
    assert pruned == want
    # two passes accumulated into one dict (each pass iterates >= 1)
    assert diag["iterations"] >= 2
    assert diag["maintained_df_sum"] > 0
    # edge: no-match queries fall back identically under prune
    qa = spark.createDataFrame(
        [(9, "zzz_absent")], "query_id long, qtext string"
    )
    assert idx.prf_topk(qa, k=3, prune=True).count() == 0


def test_prf_pruned_with_allowed_mask(spark, tmp_path):
    """allowed= must flow through BOTH pruned PRF passes exactly as it
    does unpruned (feedback only from eligible docs)."""
    idx = PostingsIndex(spark, str(tmp_path / "prfa"))
    idx.append(_docs(spark), seq=0)
    allowed = spark.createDataFrame(
        [(i,) for i, t in DOCS if t is not None and i % 2 == 1],
        "doc_id long",
    )
    want = _rows(
        idx.prf_topk(_queries(spark), k=4, fb_docs=2, fb_terms=2,
                     allowed=allowed)
    )
    assert want
    got = _rows(
        idx.prf_topk(_queries(spark), k=4, fb_docs=2, fb_terms=2,
                     allowed=allowed, prune=True)
    )
    assert got == want


def test_fresh_batch_append_skips_forward_diff(spark, tmp_path):
    """Round 14 (VERDICT r13 #2): a batch with NO replaced ids — the
    dominant bulk-build shape — must not run the forward-diff lookup
    at all (the doclens probe already proves nothing was replaced),
    while a replace-carrying batch still takes the exact diff."""
    idx = PostingsIndex(spark, str(tmp_path / "fd"))
    idx.append(_docs(spark), seq=0)

    def boom(*a, **k):
        raise AssertionError("forward-diff probe ran for a fresh-id batch")

    idx._live_forward_for = boom
    fresh = [(100, "totally new content appended"), (101, "more new words")]
    idx.append(_docs(spark, fresh), seq=1)  # must skip the probe
    del idx._live_forward_for  # restore the class method
    # the diet must not cost exactness: serve == brute on the union,
    # and an upsert (replace-carrying) batch still diffs correctly
    idx.append(
        _docs(spark, [(2, "the lazy dog sleeps spark spark")]), seq=2
    )
    live = {i: t for i, t in DOCS if t is not None}
    live.update(dict(fresh))
    live[2] = "the lazy dog sleeps spark spark"
    want = _brute(spark, sorted(live.items()), k=4)
    assert _rows(idx.topk(_queries(spark), k=4)) == want
    assert _rows(idx.topk(_queries(spark), k=4, prune=True)) == want
    assert idx.verify_stats()["ok"]


def test_epoched_replay_short_circuits_probes(spark, tmp_path):
    """A replayed EPOCHED append/delete must return before paying for
    any delta probe (r13 ran the probes and only no-opped at commit)."""
    idx = PostingsIndex(spark, str(tmp_path / "sc"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    before = _rows(idx.topk(_queries(spark), k=4))
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=1,
               epoch="del")
    after_del = _rows(idx.topk(_queries(spark), k=4))

    def boom(*a, **k):
        raise AssertionError("replayed epoched mutation ran its probes")

    idx._current_live_for = boom
    idx.append(_docs(spark), seq=0, epoch="boot")  # replay: short-circuit
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=1,
               epoch="del")  # replay: short-circuit
    del idx._current_live_for
    assert _rows(idx.topk(_queries(spark), k=4)) == after_del
    assert before != after_del  # the first delete really landed


def test_repair_stats_heals_unepoched_replay_drift(spark, tmp_path):
    """Round 14 (VERDICT r13 #3): corrupt -> repair_stats -> audit
    clean -> serve value-green against brute, WITHOUT a rebuild or
    compact. Clean stores commit nothing; an epoched repair replay
    no-ops."""
    idx = PostingsIndex(spark, str(tmp_path / "rs"))
    idx.append(_docs(spark), seq=0, epoch="boot")
    idx.append(
        _docs(spark, [(2, "the lazy dog sleeps spark spark")]),
        seq=1, epoch="up",
    )
    idx.delete(spark.createDataFrame([(1,)], "doc_id long"), seq=2,
               epoch="del")
    # clean audit: repair is a no-op (no commit)
    v = idx._store.current_version()
    rep = idx.repair_stats()
    assert rep["ok"] and idx._store.current_version() == v
    assert rep["repaired"] is False  # clean audit committed nothing
    # the documented silent corruption: un-epoched replayed bootstrap
    idx.append(_docs(spark), seq=0)
    assert not idx.verify_stats()["ok"]
    rep2 = idx.repair_stats(epoch="repair-1")
    assert rep2["ok"] and rep2["stats_ok"] and rep2["termstats_ok"]
    assert rep2["repaired"] is True  # the pre-repair audit saw drift
    # a replayed epoched repair no-ops (the corrective deltas are
    # themselves subject to the delta caveat)
    v2 = idx._store.current_version()
    idx.repair_stats(epoch="repair-1")
    assert idx._store.current_version() == v2
    assert idx.verify_stats()["ok"]
    # and the serve is value-green on the healed stats
    live = {i: t for i, t in DOCS if t is not None}
    live[2] = "the lazy dog sleeps spark spark"
    del live[1]
    want = _brute(spark, sorted(live.items()), k=4)
    assert _rows(idx.topk(_queries(spark), k=4)) == want
    assert _rows(idx.topk(_queries(spark), k=4, prune=True)) == want


def test_fielded_index_verify_and_repair_milli_units(spark, tmp_path):
    """Round 14 (VERDICT r13 #6): a FIELDED index stores milli-scaled
    tf/dl — verify_stats' exact recompute and the maintained sums must
    agree in the SAME units through mutations (a unit mismatch would
    flag a healthy index), and repair_stats must heal a fielded drift
    in those units."""
    from iheardai_data_pipeline_spark.operators.text import bm25f_topk

    weights = {"title": 2.5, "body": 1.0}
    idx = PostingsIndex(
        spark, str(tmp_path / "fvs"), field_weights=weights
    )
    idx.append(_fdocs(spark), seq=0, epoch="boot")
    v2 = [(4, "spark deep dive", "spark spark shuffles window merge")]
    idx.append(_fdocs(spark, v2), seq=1, epoch="up")
    idx.delete(spark.createDataFrame([(2,)], "doc_id long"), seq=2,
               epoch="del")
    rep = idx.verify_stats()
    assert rep["ok"], rep  # unit-consistent: no false drift flags
    # corrupt with an un-epoched replay, then heal
    idx.append(_fdocs(spark), seq=0)
    assert not idx.verify_stats()["ok"]
    assert idx.repair_stats()["ok"]
    live = {i: (t, b) for i, t, b in FIELD_DOCS if b is not None}
    live.update({i: (t, b) for i, t, b in v2})
    del live[2]
    live_rows = [(i, t, b) for i, (t, b) in sorted(live.items())]
    want = _rows(
        bm25f_topk(_fdocs(spark, live_rows), _queries(spark),
                   fields=weights, k=4)
    )
    assert want
    assert _rows(idx.topk(_queries(spark), k=4)) == want
