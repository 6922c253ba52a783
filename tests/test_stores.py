"""The transactional store: OCC commit protocol, snapshot isolation,
retry-on-conflict, epoch idempotence, vacuum — through the
single-relation facade (BucketedTransactionalStore) and the
multi-relation store it wraps. The foreachBatch contract itself is
covered in test_streaming.py."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.streaming.stores import (
    BucketedTransactionalStore,
    claim_layout_meta,
)

SCHEMA = "k string, seq int, v string"


def _store(spark, tmp_path, name="s", n_buckets=1):
    # one bucket: every commit rewrites the whole table, so a retry that
    # did not re-read the winner's commit would drop the winner's rows —
    # the strictest setting for the OCC tests
    return BucketedTransactionalStore(
        spark, str(tmp_path / name), ["k"], ["seq"], n_buckets=n_buckets
    )


def _sum_fold(current, upd):
    """A NON-idempotent key-local fold (sum of seq per key): a replayed
    commit would double-count, which is what the epoch tests detect."""
    if current is None:
        return upd
    return (
        current.unionByName(upd)
        .groupBy("k", "v")
        .agg(F.sum("seq").alias("seq"))
        .select("k", "seq", "v")
    )


def test_merge_last_writer_wins_and_versions(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert st.read() is None and st.current_version() == 0
    st.merge(spark.createDataFrame([("a", 1, "a1"), ("b", 1, "b1")], SCHEMA))
    st.merge(spark.createDataFrame([("a", 2, "a2"), ("c", 1, "c1")], SCHEMA))
    got = {r["k"]: (r["seq"], r["v"]) for r in st.read().collect()}
    assert got == {"a": (2, "a2"), "b": (1, "b1"), "c": (1, "c1")}
    assert st.current_version() == 2
    # merge() is UPDATE-PRIORITY (M3 semantics, same as merge_upsert):
    # the updates batch beats the target even on a lower seq.
    # Seq-GUARDED state maintenance instead goes through last_write_wins
    # in its fold (session_state_foreach_batch).
    st.merge(spark.createDataFrame([("a", 1, "LATEST-BATCH")], SCHEMA))
    assert {r["k"]: r["v"] for r in st.read().collect()}["a"] == "LATEST-BATCH"


def test_first_commit_dedups_within_batch(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "old"), ("a", 5, "new")], SCHEMA))
    rows = st.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_commit_claim_is_exclusive(spark, tmp_path):
    st = _store(spark, tmp_path)._store
    assert st._try_commit(1, {"rows": {"0": ["snap-a"]}})
    assert not st._try_commit(1, {"rows": {"0": ["snap-b"]}})  # owned
    assert st._try_commit(2, {"rows": {"0": ["snap-c"]}})
    assert st._manifest(1) == {"rows": {"0": ["snap-a"]}}  # first claim won


def test_lost_race_retries_against_new_base(spark, tmp_path):
    """A writer that loses the commit race must re-merge on the winner's
    data, not overwrite it (the reference's transactional guarantee)."""
    a = _store(spark, tmp_path)
    b = _store(spark, tmp_path)
    a.merge(spark.createDataFrame([("a", 1, "base")], SCHEMA))

    # interleave: A has staged its merge of the OLD base; before A's
    # claim, B commits — A's first claim must fail and retry
    real_claim = a._store._try_commit
    fired = []

    def claim_after_interleaved_writer(version, manifest, epoch=None):
        if not fired:
            fired.append(True)
            b.merge(spark.createDataFrame([("b", 1, "from-b")], SCHEMA))
        return real_claim(version, manifest, epoch=epoch)

    a._store._try_commit = claim_after_interleaved_writer
    a.merge(spark.createDataFrame([("a", 2, "from-a")], SCHEMA))
    got = {r["k"]: r["v"] for r in a.read().collect()}
    assert got == {"a": "from-a", "b": "from-b"}  # neither write lost
    assert a.current_version() == 3  # base + B's commit + A's retry
    # the losing attempt's staging dir was dropped, not left behind
    assert len(os.listdir(os.path.join(a.path, "_snapshots"))) == 3


def test_concurrent_writers_no_lost_update(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("seed", 0, "x")], SCHEMA))
    errs = []

    def write(key):
        try:
            other = _store(spark, tmp_path)
            other.merge(spark.createDataFrame([(key, 1, key)], SCHEMA))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=write, args=(f"k{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    keys = {r["k"] for r in st.read().collect()}
    assert keys == {"seed", "k0", "k1", "k2", "k3"}  # no lost updates
    assert st.current_version() == 5


def test_time_travel_and_vacuum(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "v1")], SCHEMA))
    st.merge(spark.createDataFrame([("a", 2, "v2")], SCHEMA))
    assert st.read_version(1).collect()[0]["v"] == "v1"  # snapshot isolation
    assert st.read_version(2).collect()[0]["v"] == "v2"
    st.vacuum(keep=1)
    assert st.read_version(1) is None  # vacuumed
    assert st.read().collect()[0]["v"] == "v2"  # latest intact
    # keep=0 would unlink every commit marker (silent drop-table) — refused
    with pytest.raises(ValueError, match="keep"):
        st.vacuum(keep=0)
    assert st.read().collect()[0]["v"] == "v2"  # store untouched by refusal


def test_apply_rereads_and_remerges_on_lost_race(spark, tmp_path):
    """A read-modify-write that loses the commit race must fold the
    winner's commit into its retry — the lost-update scenario a bare
    read + write_snapshot sequence would hit."""
    from iheardai_data_pipeline_spark.operators.mutations import merge_upsert

    a = _store(spark, tmp_path)
    b = _store(spark, tmp_path)
    a.merge(spark.createDataFrame([("seed", 1, "v0")], SCHEMA))

    calls = []

    def fn(current, upd):
        if not calls:
            # concurrent writer commits BETWEEN a's read and a's commit
            b.merge(spark.createDataFrame([("bkey", 1, "bv")], SCHEMA))
        calls.append(current)
        return merge_upsert(current, upd, ["k"], ["seq"])

    a.apply_keyed(spark.createDataFrame([("akey", 1, "av")], SCHEMA), fn)
    keys = {r["k"] for r in a.read().collect()}
    assert keys == {"seed", "bkey", "akey"}  # b's commit survived a's retry
    assert len(calls) == 2  # fn re-applied on the new base


def test_vacuum_grace_spares_inflight_staging(spark, tmp_path):
    """vacuum must not delete a young unreferenced staging dir — a
    concurrent writer stages BEFORE it claims a version."""
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "v1")], SCHEMA))
    # simulate another writer's staged-but-not-yet-committed snapshot
    inner = st._store
    inflight = inner._stage(
        [inner._tagged("rows", spark.createDataFrame([("b", 1, "bv")], SCHEMA))], 1
    )
    st.vacuum(keep=1)  # default grace: the young dir must survive
    snaps = os.path.join(st.path, "_snapshots")
    assert inflight in os.listdir(snaps)
    st.vacuum(keep=1, grace_seconds=0.0)  # explicit zero grace reclaims it
    assert inflight not in os.listdir(snaps)
    assert st.read().collect()[0]["v"] == "v1"  # committed data untouched


def test_claim_layout_meta_first_creator_wins(tmp_path, monkeypatch):
    """The layout-pinning claim returns the PERSISTED meta: the
    caller's own on creation, the winner's on a later open AND on a
    lost creation race; no tmp file survives either way."""
    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    p = str(tmp_path / "_meta.json")
    assert claim_layout_meta(p, {"n": 1}) == {"n": 1}
    assert claim_layout_meta(p, {"n": 2}) == {"n": 1}
    # lost race: the file appears between the existence check and the link
    monkeypatch.setattr(st_mod.os.path, "exists", lambda _p: False)
    assert claim_layout_meta(p, {"n": 3}) == {"n": 1}
    monkeypatch.undo()
    assert os.listdir(tmp_path) == ["_meta.json"]


def test_old_single_relation_layout_refuses_to_open(spark, tmp_path):
    """A store written by the earlier single-relation bucketed layout
    pins ``{"n_buckets": N}`` without relations; opening it must say so
    and ask for a rebuild, not fail with a KeyError."""
    path = tmp_path / "old"
    (path / "_commits").mkdir(parents=True)
    (path / "_meta.json").write_text(json.dumps({"n_buckets": 16}))
    (path / "_commits" / "1").write_text(
        json.dumps({"manifest": {"3": "0123abcd"}})
    )
    with pytest.raises(ValueError, match="old single-relation.*rebuild"):
        BucketedTransactionalStore(spark, str(path), ["k"], ["seq"])


# --- BucketedTransactionalStore: partial rewrites ---------------------------------


def _bstore(spark, tmp_path, name="b", n_buckets=8):
    return _store(spark, tmp_path, name, n_buckets=n_buckets)


def _bucket_dirs(st, version):
    """{bucket: [snapshot dir, ...]} of the facade's one relation."""
    return st._store._manifest(version)["rows"]


def test_bucketed_merge_matches_full_store_semantics(spark, tmp_path):
    # one bucket = every merge rewrites the whole table
    full = _store(spark, tmp_path, "full", n_buckets=1)
    bkt = _bstore(spark, tmp_path)
    batches = [
        [("a", 1, "a1"), ("b", 1, "b1"), ("c", 1, "c1")],
        [("a", 2, "a2"), ("d", 1, "d1")],
        [("a", 1, "stale"), ("b", 3, "b3")],  # stale seq must lose
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, SCHEMA)
        full.merge(df)
        bkt.merge(df)
    as_map = lambda st: {(r["k"], ): (r["seq"], r["v"]) for r in st.read().collect()}
    assert as_map(bkt) == as_map(full)


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    rows = [(f"k{i}", 1, f"v{i}") for i in range(40)]  # spread over buckets
    bkt.merge(spark.createDataFrame(rows, SCHEMA))
    m1 = _bucket_dirs(bkt, bkt.current_version())
    # single-key update: only that key's bucket may change snapshot dirs
    bkt.merge(spark.createDataFrame([("k0", 2, "v0x")], SCHEMA))
    m2 = _bucket_dirs(bkt, bkt.current_version())
    changed = {b for b in m2 if m1.get(b) != m2[b]}
    assert len(changed) == 1  # exactly the touched bucket
    untouched = set(m1) - changed
    assert untouched and all(m1[b] == m2[b] for b in untouched)  # inherited by pointer
    # and the data is correct
    got = {r["k"]: (r["seq"], r["v"]) for r in bkt.read().collect()}
    assert got["k0"] == (2, "v0x") and got["k1"] == (1, "v1") and len(got) == 40


def test_bucketed_concurrent_writers_no_lost_update(spark, tmp_path):
    path = str(tmp_path / "bc")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)
    a.merge(spark.createDataFrame([("seed", 1, "s")], SCHEMA))
    errs = []

    def writer(i):
        try:
            st = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)
            st.merge(spark.createDataFrame([(f"k{i}", 1, f"v{i}")], SCHEMA))
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    keys = {r["k"] for r in a.read().collect()}
    assert keys == {"seed", "k0", "k1", "k2", "k3"}


def test_bucketed_vacuum_keeps_shared_dirs(spark, tmp_path):
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(40)], SCHEMA))
    (first_name,) = {s for names in _bucket_dirs(bkt, 1).values() for s in names}
    bkt.merge(spark.createDataFrame([("k0", 2, "x")], SCHEMA))  # partial rewrite v2
    bkt.vacuum(keep=1, grace_seconds=0.0)
    # v2's manifest still points most buckets at v1's dir: it must survive
    snaps = os.listdir(os.path.join(bkt.path, "_snapshots"))
    assert first_name in snaps
    got = {r["k"] for r in bkt.read().collect()}
    assert len(got) == 40  # all data readable after vacuum
    with pytest.raises(ValueError, match="keep"):
        bkt.vacuum(keep=0)  # destructive retention refused (same as flat store)


def test_bucketed_n_buckets_pinned_in_meta(spark, tmp_path):
    path = str(tmp_path / "meta")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=8)
    a.merge(spark.createDataFrame([("x", 1, "v")], SCHEMA))
    # a second opener inherits the persisted bucketing
    b = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert b.n_buckets == 8
    # an explicit mismatch is an error, not silent corruption
    with pytest.raises(ValueError):
        BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)


def test_bucketed_preserves_user_bucket_column(spark, tmp_path):
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "ub"), ["k"], ["seq"], n_buckets=4
    )
    st.merge(
        spark.createDataFrame(
            [("a", 1, "va", "user-bucket-1")], "k string, seq int, v string, bucket string"
        )
    )
    row = st.read().collect()[0]
    assert row["bucket"] == "user-bucket-1"  # data column survives the write


def test_bucketed_deletion_fold_empties_bucket_cleanly(spark, tmp_path):
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "del"), ["k"], ["seq"], n_buckets=4
    )
    st.merge(spark.createDataFrame([("a", 1, "va"), ("b", 1, "vb")], SCHEMA))

    def delete_key(current, upd):
        # key-local deletion: drop the update's keys from the bucket
        return current.join(upd.select("k"), "k", "left_anti")

    st.apply_keyed(spark.createDataFrame([("a", 2, "ignored")], SCHEMA), delete_key)
    remaining = {r["k"] for r in st.read().collect()} if st.read() is not None else set()
    assert "a" not in remaining  # deleted; store stays readable


def test_warehouse_loader_stand_in_upsert(spark, tmp_path):
    """K6 loader against the parquet (transactional store) stand-in:
    in-batch LWW dedup, cross-batch keyed merge."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    ld = WarehouseBatchLoader(
        spark, str(tmp_path / "wh"), ["k"], ["seq"], fmt="parquet"
    )
    # batch 1 carries two versions of key 'a' -> seq 2 wins in-batch
    ld.load_batch(spark.createDataFrame([("a", 1, "v1"), ("a", 2, "v2")], SCHEMA))
    got = {r["k"]: r["v"] for r in ld.read().collect()}
    assert got == {"a": "v2"}
    # batch 2 updates 'a' and inserts 'b'
    ld.load_batch(spark.createDataFrame([("a", 3, "v3"), ("b", 1, "b1")], SCHEMA))
    got = {r["k"]: (r["seq"], r["v"]) for r in ld.read().collect()}
    assert got == {"a": (3, "v3"), "b": (1, "b1")}
    # the store formats are one: the removed backend names are refused
    with pytest.raises(ValueError, match="parquet_txn"):
        WarehouseBatchLoader(spark, str(tmp_path / "wh2"), ["k"], ["seq"], fmt="parquet_txn")


def test_warehouse_loader_snowflake_is_connector_lazy(spark, tmp_path):
    """fmt='snowflake' must not fail at construction (connector-lazy);
    the write itself raises the helpful classpath error in this rig."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    ld = WarehouseBatchLoader(
        spark, "EVENTS", ["k"], ["seq"], fmt="snowflake",
        connector_options={"sfURL": "example.snowflakecomputing.com"},
    )
    with pytest.raises(RuntimeError, match="spark-snowflake"):
        ld.load_batch(spark.createDataFrame([("a", 1, "v1")], SCHEMA))


def test_bucketed_read_keys_prunes_to_one_bucket(spark, tmp_path):
    """A point lookup must scan only the single bucket its key hashes
    to — pinned by inspecting the result's input files."""
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(
        spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(64)], SCHEMA)
    )
    all_files = bkt.read().inputFiles()
    buckets_total = {f.split("__bucket=")[1].split("/")[0] for f in all_files}
    assert len(buckets_total) > 1  # 64 keys spread over several buckets

    got = bkt.read_keys(spark.createDataFrame([("k7",)], "k string"))
    rows = got.collect()
    assert [(r["k"], r["v"]) for r in rows] == [("k7", "v7")]
    touched = {f.split("__bucket=")[1].split("/")[0] for f in got.inputFiles()}
    assert len(touched) == 1  # exactly one bucket's files scanned


def test_bucketed_read_keys_multi_and_missing(spark, tmp_path):
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(
        spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(32)], SCHEMA)
    )
    # multi-key set: all requested keys come back, nothing else
    got = bkt.read_keys(
        spark.createDataFrame([("k1",), ("k2",), ("k30",)], "k string")
    )
    assert {r["k"] for r in got.collect()} == {"k1", "k2", "k30"}
    # a key that was never written: its bucket may exist, result is empty
    got = bkt.read_keys(spark.createDataFrame([("nope",)], "k string"))
    assert got is None or got.count() == 0
    # empty store -> None
    empty = _bstore(spark, tmp_path, name="e", n_buckets=8)
    assert empty.read_keys(spark.createDataFrame([("k1",)], "k string")) is None


def test_apply_epoch_is_idempotent(spark, tmp_path):
    """A non-idempotent fold (sum-merge) replayed with the same epoch
    must be a no-op — the Delta txn-appId idea on the OCC marker."""
    st = _store(spark, tmp_path, "epoch")
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    st.apply_keyed(upd, _sum_fold, epoch=7)
    st.apply_keyed(upd, _sum_fold, epoch=7)  # replay: skipped
    assert st.read().collect()[0]["seq"] == 1
    st.apply_keyed(upd, _sum_fold, epoch=8)  # new epoch: merges
    assert st.read().collect()[0]["seq"] == 2
    assert st.current_version() == 2


def test_bucketed_apply_keyed_epoch_is_idempotent(spark, tmp_path):
    st = _store(spark, tmp_path, "bepoch", n_buckets=4)
    upd = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], SCHEMA)
    st.apply_keyed(upd, _sum_fold, epoch="b0")
    st.apply_keyed(upd, _sum_fold, epoch="b0")  # replay: skipped
    got = {r["k"]: r["seq"] for r in st.read().collect()}
    assert got == {"a": 1, "b": 2}
    st.apply_keyed(upd, _sum_fold, epoch="b1")
    got = {r["k"]: r["seq"] for r in st.read().collect()}
    assert got == {"a": 2, "b": 4}


# --- MultiRelationTransactionalStore: one commit, N relations ----------------------


def _multi(spark, tmp_path, name="m", n_buckets=4):
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    return MultiRelationTransactionalStore(
        spark,
        str(tmp_path / name),
        relations={"bands": ["bkey"], "profiles": ["doc_id"]},
        n_buckets=n_buckets,
    )


def _mr_append(rel, current, upd):
    if current is None:
        return upd
    return current.select(*upd.columns).unionByName(upd)


def test_multi_relation_commit_is_atomic_and_single_version(spark, tmp_path):
    st = _multi(spark, tmp_path)
    bands = spark.createDataFrame([(11, 1), (22, 2)], "bkey long, doc_id long")
    profs = spark.createDataFrame(
        [(1, [7, 8]), (2, [9])], "doc_id long, sh_set array<long>"
    )
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append)
    # ONE version covers both relations
    assert st.current_version() == 1
    assert {r["bkey"] for r in st.read("bands").collect()} == {11, 22}
    assert {r["doc_id"] for r in st.read("profiles").collect()} == {1, 2}
    # second batch: still one version per commit, appends fold per rel
    st.apply_keyed(
        {
            "bands": spark.createDataFrame([(33, 3)], "bkey long, doc_id long"),
            "profiles": spark.createDataFrame(
                [(3, [1])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    assert st.current_version() == 2
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3


def test_multi_relation_read_keys_prunes_buckets(spark, tmp_path):
    st = _multi(spark, tmp_path, n_buckets=16)
    bands = spark.createDataFrame(
        [(i, i) for i in range(200)], "bkey long, doc_id long"
    )
    profs = spark.createDataFrame(
        [(i, [i]) for i in range(200)], "doc_id long, sh_set array<long>"
    )
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append)
    got = st.read_keys(
        "bands", spark.createDataFrame([(5,)], "bkey long")
    )
    assert [r["doc_id"] for r in got.collect()] == [5]
    # the pruned read touches one bucket dir of the bands relation only
    files = got.inputFiles()
    assert files and all("__rel=bands" in f for f in files)
    assert len({f.split("__bucket=")[1].split("/")[0] for f in files}) == 1
    # missing key -> None or empty
    missing = st.read_keys(
        "profiles", spark.createDataFrame([(10**9,)], "doc_id long")
    )
    assert missing is None or missing.count() == 0


def test_multi_relation_epoch_and_requires_all_relations(spark, tmp_path):
    st = _multi(spark, tmp_path)
    bands = spark.createDataFrame([(1, 1)], "bkey long, doc_id long")
    profs = spark.createDataFrame([(1, [1])], "doc_id long, sh_set array<long>")
    with pytest.raises(ValueError, match="every relation"):
        st.apply_keyed({"bands": bands}, _mr_append)
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append, epoch=4)
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append, epoch=4)
    assert st.read("bands").count() == 1  # replay skipped
    assert st.current_version() == 1


def test_multi_relation_write_snapshot_and_vacuum(spark, tmp_path):
    import os

    st = _multi(spark, tmp_path)
    for i in range(3):
        st.apply_keyed(
            {
                "bands": spark.createDataFrame(
                    [(i, i)], "bkey long, doc_id long"
                ),
                "profiles": spark.createDataFrame(
                    [(i, [i])], "doc_id long, sh_set array<long>"
                ),
            },
            _mr_append,
        )
    st.write_snapshot(
        {
            "bands": st.read("bands").select("bkey", "doc_id").distinct(),
            "profiles": st.read("profiles").select("doc_id", "sh_set").distinct(),
        }
    )
    assert st.read("bands").count() == 3
    st.vacuum(keep=1, grace_seconds=0.0)
    # old versions gone, latest intact
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3
    commits = os.listdir(os.path.join(str(tmp_path / "m"), "_commits"))
    assert [f for f in commits if f.isdigit()] == ["4"]


def test_multi_relation_meta_pins_layout(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    _multi(spark, tmp_path, n_buckets=4)
    # same relations, inherited buckets: OK
    st2 = MultiRelationTransactionalStore(
        spark, str(tmp_path / "m"),
        relations={"bands": ["bkey"], "profiles": ["doc_id"]},
    )
    assert st2.n_buckets == 4
    with pytest.raises(ValueError, match="n_buckets"):
        MultiRelationTransactionalStore(
            spark, str(tmp_path / "m"),
            relations={"bands": ["bkey"], "profiles": ["doc_id"]},
            n_buckets=8,
        )
    with pytest.raises(ValueError, match="relations"):
        MultiRelationTransactionalStore(
            spark, str(tmp_path / "m"), relations={"bands": ["bkey"]}
        )


def test_multi_relation_version_pinned_reads(spark, tmp_path):
    """Round 14: read/read_keys accept an AS-OF committed version so a
    multi-read consumer (the postings serve) sees ONE snapshot even
    when commits land mid-sequence."""
    st = _multi(spark, tmp_path)
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(11, 1)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(1, [1])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    v1 = st.current_version()
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(22, 2)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(2, [2])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    assert st.read("bands").count() == 2
    assert {r["bkey"] for r in st.read("bands", version=v1).collect()} == {11}
    # a key that did not exist at the pinned version is invisible there
    late = st.read_keys(
        "bands", spark.createDataFrame([(22,)], "bkey long"), version=v1
    )
    assert late is None or late.count() == 0
    assert (
        st.read_keys(
            "bands", spark.createDataFrame([(11,)], "bkey long"), version=v1
        ).count()
        == 1
    )


def test_multi_relation_all_buckets_require_version(spark, tmp_path):
    """Round 14 (ADVICE r13): a fold pinned to require_version must
    ABORT with StoreVersionConflict when the store moved past the pin
    (its closure derives from that version's snapshot — the built-in
    retry cannot re-derive it), and commit normally on the right pin."""
    from iheardai_data_pipeline_spark.streaming.stores import (
        StoreVersionConflict,
    )

    st = _multi(spark, tmp_path)
    batch = {
        "bands": spark.createDataFrame([(11, 1)], "bkey long, doc_id long"),
        "profiles": spark.createDataFrame(
            [(1, [1])], "doc_id long, sh_set array<long>"
        ),
    }
    st.apply_keyed(batch, _mr_append)
    pinned = st.current_version()
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(22, 2)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(2, [2])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    with pytest.raises(StoreVersionConflict, match="pinned"):
        st.apply_keyed_all_buckets(
            lambda rel, cur, upd: cur, require_version=pinned
        )
    # no phantom commit from the aborted attempt
    assert st.current_version() == pinned + 1
    st.apply_keyed_all_buckets(
        lambda rel, cur, upd: cur, require_version=st.current_version()
    )
    assert st.read("bands").count() == 2


def test_multi_relation_concurrent_appends_no_lost_update(spark, tmp_path):
    """Two writers append_keyed to the SAME store concurrently: the OCC
    retry must merge both manifests — every appended row survives and
    versions are strictly sequential."""
    st = _multi(spark, tmp_path)
    errs = []

    def write(i):
        try:
            from iheardai_data_pipeline_spark.streaming.stores import (
                MultiRelationTransactionalStore,
            )

            other = MultiRelationTransactionalStore(
                spark, str(tmp_path / "m"),
                relations={"bands": ["bkey"], "profiles": ["doc_id"]},
            )
            other.append_keyed(
                {
                    "bands": spark.createDataFrame(
                        [(i, i)], "bkey long, doc_id long"
                    ),
                    "profiles": spark.createDataFrame(
                        [(i, [i])], "doc_id long, sh_set array<long>"
                    ),
                }
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert {r["bkey"] for r in st.read("bands").collect()} == {0, 1, 2, 3}
    assert {r["doc_id"] for r in st.read("profiles").collect()} == {0, 1, 2, 3}
    assert st.current_version() == 4


def test_multi_relation_append_then_fold_then_compact(spark, tmp_path):
    """Appends accumulate dir-list entries; a fold (apply_keyed)
    collapses the touched buckets' lists; compact collapses everything."""
    st = _multi(spark, tmp_path, n_buckets=2)
    for i in range(3):
        st.append_keyed(
            {
                "bands": spark.createDataFrame(
                    [(i, i)], "bkey long, doc_id long"
                ),
                "profiles": spark.createDataFrame(
                    [(i, [i])], "doc_id long, sh_set array<long>"
                ),
            }
        )
    manifest = st._manifest(st.current_version())
    assert any(len(v) > 1 for v in manifest["bands"].values())
    st.compact()
    manifest = st._manifest(st.current_version())
    for rel in ("bands", "profiles"):
        assert all(len(v) == 1 for v in manifest[rel].values())
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3


def test_vacuum_preserves_epoch_idempotence(spark, tmp_path):
    """Replay of an epoch whose commit marker vacuum has PRUNED must
    still no-op: vacuum retires pruned markers' epochs into the durable
    _epochs/ sidecar, so retention never shrinks the idempotence window
    (a sum-fold like t15/t17 would double-count otherwise)."""
    st = _store(spark, tmp_path, "vep")
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    for ep in (1, 2, 3, 4):
        st.apply_keyed(upd, _sum_fold, epoch=ep)
    assert st.read().collect()[0]["seq"] == 4
    st.vacuum(keep=1, grace_seconds=0.0)  # prunes markers for epochs 1-3
    st.apply_keyed(upd, _sum_fold, epoch=1)  # replay of a pruned epoch: must still skip
    assert st.read().collect()[0]["seq"] == 4
    st.apply_keyed(upd, _sum_fold, epoch=5)  # a genuinely new epoch still merges
    assert st.read().collect()[0]["seq"] == 5
    # retire survives a second vacuum (epochs re-fold transitively)
    st.vacuum(keep=1, grace_seconds=0.0)
    st.apply_keyed(upd, _sum_fold, epoch=2)
    assert st.read().collect()[0]["seq"] == 5


def test_multi_relation_vacuum_preserves_epochs(spark, tmp_path):
    """Same contract on the multi-relation store's append path."""
    st = _multi(spark, tmp_path, "mvep")
    bands = spark.createDataFrame([(1, "b1")], "doc_id long, bkey string")
    profs = spark.createDataFrame([(1, "p")], "doc_id long, text string")
    upd = {"bands": bands.select("bkey", "doc_id"), "profiles": profs}
    for ep in ("e1", "e2", "e3"):
        st.append_keyed(upd, epoch=ep)
    assert st.read("profiles").count() == 3
    st.vacuum(keep=1, grace_seconds=0.0)
    st.append_keyed(upd, epoch="e1")  # pruned-marker epoch: no-op
    assert st.read("profiles").count() == 3
    st.append_keyed(upd, epoch="e4")
    assert st.read("profiles").count() == 4


def test_retired_epochs_fold_to_one_record_and_survive_cold_cache(
    spark, tmp_path
):
    """One vacuum pass folds ALL its pruned epochs into ONE sidecar
    record (file count grows with vacuums, not epochs), and a cold
    process (fresh _RETIRED_EPOCH_CACHE) still reads the full set —
    the cache is an optimization, never the source of truth."""
    import os as _os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    st = _store(spark, tmp_path, "fold")
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    for ep in range(1, 7):
        st.apply_keyed(upd, _sum_fold, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-5 together
    epochs_dir = _os.path.join(st._store._commits_dir(), "_epochs")
    records = [f for f in _os.listdir(epochs_dir) if not f.startswith(".")]
    assert len(records) == 1  # folded, not one file per epoch
    # simulate a fresh process: drop the in-process cache entirely
    st_mod._RETIRED_EPOCH_CACHE.clear()
    for ep in range(1, 6):
        st.apply_keyed(upd, _sum_fold, epoch=ep)  # every retired epoch must still no-op
    assert st.read().collect()[0]["seq"] == 6


def test_retired_epochs_read_without_generation_marker(
    spark, tmp_path, monkeypatch
):
    """When the generation uuid can't be read OR minted (pre-existing
    store on a read-only mount, FS without hard links, EPERM), the
    retired-epoch CACHE is unavailable — but the sidecar must still be
    read uncached, or a replayed epoch older than vacuum retention
    would double-commit (ADVICE r10 stores.py:167: a None generation is
    'always correct, just slower', and that claim must be true)."""
    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    st = _store(spark, tmp_path, "nogen")
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    for ep in (1, 2, 3, 4):
        st.apply_keyed(upd, _sum_fold, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-3
    # simulate generation unavailability AND a cold process
    monkeypatch.setattr(st_mod, "_epochs_generation", lambda d: None)
    st_mod._RETIRED_EPOCH_CACHE.clear()
    for ep in (1, 2, 3):
        st.apply_keyed(upd, _sum_fold, epoch=ep)  # retired epochs must STILL no-op
    assert st.read().collect()[0]["seq"] == 4
    st.apply_keyed(upd, _sum_fold, epoch=5)  # a genuinely new epoch still merges
    assert st.read().collect()[0]["seq"] == 5


def test_recreated_store_does_not_inherit_retired_epochs(spark, tmp_path):
    """Deleting a store and recreating one at the SAME path must start
    with a clean epoch history: the retired-epoch cache is keyed by the
    _epochs directory's identity (dev+inode), not its path, so the
    fresh store can't treat the dead store's retired epochs as
    committed and silently skip epoch-guarded writes (r8 advice)."""
    import shutil

    path = str(tmp_path / "reborn")
    st = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=1)
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    for ep in (1, 2, 3):
        st.apply_keyed(upd, _sum_fold, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-2
    st.apply_keyed(upd, _sum_fold, epoch=1)  # no-op; warms the per-process retired cache
    assert st.read().collect()[0]["seq"] == 3
    shutil.rmtree(path)
    st2 = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=1)
    st2.apply_keyed(upd, _sum_fold, epoch=1)  # fresh history: must COMMIT, not skip
    assert st2.read().collect()[0]["seq"] == 1


def test_epochs_cache_key_survives_inode_recycling(tmp_path, monkeypatch):
    """ext4/xfs readily hand a recreated directory the inode its
    just-deleted predecessor freed — so (path, dev, inode) alone can
    collide across a delete+recreate and the reborn store would inherit
    the dead store's retired epochs (ADVICE r9 stores.py:89). The
    write-once generation uuid breaks the tie: simulate the recycling
    by stat-spoofing the recreated dir with the dead dir's exact stat
    result and assert the cache keys still differ."""
    import os as _os
    import shutil as _shutil

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    d = str(tmp_path / "_epochs")
    _os.makedirs(d)
    k1 = st_mod._epochs_cache_key(d)
    assert k1 is not None
    dead_stat = _os.stat(d)
    _shutil.rmtree(d)
    _os.makedirs(d)
    real_stat = _os.stat
    monkeypatch.setattr(
        st_mod.os,
        "stat",
        lambda p, *a, **kw: dead_stat if p == d else real_stat(p, *a, **kw),
    )
    k2 = st_mod._epochs_cache_key(d)
    assert k2 is not None
    assert k2[:3] == k1[:3]  # the spoof worked: identity triple collides
    assert k2 != k1  # ...and the generation uuid still separates them
    # same dir, same generation: the key is stable across calls
    assert st_mod._epochs_cache_key(d) == k2


def test_concurrent_streams_interleave_appends_exact_union(spark, tmp_path):
    """STREAM-level concurrent-writer proof (unit-level OCC races are
    covered above): two availableNow streaming queries run
    CONCURRENTLY, each foreachBatch apply_keyed()-appending its own
    disjoint batches to ONE single-bucket store. A deliberate sleep
    between each apply's read and its commit widens the lost-update
    window, so commits genuinely interleave and losers re-merge
    through the retry loop. The final state must be the EXACT union of
    every batch — a clobbered commit loses rows, a double commit
    duplicates them — and every (writer, batch) epoch must appear in
    exactly one commit marker."""
    import json as _json
    import os as _os
    import time as _time

    store = _store(spark, tmp_path, "ccw")
    srcs = []
    all_rows: list[tuple] = []
    for w in (1, 2):
        src = str(tmp_path / f"src{w}")
        _os.makedirs(src)
        for b in range(4):
            rows = [
                (f"w{w}-b{b}-r{i}", 10 * w + b, f"v{w}") for i in range(5)
            ]
            all_rows.extend(rows)
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
                _os.path.join(src, f"part{b}")
            )
        srcs.append(src)

    def make_sink(w):
        def sink(batch, batch_id):
            rows = batch.localCheckpoint(eager=True)

            def fn(current, upd):
                merged = upd if current is None else current.unionByName(upd)
                _time.sleep(0.05)  # widen the read->commit race window
                return merged

            store.apply_keyed(rows, fn, epoch=f"w{w}-{batch_id}")

        return sink

    queries = []
    for w, src in zip((1, 2), srcs):
        q = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .writeStream.foreachBatch(make_sink(w))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt{w}"))
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination()

    got = sorted(tuple(r) for r in store.read().collect())
    assert got == sorted(all_rows)
    # every epoch committed exactly once, 8 commits total
    commits_dir = store._store._commits_dir()
    epochs = []
    for f in _os.listdir(commits_dir):
        if f.isdigit():
            with open(_os.path.join(commits_dir, f)) as fh:
                e = _json.load(fh).get("epoch")
            if e is not None:
                epochs.append(e)
    assert sorted(epochs) == sorted(
        f"w{w}-{b}" for w in (1, 2) for b in range(4)
    )
    assert store.current_version() == 8
