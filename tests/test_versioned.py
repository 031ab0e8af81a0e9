"""Versioned parquet tables: atomic manifest commits, snapshot reads,
time travel, append vs replace, rollback-preserving history, vacuum,
and the optimistic-concurrency commit race."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import merge
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
    versioned as vt,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_write_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = vt.write_version(_df(spark, [(1, "a"), (2, "b")]), path)
    v2 = vt.write_version(_df(spark, [(1, "a2"), (3, "c")]), path)
    assert (v1, v2) == (1, 2)
    assert vt.table_versions(path) == [1, 2]
    # latest
    got = {r["k"]: r["v"] for r in vt.read_version(spark, path).collect()}
    assert got == {1: "a2", 3: "c"}
    # time travel
    got1 = {r["k"]: r["v"] for r in vt.read_version(spark, path, 1).collect()}
    assert got1 == {1: "a", 2: "b"}


def test_append_mode_unions_snapshots(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)
    vt.write_version(_df(spark, [(2, "b")]), path, mode="append")
    got = {r["k"]: r["v"] for r in vt.read_version(spark, path).collect()}
    assert got == {1: "a", 2: "b"}
    # v1 unchanged
    assert {r["k"] for r in vt.read_version(spark, path, 1).collect()} == {1}


def test_merge_then_rollback_preserves_history(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a"), (2, "b")]), path)
    merged = merge.merge_update(
        vt.read_version(spark, path), _df(spark, [(2, "B"), (3, "C")]), ["k"]
    )
    v2 = vt.write_version(merged, path)
    v3 = vt.rollback(path, 1)
    assert (v2, v3) == (2, 3)
    # latest == v1 content, but v2 still readable (history intact)
    assert {r["v"] for r in vt.read_version(spark, path).collect()} == {"a", "b"}
    assert {r["v"] for r in vt.read_version(spark, path, 2).collect()} == {
        "a", "B", "C",
    }


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)
    snapshot = vt.read_version(spark, path, 1)
    vt.write_version(_df(spark, [(9, "z")]), path)  # commit lands mid-"query"
    # the already-resolved snapshot still reads v1's files only
    assert {r["k"] for r in snapshot.collect()} == {1}


def test_commit_race_one_winner_per_version(spark, tmp_path):
    # Simulate the loser: pre-create the manifest the writer wants,
    # forcing the O_EXCL retry path to land on the next version.
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)
    os.makedirs(os.path.join(path, "_versions"), exist_ok=True)
    with open(os.path.join(path, "_versions", "00000002.json"), "w") as fh:
        fh.write('{"prefixes": [], "version": 2}')
    v = vt.write_version(_df(spark, [(2, "b")]), path)
    assert v == 3  # lost the race for 2, won 3
    assert vt.table_versions(path) == [1, 2, 3]


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        vt.write_version(_df(spark, [(i, f"v{i}")]), path)
    removed = vt.vacuum(path, keep_last=2)
    assert removed  # v1/v2 data gone
    assert vt.table_versions(path) == [3, 4]
    assert {r["v"] for r in vt.read_version(spark, path, 3).collect()} == {"v2"}
    assert {r["v"] for r in vt.read_version(spark, path, 4).collect()} == {"v3"}
    with pytest.raises(ValueError):
        vt.read_version(spark, path, 1)


def test_uncommitted_data_is_invisible(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)
    # a crashed writer left data but no manifest
    _df(spark, [(99, "junk")]).write.parquet(
        os.path.join(path, "data", "v9-deadbeef")
    )
    assert {r["k"] for r in vt.read_version(spark, path).collect()} == {1}
    assert vt.table_versions(path) == [1]


def test_versioned_merge_contract(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a"), (2, "b")]), path)
    v2 = merge.versioned_merge(
        spark, path, _df(spark, [(2, "B"), (3, "C")]), ["k"], update=True
    )
    assert v2 == 2
    got = {r["k"]: r["v"] for r in vt.read_version(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "C"}
    v3 = merge.versioned_merge(
        spark, path, _df(spark, [(3, "ignored"), (4, "D")]), ["k"], update=False
    )
    got = {r["k"]: r["v"] for r in vt.read_version(spark, path, v3).collect()}
    assert got == {1: "a", 2: "B", 3: "C", 4: "D"}
    # pre-merge snapshot still intact
    assert {r["v"] for r in vt.read_version(spark, path, 1).collect()} == {"a", "b"}


def test_schema_evolution_on_append(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)
    evolved = spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    )
    vt.write_version(evolved, path, mode="append")
    got = {
        r["k"]: (r["v"], r["score"])
        for r in vt.read_version(spark, path, merge_schema=True).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_streaming_versioned_merge_commits_per_batch(spark, tmp_path, sf_dir):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )

    table = str(tmp_path / "vt_stream")
    out = sp.run_streaming_versioned_merge(
        spark,
        f"{sf_dir}/events.parquet",
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_events
    versions = vt.table_versions(table)
    assert versions  # at least one committed version
    # re-running with a FRESH checkpoint replays everything; the merge
    # is idempotent on event_id, so the latest snapshot is unchanged.
    out2 = sp.run_streaming_versioned_merge(
        spark,
        f"{sf_dir}/events.parquet",
        table,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert out2.count() == n_events
    assert len(vt.table_versions(table)) > len(versions) - 1  # history grew


def test_append_race_does_not_lose_winners_prefixes(spark, tmp_path):
    """Lost-update guard: an appender that loses the commit race must
    rebuild its prefix list from the WINNER's manifest before retrying,
    or the winner's data silently vanishes from the lineage."""
    import json

    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)

    # Simulate a winner landing version 2 between our data write and
    # our commit: monkey-patch the first table_versions call inside
    # _publish is fragile; instead pre-commit the winner the way the
    # race interleaves — our appender computed its data prefix while
    # version 1 was latest, then the winner publishes 2.
    orig_write = vt._publish

    def racing_publish(p, manifest):
        # winner commits an append of its own just before we do
        if not getattr(racing_publish, "done", False):
            racing_publish.done = True
            win_prefix = "data/winner-prefix"
            _df(spark, [(7, "w")]).write.parquet(
                f"{p}/{win_prefix}"
            )
            base = vt.snapshot_prefixes(p)
            with open(f"{p}/_versions/00000002.json", "w") as fh:
                json.dump(
                    {"prefixes": base + [win_prefix], "version": 2}, fh
                )
        return orig_write(p, manifest)

    vt._publish, publish = racing_publish, vt._publish
    try:
        v = vt.write_version(_df(spark, [(2, "b")]), path, mode="append")
    finally:
        vt._publish = publish
    assert v == 3
    got = {r["k"]: r["v"] for r in vt.read_version(spark, path).collect()}
    # all three writers' rows survive: v1, the winner's, and ours
    assert got == {1: "a", 7: "w", 2: "b"}


def test_publish_crash_before_link_leaves_prior_version(
    spark, tmp_path, monkeypatch
):
    """A crash after the manifest's temp file is written but before it
    is linked into place must leave no visible version: the table reads
    at the prior version and the next append commits normally."""
    path = str(tmp_path / "t")
    vt.write_version(_df(spark, [(1, "a")]), path)

    def crash(src, dst):
        raise OSError("injected crash before link")

    monkeypatch.setattr(os, "link", crash)
    # a crashed process runs no cleanup: the temp manifest stays behind
    monkeypatch.setattr(os, "remove", lambda p: None)
    with pytest.raises(OSError, match="injected crash"):
        vt.write_version(_df(spark, [(2, "b")]), path, mode="append")
    monkeypatch.undo()

    assert any(
        n.endswith(".tmp") for n in os.listdir(os.path.join(path, "_versions"))
    )
    assert vt.table_versions(path) == [1]
    assert {r["k"] for r in vt.read_version(spark, path).collect()} == {1}
    assert vt.write_version(_df(spark, [(3, "c")]), path, mode="append") == 2
    assert {r["k"] for r in vt.read_version(spark, path).collect()} == {1, 3}


def test_delete_where_rewrites_only_affected_prefixes(spark, tmp_path):
    path = str(tmp_path / "t_del")
    a = spark.createDataFrame([(1, "a"), (2, "a")], ["k", "grp"])
    b = spark.createDataFrame([(3, "b"), (4, "b")], ["k", "grp"])
    vt.write_version(a, path, mode="append")
    vt.write_version(b, path, mode="append")
    before = vt.snapshot_prefixes(path)

    v, rewritten = vt.delete_where(spark, path, "k = 3")
    after = vt.snapshot_prefixes(path, v)
    # only the prefix holding k=3 was rewritten; the other is SHARED
    assert rewritten == 1
    assert before[0] in after
    assert before[1] not in after
    got = sorted(r.k for r in vt.read_version(spark, path).collect())
    assert got == [1, 2, 4]
    # history untouched: the pre-delete snapshot still reads fully
    pre = vt.read_version(spark, path, v - 1)
    assert sorted(r.k for r in pre.collect()) == [1, 2, 3, 4]


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE three-valued logic: predicate NULL -> row SURVIVES."""
    path = str(tmp_path / "t_del_null")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0)], ["k", "v"]
    )
    vt.write_version(df, path)
    vt.delete_where(spark, path, "v > 50.0")
    got = sorted(r.k for r in vt.read_version(spark, path).collect())
    assert got == [1, 2]  # k=2 (NULL predicate) survives


def test_delete_where_can_empty_a_prefix(spark, tmp_path):
    path = str(tmp_path / "t_del_all")
    vt.write_version(
        spark.createDataFrame([(1,), (2,)], ["k"]), path
    )
    v, rewritten = vt.delete_where(spark, path, "k >= 1")
    assert rewritten == 1
    # an all-deleted snapshot has NO prefixes — snapshot_prefixes is
    # the emptiness probe (read_version on zero paths raises in the
    # parquet reader, as it should: there is nothing to scan)
    assert vt.snapshot_prefixes(path, v) == []
    # history still holds the pre-delete rows
    assert vt.read_version(spark, path, v - 1).count() == 2


def test_compact_is_content_identical_and_reduces_files(spark, tmp_path):
    import glob

    path = str(tmp_path / "t_opt")
    # simulate small-commit debris: 5 append commits, many tiny files
    for i in range(5):
        vt.write_version(
            spark.range(i * 10, (i + 1) * 10).repartition(4), path,
            mode="append",
        )
    files_before = sum(
        len(glob.glob(f"{path}/{p}/*.parquet"))
        for p in vt.snapshot_prefixes(path)
    )
    v = vt.compact(spark, path)
    prefixes = vt.snapshot_prefixes(path, v)
    assert len(prefixes) == 1
    files_after = len(glob.glob(f"{path}/{prefixes[0]}/*.parquet"))
    assert files_after < files_before
    got = sorted(r.id for r in vt.read_version(spark, path).collect())
    assert got == list(range(50))
    # fragmented history still time-travels
    old = vt.read_version(spark, path, v - 1)
    assert old.count() == 50


def test_delete_where_aborts_on_concurrent_commit(spark, tmp_path):
    """Read-modify-write conflict: a commit landing between the delete's
    snapshot read and its publish must ABORT the delete (publishing
    would silently erase the concurrent writer's rows — lost update)."""
    import json
    import os

    path = str(tmp_path / "t_del_conflict")
    vt.write_version(spark.createDataFrame([(1,), (2,)], ["k"]), path)

    real_publish = vt._publish
    raced = {}

    def racing_publish(p, manifest):
        # simulate a concurrent appender winning a version first
        if not raced:
            raced["done"] = True
            v = (vt.table_versions(p) or [0])[-1] + 1
            os.makedirs(vt._manifest_dir(p), exist_ok=True)
            with open(vt._manifest_path(p, v), "w") as fh:
                json.dump({"prefixes": [], "version": v}, fh)
        return real_publish(p, manifest)

    vt._publish = racing_publish
    try:
        with pytest.raises(vt.ConcurrentWriteError):
            vt.delete_where(spark, path, "k = 1")
    finally:
        vt._publish = real_publish
    # nothing was clobbered: the racing commit is still the latest
    assert vt.snapshot_prefixes(path) == []
    # and the aborted rewrite left NO orphaned prefixes behind: every
    # data prefix on disk is referenced by some manifest (ADVICE r04 —
    # vacuum never reclaims unreferenced prefixes)
    referenced = set()
    for v in vt.table_versions(path):
        referenced.update(vt._read_manifest(path, v)["prefixes"])
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(path, "data"))
    }
    assert on_disk <= referenced


def test_compact_aborts_on_concurrent_commit(spark, tmp_path):
    import json
    import os

    path = str(tmp_path / "t_opt_conflict")
    vt.write_version(spark.createDataFrame([(1,), (2,)], ["k"]), path)

    real_publish = vt._publish
    raced = {}

    def racing_publish(p, manifest):
        if not raced:
            raced["done"] = True
            v = (vt.table_versions(p) or [0])[-1] + 1
            os.makedirs(vt._manifest_dir(p), exist_ok=True)
            with open(vt._manifest_path(p, v), "w") as fh:
                json.dump({"prefixes": [], "version": v}, fh)
        return real_publish(p, manifest)

    vt._publish = racing_publish
    try:
        with pytest.raises(vt.ConcurrentWriteError):
            vt.compact(spark, path)
    finally:
        vt._publish = real_publish
    # the aborted compaction's prefix was removed, not orphaned
    referenced = set()
    for v in vt.table_versions(path):
        referenced.update(vt._read_manifest(path, v)["prefixes"])
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(path, "data"))
    }
    assert on_disk <= referenced


def test_purge_where_erases_history(spark, tmp_path):
    """GDPR purge: predicate-TRUE rows vanish from EVERY version (time
    travel included), non-matching rows and version numbering survive
    exactly, and NULL-evaluating rows are kept (3VL, like DELETE)."""
    path = str(tmp_path / "t_purge")
    v1 = vt.write_version(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "k long, s string"),
        path,
    )
    v2 = vt.write_version(
        spark.createDataFrame([(4, "b")], "k long, s string"), path, mode="append"
    )
    v3 = vt.write_version(
        spark.createDataFrame([(5, "c"), (6, "b")], "k long, s string"), path
    )
    n_prefixes, n_manifests = vt.purge_where(spark, path, "s = 'b'")
    assert n_prefixes >= 2 and n_manifests >= 2
    # every version readable, purged rows gone everywhere
    assert sorted(r.k for r in vt.read_version(spark, path, v1).collect()) == [1, 3]
    assert sorted(r.k for r in vt.read_version(spark, path, v2).collect()) == [1, 3]
    assert sorted(r.k for r in vt.read_version(spark, path, v3).collect()) == [5]
    assert vt.table_versions(path) == [v1, v2, v3]
    # nothing orphaned: every on-disk prefix is manifest-referenced
    import os

    referenced = set()
    for v in vt.table_versions(path):
        referenced.update(vt._read_manifest(path, v)["prefixes"])
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(path, "data"))
    }
    assert on_disk == referenced


def test_purge_crash_recovery_via_vacuum(spark, tmp_path):
    """A purge that crashes after journaling (before removing the
    original prefixes) must be completable: vacuum replays the journal,
    the doomed prefixes disappear from disk, and every retained version
    reads the purged content (ADVICE r05)."""
    import os

    path = str(tmp_path / "t_purge_crash")
    v1 = vt.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path
    )
    v2 = vt.write_version(
        spark.createDataFrame([(3, "b"), (4, "c")], "k long, s string"),
        path,
        mode="append",
    )
    # simulate a crash at the final cleanup step: the journal and the
    # rewritten manifests exist, the original prefixes are still on disk
    real_remove = vt._remove_prefixes

    def crashing_remove(p, prefixes):
        raise RuntimeError("simulated crash before prefix removal")

    vt._remove_prefixes = crashing_remove
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="simulated crash"):
            vt.purge_where(spark, path, "s = 'b'")
    finally:
        vt._remove_prefixes = real_remove

    mdir = vt._manifest_dir(path)
    journals = [n for n in os.listdir(mdir) if n.startswith("purge-journal-")]
    assert journals, "crash must leave a journal behind"
    # doomed prefixes are orphaned on disk right now
    referenced = set()
    for v in vt.table_versions(path):
        referenced.update(vt._read_manifest(path, v)["prefixes"])
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(path, "data"))
    }
    assert on_disk - referenced, "simulated crash should orphan prefixes"

    removed = vt.vacuum(path, keep_last=10)
    assert removed or True  # vacuum returns expired prefixes only
    assert not [
        n for n in os.listdir(mdir) if n.startswith("purge-journal-")
    ]
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(path, "data"))
    }
    referenced = set()
    for v in vt.table_versions(path):
        referenced.update(vt._read_manifest(path, v)["prefixes"])
    assert on_disk == referenced, "no orphans after recovery"
    assert sorted(r.k for r in vt.read_version(spark, path, v1).collect()) == [1]
    assert sorted(r.k for r in vt.read_version(spark, path, v2).collect()) == [1, 4]


def test_purge_where_aborts_on_concurrent_commit(spark, tmp_path):
    """The optimistic guard: a commit landing mid-purge aborts it with
    no manifest rewritten and no staged prefix left behind."""
    import json
    import os

    path = str(tmp_path / "t_purge_race")
    vt.write_version(
        spark.createDataFrame([(1, "b"), (2, "a")], "k long, s string"), path
    )

    real_versions = vt.table_versions
    calls = {"n": 0}

    def racing_versions(p):
        out = real_versions(p)
        calls["n"] += 1
        # after the staging pass re-reads versions (2nd call), fake a
        # concurrent commit by bumping the manifest list
        if calls["n"] == 2:
            v = out[-1] + 1
            os.makedirs(vt._manifest_dir(p), exist_ok=True)
            with open(vt._manifest_path(p, v), "w") as fh:
                json.dump({"prefixes": [], "version": v}, fh)
            return real_versions(p)
        return out

    vt.table_versions = racing_versions
    try:
        with pytest.raises(vt.ConcurrentWriteError):
            vt.purge_where(spark, path, "s = 'b'")
    finally:
        vt.table_versions = real_versions
    # original rows intact in v1; no orphaned purge prefixes
    assert sorted(r.k for r in vt.read_version(spark, path, 1).collect()) == [1, 2]
    on_disk = os.listdir(os.path.join(path, "data"))
    assert not [d for d in on_disk if d.startswith("purge-")]


def test_change_feed_four_way_classification(spark, tmp_path):
    """insert / delete / update pre+post / unchanged-silent, plus a
    null-attribute flip counting as an update (null-safe compare)."""
    path = str(tmp_path / "t")
    vt.write_version(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "keep")], "k long, v string"
        ),
        path,
    )
    vt.write_version(
        spark.createDataFrame(
            # 1 updated, 2 deleted, 3 null->value update, 4 unchanged,
            # 5 inserted
            [(1, "a2"), (3, "now"), (4, "keep"), (5, "new")],
            "k long, v string",
        ),
        path,
    )
    rows = sorted(
        tuple(r)
        for r in vt.change_feed(spark, path, ["k"], 1, 2).collect()
    )
    assert rows == sorted(
        [
            ("update_preimage", 1, "a"),
            ("update_postimage", 1, "a2"),
            ("delete", 2, "b"),
            ("update_preimage", 3, None),
            ("update_postimage", 3, "now"),
            ("insert", 5, "new"),
        ]
    )


def test_change_feed_schema_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    vt.write_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    vt.write_version(
        spark.createDataFrame([(1, "a", 9)], "k long, v string, w long"),
        path,
    )
    with pytest.raises(ValueError, match="matching snapshot schemas"):
        vt.change_feed(spark, path, ["k"], 1, 2)


def test_change_feed_null_keyed_rows_tracked(spark, tmp_path):
    """Null-keyed rows match null-safely across versions (the same
    discipline merge's _key_cond documents) — an attribute flip on the
    NULL key must surface as an update, not vanish."""
    path = str(tmp_path / "t")
    vt.write_version(
        spark.createDataFrame([(None, "a"), (1, "x")], "k long, v string"),
        path,
    )
    vt.write_version(
        spark.createDataFrame([(None, "b"), (1, "x")], "k long, v string"),
        path,
    )
    rows = sorted(
        tuple(r)
        for r in vt.change_feed(spark, path, ["k"], 1, 2).collect()
    )
    assert rows == sorted(
        [("update_preimage", None, "a"), ("update_postimage", None, "b")]
    )


def test_remove_ids_commits_versioned_forget(spark, tmp_path):
    """remove_ids (VERDICT r11 item 1): id-set delete committed as a
    NEW version — prefix-granular (untouched prefixes carried by
    reference), time travel still serves the pre-forget snapshot,
    and rollback undoes the forget."""
    path = str(tmp_path / "store")
    vt.write_version(
        spark.range(0, 10).select(
            F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
        ),
        path,
        mode="append",
    )
    vt.write_version(
        spark.range(10, 20).select(
            F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
        ),
        path,
        mode="append",
    )
    pre_prefixes = set(vt.snapshot_prefixes(path, 2))
    ver, rewritten = vt.remove_ids(spark, path, [3, 4], "doc_id")
    assert (ver, rewritten) == (3, 1)  # only the first prefix matched
    post_prefixes = set(vt.snapshot_prefixes(path, 3))
    # the 10-19 prefix rides into the new snapshot BY REFERENCE
    assert len(pre_prefixes & post_prefixes) == 1
    got = sorted(
        r.doc_id for r in vt.read_version(spark, path).collect()
    )
    assert got == [0, 1, 2, 5, 6, 7, 8, 9] + list(range(10, 20))
    # time travel: pre-forget snapshot still serves the forgotten ids
    assert vt.read_version(spark, path, 2).count() == 20
    # DataFrame-shaped id input and no-match idempotence both commit
    ids_df = spark.createDataFrame([(3,), (99,)], "doc_id long")
    ver2, rewritten2 = vt.remove_ids(spark, path, ids_df, "doc_id")
    assert (ver2, rewritten2) == (4, 0)
    assert vt.read_version(spark, path).count() == 18


def test_remove_ids_string_keys(spark, tmp_path):
    """String-keyed stores forget by exact match (isin — no SQL
    literal escaping hazards on quoted values)."""
    path = str(tmp_path / "s")
    vt.write_version(
        spark.createDataFrame(
            [("a'b", 1), ("c", 2), ("d", 3)], "k string, v long"
        ),
        path,
    )
    vt.remove_ids(spark, path, ["a'b", "d"], "k")
    assert [r.k for r in vt.read_version(spark, path).collect()] == ["c"]
