"""Versioned parquet tables: atomic commits, snapshot isolation, time
travel, rollback — the minimal transactional layer the reference gets
from Snowflake (`CREATE OR REPLACE` + MERGE are atomic there) and we
otherwise lack on plain parquet (SURVEY.md §4.2 item 1; the staging-swap
writer in plans/pipeline.py is the unversioned special case).

Design (the Delta/Iceberg core idea, reduced to its load-bearing part):

- Data files are IMMUTABLE and append-only: every commit writes its
  rows under a fresh ``data/v{N}-{nonce}/`` prefix; nothing is ever
  rewritten or deleted in place.
- A commit IS the atomic creation of ``_versions/{N:08d}.json`` — a
  manifest listing the data prefixes that make up snapshot N. The
  manifest is written and fsynced under a temp name, then hard-linked
  into place (``os.link`` is atomic and fails on an existing target on
  POSIX local FS; on S3 the equivalent is a conditional PUT), so a
  manifest is never visible half-written, and two racing writers can
  NOT both publish version N: the loser's link fails and it retries at
  N+1 — optimistic concurrency, winner-decided by the filesystem, no
  lock server.
- Readers resolve a manifest FIRST, then scan exactly its prefixes:
  a concurrent commit cannot change a running query's input set —
  snapshot isolation for free, because manifests are immutable.
- Rollback is a NEW commit whose manifest repeats an old version's
  prefix list — history is preserved, never rewritten.

Scale shape: manifests are O(commits) metadata (they list prefixes,
not files — Spark's parquet reader lists the prefix contents), the
data path is untouched Spark parquet I/O, and no operation here ever
reads data to commit data. ``vacuum`` is the only deleter and keeps
every prefix referenced by a retained manifest.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_versions"
_MAX_COMMIT_RETRIES = 100


class ConcurrentWriteError(RuntimeError):
    """A read-modify-write commit (DELETE / OPTIMIZE) found a version
    committed after its base snapshot — publishing would silently drop
    the concurrent writer's changes (lost update), so the operation
    aborts instead. Retry against the new snapshot; the write-serializable
    posture Delta calls a conflict."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, _MANIFEST_DIR)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"{version:08d}.json")


def table_versions(path: str) -> list[int]:
    """Committed versions, ascending. Partially-written data prefixes
    without a manifest are invisible — they were never committed."""
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json"):
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _publish(path: str, manifest) -> int:
    """Atomically publish the next manifest; returns the version won.

    The payload is written and fsynced to a temp file first (its name
    does not end in ``.json``, so :func:`table_versions` never sees
    it), then hard-linked to the final name. ``os.link`` is atomic and
    fails if the target exists, so the link is both the commit point
    and the exclusive create: a reader sees either no manifest or a
    complete one, and a crash before the link leaves the table at its
    prior version.

    ``manifest`` is either a dict or a CALLABLE ``latest_version ->
    dict``: commits whose content depends on the current snapshot
    (append mode — its prefix list extends the latest manifest) must
    REBUILD their payload on every retry, otherwise a loser would
    publish a list missing the racing winner's prefix — the classic
    lost update. Replace-mode payloads are state-independent, so a
    plain dict is fine.
    """
    os.makedirs(_manifest_dir(path), exist_ok=True)
    for _ in range(_MAX_COMMIT_RETRIES):
        latest = (table_versions(path) or [0])[-1]
        version = latest + 1
        payload = dict(manifest(latest) if callable(manifest) else manifest)
        payload["version"] = version
        tmp = os.path.join(
            _manifest_dir(path), f".{version:08d}-{uuid.uuid4().hex[:12]}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, _manifest_path(path, version))
        except FileExistsError:
            continue  # lost the race for N — retry at N+1
        finally:
            os.remove(tmp)
        return version
    raise RuntimeError(f"could not win a commit after {_MAX_COMMIT_RETRIES} tries")


def write_version(df: DataFrame, path: str, mode: str = "replace") -> int:
    """Commit ``df`` as a new snapshot; returns the new version.

    ``mode='replace'``: the new snapshot is exactly ``df``.
    ``mode='append'``: the new snapshot is the previous one plus ``df``
    (manifest = old prefixes + the new prefix; no data rewritten).
    """
    if mode not in ("replace", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    nonce = uuid.uuid4().hex[:12]
    next_hint = (table_versions(path) or [0])[-1] + 1
    prefix = os.path.join("data", f"v{next_hint}-{nonce}")
    df.write.mode("errorifexists").parquet(os.path.join(path, prefix))
    if mode == "replace":
        return _publish(path, {"prefixes": [prefix], "mode": mode})

    # Append extends the LATEST manifest, so its prefix list must be
    # rebuilt per commit attempt (see _publish): a racing appender that
    # lost version N re-reads the winner's manifest before taking N+1,
    # so no committed prefix is ever dropped.
    def build(latest: int) -> dict:
        prefixes = (
            _read_manifest(path, latest)["prefixes"] if latest else []
        ) + [prefix]
        return {"prefixes": prefixes, "mode": mode}

    return _publish(path, build)


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read: latest version by default, or time-travel to any
    committed version. The manifest resolves before the scan plans, so
    concurrent commits never change this query's inputs.

    ``merge_schema=True`` unions the schemas of a snapshot whose
    appended prefixes evolved (new columns land as NULL in older
    prefixes) — schema evolution without rewriting history, at the
    cost of a footer read per prefix.
    """
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    m = _read_manifest(path, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(path, p) for p in m["prefixes"]])


def read_latest_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Latest snapshot, or an empty frame of ``schema`` when ``path``
    has no committed version yet — the first commit to a store or
    decisions table then reads (and merges into) an empty target
    instead of branching on whether the table exists."""
    if table_versions(path):
        return read_version(spark, path)
    return spark.createDataFrame([], schema)


def snapshot_prefixes(path: str, version: int | None = None) -> list[str]:
    """Data prefixes (relative) making up a snapshot — the public
    manifest accessor for tooling/catalog layers."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    v = versions[-1] if version is None else version
    return list(_read_manifest(path, v)["prefixes"])


def rollback(path: str, to_version: int) -> int:
    """Commit a NEW version whose content is ``to_version``'s — history
    stays intact (audits read every version ever committed)."""
    m = _read_manifest(path, to_version)
    return _publish(
        path, {"prefixes": m["prefixes"], "rollback_of": to_version}
    )


def _remove_prefixes(path: str, prefixes: list[str]) -> None:
    """Best-effort removal of data prefixes written for a commit that
    aborted: nothing references them (the conflict check fires before
    the manifest is published) and ``vacuum`` only reclaims prefixes of
    EXPIRED manifests, so without this they would be orphaned forever
    (ADVICE r04)."""
    import shutil  # noqa: PLC0415

    for p in prefixes:
        shutil.rmtree(os.path.join(path, p), ignore_errors=True)


def delete_where(
    spark: SparkSession, path: str, predicate: str
) -> tuple[int, int]:
    """Row-level DELETE, copy-on-write at PREFIX granularity (the Delta
    file-pruned DELETE shape): prefixes containing no matching row are
    carried into the new snapshot BY REFERENCE — only prefixes that
    actually hold doomed rows are rewritten (minus those rows). Returns
    (new_version, n_prefixes_rewritten).

    SQL DELETE semantics: a row is deleted iff the predicate is TRUE —
    rows where it evaluates NULL survive (``~pred`` alone would eat
    them, the classic three-valued-logic bug).

    Scale shape: one cheap existence probe per prefix (filter + LIMIT 1,
    predicate pushed into the parquet scan so footer stats short-
    circuit most prefixes), then one rewrite scan per AFFECTED prefix.
    A delete touching 1% of prefixes rewrites 1% of the table; history
    (old manifests) still sees every original prefix untouched.
    """
    doomed = F.coalesce(F.expr(predicate), F.lit(False))
    return _delete_matching(
        spark, path, doomed, {"mode": "delete", "predicate": predicate}
    )


def remove_ids(
    spark: SparkSession,
    path: str,
    ids,
    key_col: str,
) -> tuple[int, int]:
    """Id-set DELETE committed as a NEW VERSION — the store-hygiene
    half of right-to-be-forgotten (VERDICT r11 item 1): when
    :func:`purge_where` erases documents from a primary table, their
    derived rows in the incremental dedup / ANN stores (MinHash
    signatures, image/audio/video fingerprints, IVF-PQ codes +
    vectors) must also go, or a purged document's signature keeps
    suppressing its recrawl as a "duplicate of" content that no
    longer exists and a deleted vector keeps answering ANN queries.

    Unlike :func:`purge_where` this deliberately does NOT rewrite
    history: stores hold derived fingerprints/codes (not the erased
    content), and a versioned commit keeps the store auditable — time
    travel still shows pre-forget states, and rollback undoes an
    over-eager forget. Same prefix-granular copy-on-write shape as
    :func:`delete_where`: only prefixes actually holding a doomed id
    are rewritten (``isin`` pushes to the parquet scan, so footer
    stats short-circuit untouched prefixes).

    ``ids`` is a Python sequence or a 1-column DataFrame; forget
    requests are request-sized (human-initiated erasure lists), never
    data-sized, so materializing them into an IN-list literal is the
    bounded control-plane collect — NOT a data-plane collect. Returns
    (new_version, n_prefixes_rewritten); a no-match forget still
    commits (idempotent replay-safe no-op version).
    """
    if isinstance(ids, DataFrame):
        ids = [r[0] for r in ids.select(key_col).distinct().collect()]
    ids = sorted(set(ids))
    doomed = F.col(key_col).isin(ids) if ids else F.lit(False)
    return _delete_matching(
        spark,
        path,
        doomed,
        {"mode": "forget", "key": key_col, "n_ids": len(ids)},
    )


def _delete_matching(
    spark: SparkSession, path: str, doomed, manifest_meta: dict
) -> tuple[int, int]:
    """Shared prefix-granular copy-on-write row removal behind
    :func:`delete_where` (SQL predicate) and :func:`remove_ids`
    (id-set forget): probe each snapshot prefix for matches, rewrite
    only the affected ones, publish a manifest that carries untouched
    prefixes by reference."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    latest = versions[-1]
    nonce = uuid.uuid4().hex[:12]
    kept_prefixes: list[str] = []
    fresh_prefixes: list[str] = []
    rewritten = 0
    for i, p in enumerate(snapshot_prefixes(path, latest)):
        pdf = spark.read.parquet(os.path.join(path, p))
        if pdf.filter(doomed).limit(1).count() == 0:
            kept_prefixes.append(p)  # untouched — shared with history
            continue
        survivors = pdf.filter(~doomed)
        new_p = os.path.join("data", f"v{latest + 1}-{nonce}-del{i}")
        if survivors.limit(1).count() > 0:
            survivors.write.mode("errorifexists").parquet(
                os.path.join(path, new_p)
            )
            kept_prefixes.append(new_p)
            fresh_prefixes.append(new_p)
        rewritten += 1

    def build(current_latest: int) -> dict:
        # read-modify-write conflict detection: the survivor set was
        # computed against ``latest`` — if anyone committed since,
        # publishing would erase their changes (lost update). Abort;
        # replace/append commits don't need this (their payloads are
        # snapshot-independent or rebuilt per retry).
        if current_latest != latest:
            raise ConcurrentWriteError(
                f"delete based on v{latest} but v{current_latest} is now "
                "committed — rerun against the current snapshot"
            )
        return {"prefixes": kept_prefixes, **manifest_meta}

    try:
        return _publish(path, build), rewritten
    except ConcurrentWriteError:
        # the rewrite prefixes were written BEFORE the conflict check;
        # on abort no manifest references them and vacuum only removes
        # prefixes of EXPIRED manifests — delete them here or they are
        # orphaned on disk forever
        _remove_prefixes(path, fresh_prefixes)
        raise


def compact(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> int:
    """OPTIMIZE: rewrite the CURRENT snapshot into one fresh prefix of
    ~``target_bytes`` files and commit it as a new, content-identical
    version. Many small prefixes/files — the debris a streaming sink or
    frequent small commits leave behind — collapse into scan-friendly
    files; time travel to the fragmented history still works, and
    ``vacuum`` reclaims it when retention allows.

    File count comes from the optimizer's size statistics (plan-only,
    no extra job), floored at 1; the rewrite is one scan + one
    round-robin exchange.
    """
    latest = table_versions(path)[-1]
    cur = read_version(spark, path, latest)
    try:
        size = int(
            cur._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size = target_bytes
    n_files = max(1, -(-size // target_bytes))
    nonce = uuid.uuid4().hex[:12]
    prefix = os.path.join("data", f"v{latest + 1}-{nonce}-opt")
    cur.repartition(n_files).write.mode("errorifexists").parquet(
        os.path.join(path, prefix)
    )

    def build(current_latest: int) -> dict:
        # same read-modify-write conflict rule as delete_where: the
        # rewrite captured snapshot ``latest``; a commit since then
        # would be silently erased by publishing — abort instead
        if current_latest != latest:
            raise ConcurrentWriteError(
                f"compaction based on v{latest} but v{current_latest} is "
                "now committed — rerun against the current snapshot"
            )
        return {"prefixes": [prefix], "mode": "compact"}

    try:
        return _publish(path, build)
    except ConcurrentWriteError:
        # same orphan rule as delete_where: the compacted prefix exists
        # on disk but no manifest will ever reference it — remove it
        _remove_prefixes(path, [prefix])
        raise


def _journal_path(path: str, nonce: str) -> str:
    # .json-suffixed but non-numeric, so table_versions ignores it
    return os.path.join(_manifest_dir(path), f"purge-journal-{nonce}.json")


def _apply_purge_mapping(
    path: str, mapping: dict[str, str | None], nonce: str
) -> int:
    """Rewrite every manifest referencing an old (pre-purge) prefix to
    its purged replacement (or drop it when the prefix emptied). Each
    rewrite is atomic (temp + rename); idempotent — manifests already
    rewritten are skipped — so an interrupted purge can be re-applied
    by recovery. Returns the number of manifests updated."""
    n_manifests = 0
    for v in table_versions(path):
        m = _read_manifest(path, v)
        new_list = []
        touched = False
        for pref in m["prefixes"]:
            if pref in mapping:
                touched = True
                if mapping[pref] is not None:
                    new_list.append(mapping[pref])
            else:
                new_list.append(pref)
        if not touched:
            continue
        m["prefixes"] = new_list
        m["purged"] = True
        tmp = _manifest_path(path, v) + f".tmp-{nonce}"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, _manifest_path(path, v))  # atomic on POSIX
        n_manifests += 1
    return n_manifests


def complete_pending_purges(path: str) -> list[str]:
    """Finish purges interrupted between staging and final cleanup
    (ADVICE r05): each in-flight :func:`purge_where` records its
    old→new prefix mapping in a journal before touching manifests, so
    a crash cannot orphan the to-be-forgotten prefixes forever — this
    replays the manifest rewrites (idempotent) and removes the
    original prefixes, restoring the erasure guarantee. Runs
    automatically at the start of :func:`vacuum`; stop-the-world like
    the purge itself. Returns the prefixes it removed."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    removed: list[str] = []
    for name in sorted(os.listdir(mdir)):
        if not (name.startswith("purge-journal-") and name.endswith(".json")):
            continue
        jpath = os.path.join(mdir, name)
        with open(jpath) as fh:
            mapping = json.load(fh)["mapping"]
        nonce = name[len("purge-journal-") : -len(".json")]
        _apply_purge_mapping(path, mapping, nonce)
        doomed = [
            p for p in mapping if os.path.isdir(os.path.join(path, p))
        ]
        _remove_prefixes(path, doomed)
        removed.extend(doomed)
        os.remove(jpath)
    return removed


def purge_where(
    spark: SparkSession, path: str, predicate: str
) -> tuple[int, int]:
    """Right-to-be-forgotten purge: remove predicate-TRUE rows from
    EVERY retained version, history included — the compliance operation
    :func:`delete_where` is not. A DELETE commits a new snapshot but
    older manifests still reference the original prefixes, so time
    travel (and any reader pinned to an old version) keeps serving the
    doomed rows; GDPR-class erasure has to rewrite history.

    Mechanics: every prefix referenced by ANY manifest that holds a
    matching row is rewritten without those rows (prefixes holding
    none are untouched — the same footer-probe pruning as DELETE);
    then every manifest is atomically rewritten (temp file + rename)
    to reference the purged prefixes, and the originals are removed.
    Version numbers, history shape, and non-matching rows are
    preserved exactly; only the purged rows vanish from all of them.

    Concurrency contract: this is a STOP-THE-WORLD maintenance
    operation (like Delta's VACUUM): run it with writers quiesced. It
    still takes the optimistic guard — if any commit lands between the
    snapshot read and the manifest rewrite, it aborts with
    ``ConcurrentWriteError`` and removes its staged prefixes — but
    readers holding pre-purge manifests can fail mid-scan once the old
    prefixes are deleted, exactly the retention caveat of ``vacuum``.

    NULL semantics match DELETE: a row is purged iff the predicate is
    TRUE; NULL-evaluating rows survive. Returns
    (n_prefixes_rewritten, n_manifests_updated).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    latest = versions[-1]
    doomed = F.coalesce(F.expr(predicate), F.lit(False))
    all_prefixes: list[str] = []
    for v in versions:
        for pref in _read_manifest(path, v)["prefixes"]:
            if pref not in all_prefixes:
                all_prefixes.append(pref)
    nonce = uuid.uuid4().hex[:12]
    mapping: dict[str, str | None] = {}
    staged: list[str] = []
    for i, pref in enumerate(all_prefixes):
        pdf = spark.read.parquet(os.path.join(path, pref))
        if pdf.filter(doomed).limit(1).count() == 0:
            continue  # untouched — contains nothing to erase
        survivors = pdf.filter(~doomed)
        new_pref = os.path.join("data", f"purge-{nonce}-{i}")
        if survivors.limit(1).count() > 0:
            survivors.write.mode("errorifexists").parquet(
                os.path.join(path, new_pref)
            )
            mapping[pref] = new_pref
            staged.append(new_pref)
        else:
            mapping[pref] = None  # prefix emptied entirely
    if not mapping:
        return 0, 0
    if table_versions(path)[-1] != latest:
        _remove_prefixes(path, staged)
        raise ConcurrentWriteError(
            f"purge based on v{latest} but a newer version is committed — "
            "quiesce writers and rerun"
        )
    # Journal the mapping BEFORE touching any manifest: a crash
    # anywhere between here and the final prefix removal leaves a
    # journal that complete_pending_purges / vacuum replays to
    # completion, so the doomed prefixes can never be orphaned on disk
    # with the purge half-applied (ADVICE r05).
    jpath = _journal_path(path, nonce)
    jtmp = jpath + ".tmp"
    with open(jtmp, "w") as fh:
        json.dump({"mapping": mapping}, fh)
    os.replace(jtmp, jpath)
    n_manifests = _apply_purge_mapping(path, mapping, nonce)
    _remove_prefixes(path, list(mapping))
    # A concurrent vacuum's complete_pending_purges may have replayed
    # this journal and already deleted it; recovery is idempotent, so
    # a vanished journal here is a clean no-op, not an error.
    with contextlib.suppress(FileNotFoundError):
        os.remove(jpath)
    return len(mapping), n_manifests


def vacuum(path: str, keep_last: int = 2) -> list[str]:
    """Delete data prefixes referenced ONLY by expired manifests; keeps
    the last ``keep_last`` versions readable. Returns removed prefixes.

    The only destructive operation in the format — and it never touches
    a prefix any retained manifest references, so retained time travel
    stays intact. Retention is the caller's isolation contract (as in
    Delta's VACUUM): a reader still holding a manifest OLDER than the
    retention window can fail mid-scan once its prefixes are removed —
    size ``keep_last`` to exceed the longest-running reader.

    Also completes any purge interrupted mid-flight (see
    :func:`complete_pending_purges`) before reclaiming, so the
    right-to-be-forgotten guarantee survives a crash between a purge's
    manifest rewrites and its prefix removal.
    """
    import shutil  # noqa: PLC0415

    complete_pending_purges(path)
    versions = table_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["prefixes"])
    dead: set[str] = set()
    for v in versions:
        if v not in keep:
            dead.update(_read_manifest(path, v)["prefixes"])
            os.remove(_manifest_path(path, v))
    removed = []
    for p in sorted(dead - live):
        shutil.rmtree(os.path.join(path, p), ignore_errors=True)
        removed.append(p)
    return removed


def change_feed(
    spark: SparkSession,
    path: str,
    keys: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """CDC between two committed versions — what changed from one
    snapshot to another, in Delta change-data-feed vocabulary:
    ``insert`` (key only in the newer snapshot), ``delete`` (key only
    in the older), ``update_preimage``/``update_postimage`` (key in
    both with any non-key attribute differing, null-safe); unchanged
    keys emit nothing.

    Plain-parquet versioning stores no row-level deltas at write time
    (Delta's CDF does), so the feed is COMPUTED at read time: one
    full-outer join of the two snapshots co-shuffled on the row keys,
    then a map-side conditional-struct explode — one pass, no
    per-change-type re-join. Cost at 100 TB is one co-partitioned join
    of two snapshots; for tables where that read-time cost is too hot,
    capture the feed once and commit it as its own versioned table.
    """
    old = read_version(spark, path, from_version)
    new = read_version(spark, path, to_version)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            "change_feed requires matching snapshot schemas; use "
            "merge_schema reads + an explicit projection first"
        )
    cols = old.columns
    attrs = [c for c in cols if c not in keys]
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in cols],
        F.lit(True).alias("__o_present"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in cols],
        F.lit(True).alias("__n_present"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full")

    def side_struct(change: str, prefix: str):
        return F.struct(
            F.lit(change).alias("change_type"),
            *[F.col(f"{prefix}{c}").alias(c) for c in cols],
        )

    # presence markers: a full-outer miss leaves the whole side null,
    # but a null KEY column cannot be the miss marker — the join is
    # null-safe, so null-keyed rows DO match across versions (the same
    # discipline merge_scd2's __present markers exist for). A literal
    # TRUE per side survives iff that side matched.
    in_old = F.col("__o_present").isNotNull()
    in_new = F.col("__n_present").isNotNull()
    changed = F.lit(False)
    for c in attrs:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    events = F.array(
        F.when(in_new & ~in_old, side_struct("insert", "__n_")),
        F.when(in_old & ~in_new, side_struct("delete", "__o_")),
        F.when(in_old & in_new & changed, side_struct("update_preimage", "__o_")),
        F.when(in_old & in_new & changed, side_struct("update_postimage", "__n_")),
    )
    return j.select(
        F.explode(F.filter(events, lambda x: x.isNotNull())).alias("__c")
    ).select("__c.*")
