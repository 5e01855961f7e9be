"""Snapshot catalog: atomic commits + optimistic concurrency for the
engine's table state — the minimal transaction layer the parquet state
directories were implicitly assuming, made explicit and shared.

This is the Iceberg commit protocol in miniature (what `MERGE INTO` +
snapshot isolation give you on a real catalog), implemented on nothing
but POSIX rename semantics so it runs anywhere the checkpoints do:

* a table directory holds immutable snapshot dirs `snap=NNNNNN/`
  (arbitrary content: one or many parquet tables + a meta.json);
* a snapshot EXISTS iff its directory exists — `os.rename(staging,
  final)` is the commit, so readers never observe a half-written
  snapshot (crash mid-write leaves only a `.tmp-*` staging dir,
  ignored by listing and swept on open);
* concurrency is compare-and-swap on the snapshot id: a transaction
  opened at expected snapshot E commits to `snap=E+1`. POSIX
  `rename(2)` onto an existing non-empty directory fails, so when two
  writers race for E+1 exactly one rename succeeds — the loser gets
  CommitConflict, re-reads, and retries on top of the winner (the
  optimistic loop Iceberg's catalog swap runs on its metadata pointer).
  Committed snapshot dirs are never empty (commit always writes a
  meta.json), which is what makes the losing rename reliably fail.

Used by BOTH stateful components: the versioned article store
(sinks/versioned.py — current/archive tables per snapshot) and the
crawl frontier's per-wave checkpoints (operators/frontier.py —
frontier/seen/order per wave), so resume, lineage, and writer-conflict
semantics are one audited code path, not two ad-hoc rename dances.

At 100 TB the snapshots live in an Iceberg catalog and `commit()`
becomes the metadata-pointer swap; the directory layout here mirrors
that 1:1 (immutable data + a single mutable pointer, which in this
implementation is "the largest committed id").
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


class CommitConflict(Exception):
    """Another writer committed the snapshot id this transaction was
    based on — re-read the table state and retry."""


class AuditFailed(Exception):
    """A write-audit-publish run failed its audit gate: the staged
    snapshot was discarded, the table is unchanged. `.failures` holds
    one message per failed audit."""

    def __init__(self, failures):
        self.failures = list(failures)
        super().__init__("; ".join(self.failures))


class SnapshotCatalog:
    """One table directory of immutable snapshots with CAS commits.

    `prefix` names the snapshot dirs (`snap=` by default; the frontier
    uses `wave=` to keep its on-disk layout and resume format stable).
    """

    def __init__(self, path: str, prefix: str = "snap=", width: int = 6):
        self.path = path
        self.prefix = prefix
        self.width = width
        os.makedirs(path, exist_ok=True)

    # -- listing ----------------------------------------------------------
    def _is_snapshot_dir(self, name: str) -> bool:
        return (
            name.startswith(self.prefix)
            and ".tmp" not in name
            and name[len(self.prefix):].isdigit()
        )

    def snapshot_dir(self, snap: int) -> str:
        return os.path.join(self.path, f"{self.prefix}{snap:0{self.width}d}")

    def snapshots(self) -> list[int]:
        """Committed snapshot ids, ascending."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(n[len(self.prefix):])
            for n in os.listdir(self.path)
            if self._is_snapshot_dir(n)
        )

    def latest(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def read_meta(self, snap: int) -> dict:
        with open(os.path.join(self.snapshot_dir(snap), "meta.json")) as f:
            return json.load(f)

    def read_table(
        self, spark, name: str, snap: int | None = None, ref: str | None = None
    ):
        """Time-travel read: the parquet table `name` as of snapshot
        `snap` (default: latest), or as of the named `ref` (a tag set
        with set_ref — Iceberg's `VERSION AS OF 'tag'`). Snapshots are
        immutable, so the returned DataFrame is a stable view of that
        version."""
        if ref is not None:
            if snap is not None:
                raise ValueError("pass snap or ref, not both")
            snap = self.get_ref(ref)
            if snap is None:
                raise FileNotFoundError(f"no ref {ref!r} in {self.path}")
        if snap is None:
            snap = self.latest()
            if snap is None:
                raise FileNotFoundError(f"no committed snapshot in {self.path}")
        d = os.path.join(self.snapshot_dir(snap), name)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"table {name!r} not in snapshot {snap} of {self.path}"
            )
        return spark.read.parquet(d)

    def diff_table(
        self,
        spark,
        name: str,
        snap_a: int,
        snap_b: int,
        key_cols: list[str],
    ):
        """Changed-rows feed between two snapshots (Iceberg's
        incremental-read / CDC analogue): one row per changed key with
        `_change` in {'insert', 'update', 'delete'}.  Insert/update
        rows carry the NEW values (as of snap_b), delete rows carry the
        LAST values (as of snap_a) — the shape a downstream consumer
        needs to apply the delta without re-reading the full table.

        Plan: both sides scan once; inserts/deletes are key anti-joins,
        updates an inner join filtered on a full-row md5 over the
        non-key columns computed map-side — no row-by-row compare
        columns, one fixed-width string per row crosses the shuffle.
        Joins hash-partition on the key: statistics (AQE) route
        broadcast vs shuffle at runtime like every other key join in
        the engine."""
        from pyspark.sql import functions as F

        a = self.read_table(spark, name, snap_a)
        b = self.read_table(spark, name, snap_b)
        if sorted(a.columns) != sorted(b.columns):
            raise ValueError(
                f"schema changed between snapshots: {a.columns} vs {b.columns}"
            )
        cols = list(b.columns)
        non_key = sorted(c for c in cols if c not in key_cols)

        def rowhash(df):
            return df.withColumn(
                "_rh", F.md5(F.to_json(F.struct(*[F.col(c) for c in non_key])))
            )

        ha, hb = rowhash(a), rowhash(b)
        inserts = hb.join(ha.select(*key_cols), key_cols, "left_anti").select(
            F.lit("insert").alias("_change"), *cols
        )
        deletes = ha.join(hb.select(*key_cols), key_cols, "left_anti").select(
            F.lit("delete").alias("_change"), *cols
        )
        updates = (
            hb.alias("n")
            .join(
                ha.select(*key_cols, F.col("_rh").alias("_rh_old")).alias("o"),
                key_cols,
            )
            .filter(F.col("_rh") != F.col("_rh_old"))
            .select(F.lit("update").alias("_change"), *[f"n.{c}" for c in cols])
        )
        return inserts.unionByName(deletes).unionByName(updates)

    # -- named refs (Iceberg tags/branches: a name -> snapshot pointer) ----
    def set_ref(self, name: str, snap: int) -> None:
        """Point the named ref at a committed snapshot — Iceberg's tag
        semantics ("prod", "last-audited", an experiment branch head).
        The move is one `os.replace` of a one-line file: atomic, so a
        reader resolving the ref sees the old or the new target, never
        a torn pointer.  Refs pin their snapshot against
        expire_snapshots (keep_refs=True, the default)."""
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid ref name {name!r}")
        if snap not in self.snapshots():
            raise ValueError(f"snapshot {snap} is not committed in {self.path}")
        tmp = os.path.join(self.path, f".ref-{name}.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump({"snap": snap}, f)
        os.replace(tmp, os.path.join(self.path, f"ref-{name}.json"))

    def get_ref(self, name: str) -> int | None:
        try:
            with open(os.path.join(self.path, f"ref-{name}.json")) as f:
                return int(json.load(f)["snap"])
        except FileNotFoundError:
            return None

    def delete_ref(self, name: str) -> bool:
        try:
            os.remove(os.path.join(self.path, f"ref-{name}.json"))
            return True
        except FileNotFoundError:
            return False

    def refs(self) -> dict[str, int]:
        out = {}
        for n in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if n.startswith("ref-") and n.endswith(".json"):
                name = n[len("ref-"):-len(".json")]
                snap = self.get_ref(name)
                if snap is not None:
                    out[name] = snap
        return out

    def expire_snapshots(
        self, keep_last: int = 1, keep_refs: bool = True
    ) -> list[int]:
        """Retention: delete all but the newest `keep_last` committed
        snapshots (Iceberg's expire_snapshots). Returns the expired ids.
        With keep_refs (default) snapshots a named ref points at are
        never expired — the Iceberg rule that a tag pins its snapshot;
        pass keep_refs=False only after deleting the refs on purpose.

        Deletion is oldest-first and each dir is renamed to a staging
        name BEFORE its recursive delete, so a reader that raced the
        expiry either sees the full snapshot or none of it — never a
        half-deleted one — and a crash mid-delete leaves only a .tmp
        dir that the next sweep_staging() removes. The catalog deletes
        whole snapshots only; state layered ACROSS snapshots (like the
        frontier's per-wave seen deltas) must be folded forward by the
        owner first — see FrontierEngine.expire_waves."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        expired = snaps[:-keep_last] if len(snaps) > keep_last else []
        if keep_refs:
            pinned = set(self.refs().values())
            expired = [s for s in expired if s not in pinned]
        for s in expired:
            d = self.snapshot_dir(s)
            doomed = f"{d}.tmp-expire-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(d, doomed)
            except OSError:
                continue  # concurrent expiry got it first
            shutil.rmtree(doomed, ignore_errors=True)
        return expired

    def sweep_staging(self) -> int:
        """Remove crash-orphaned staging dirs; returns how many."""
        n = 0
        for name in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if name.startswith(self.prefix) and ".tmp" in name:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                n += 1
            elif name.startswith(".ref-") and ".tmp-" in name:
                # crash between ref write and its atomic replace
                try:
                    os.remove(os.path.join(self.path, name))
                    n += 1
                except OSError:
                    pass
        return n

    # -- writing -----------------------------------------------------------
    def begin(self, expected: int | None = None) -> "Transaction":
        """Open a transaction on top of snapshot `expected` (defaults to
        the current latest). Commit targets expected+1 and fails with
        CommitConflict if any other writer gets there first."""
        if expected is None:
            latest = self.latest()
            expected = -1 if latest is None else latest
        return Transaction(self, expected)

    def merge_into(
        self,
        spark,
        name: str,
        source,
        on: list[str],
        when_matched: str = "update",
        when_not_matched: str = "insert",
        max_retries: int = 5,
        repartition=None,
    ) -> int:
        """MERGE INTO at copy-on-write granularity — the Iceberg verb the
        snapshot layer was still missing on paper.  Key-matched target
        rows are replaced by their source row (``when_matched="update"``)
        or removed (``"delete"``); unmatched source rows are appended
        (``when_not_matched="insert"``) or dropped (``"ignore"``);
        unmatched target rows always survive.  Each apply is one CAS
        commit: on CommitConflict the target is RE-READ at the winner's
        snapshot and the merge re-derived, so a lost race never applies
        the source to a stale base (the optimistic loop Iceberg runs on
        its metadata pointer).  Returns the committed snapshot id.

        Plan shape: the source's key set drives two anti/semi joins
        against the target — both plain equi-joins on ``on``, shuffle-
        or broadcast-routed by Catalyst/AQE from actual sizes; rewrite
        volume is O(|target| + |source|) parquet, the copy-on-write
        cost model (a real Iceberg table would narrow this to touched
        files via partition pruning on the same logical plan).

        The source must hold at most one row per key (enforce upstream
        with max_by — same contract as Iceberg's MERGE, which throws on
        multiple matches).

        Snapshot contract: a commit's snapshot dir holds ONLY the
        tables that transaction wrote, and merge_into writes only
        `name` — so run one catalog per logical table (the existing
        usage), or carry sibling tables forward in a custom
        transaction before relying on read_table(sibling, latest).
        compact_table shares this contract.
        """
        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"when_not_matched must be insert|ignore, got {when_not_matched!r}"
            )
        last_err: Exception | None = None
        for _ in range(max_retries):
            snap = self.latest()
            try:
                target = None if snap is None else self.read_table(spark, name, snap)
            except FileNotFoundError:
                target = None  # snapshot exists but table doesn't yet
            if target is None:
                result = source if when_not_matched == "insert" else source.limit(0)
            else:
                keys = source.select(*on).distinct()
                parts = [target.join(keys, on, "left_anti")]
                if when_matched == "update":
                    parts.append(
                        source.join(target.select(*on).distinct(), on, "left_semi")
                    )
                if when_not_matched == "insert":
                    parts.append(
                        source.join(target.select(*on).distinct(), on, "left_anti")
                    )
                result = parts[0]
                for p in parts[1:]:
                    result = result.unionByName(p)
            tx = self.begin(expected=-1 if snap is None else snap)
            try:
                tx.write_table(name, result, repartition=repartition)
                return tx.commit(
                    meta={
                        "op": "merge_into",
                        "table": name,
                        "on": on,
                        "when_matched": when_matched,
                        "when_not_matched": when_not_matched,
                    }
                )
            except CommitConflict as e:
                last_err = e  # re-read on the winner's snapshot and retry
        raise last_err  # type: ignore[misc]

    def write_audit_publish(
        self,
        spark,
        tables: dict,
        audits,
        meta: dict | None = None,
        expected: int | None = None,
    ) -> int:
        """Write-audit-publish (Iceberg's WAP / audit-branch pattern,
        `spark.wap.branch`): stage every table of the new snapshot,
        run the audit gate OVER THE STAGED DATA, and only then publish
        with the usual CAS rename.  Readers never observe an unaudited
        snapshot; a failed audit discards the staging dir and raises
        AuditFailed with every failure message, leaving latest()
        untouched — the guard that keeps one bad pipeline run (a
        filter bug gutting the corpus, a join fanout doubling it) from
        ever becoming the table.

        ``tables`` maps name -> DataFrame; ``audits`` is an iterable of
        callables ``audit(spark, tx) -> str | None`` (None = pass,
        message = fail) — see audit_min_rows / audit_max_null_pct /
        audit_row_delta for the standard gates.  Audits read the staged
        data via ``tx.read_table`` and the previous version via
        ``tx.catalog.read_table(name, tx.expected)``, so a gate can
        compare against what it is about to replace.  Each audit is
        O(1) Spark jobs over already-written parquet — the staged data
        is written once and scanned by the audits, never recomputed.

        Returns the published snapshot id; raises CommitConflict (after
        passing audits) if another writer won the CAS — the caller
        re-reads and retries like every other commit path."""
        audits = list(audits)
        tx = self.begin(expected)
        try:
            for name, df in tables.items():
                tx.write_table(name, df)
            failures = [m for m in (a(spark, tx) for a in audits) if m]
            if failures:
                tx.abort()
                raise AuditFailed(failures)
        except AuditFailed:
            raise
        except BaseException:
            tx.abort()
            raise
        # caller meta wins on key collisions ("op" especially — a
        # facade publishing through this gate names its own operation)
        return tx.commit(
            meta={"op": "wap", "audits_passed": len(audits), **(meta or {})}
        )

    def compact_table(
        self,
        spark,
        name: str,
        target_bytes: int = 128 * 1024 * 1024,
        max_retries: int = 5,
    ) -> int:
        """Small-file compaction (Iceberg's rewrite_data_files): rewrite
        the latest snapshot of `name` into ceil(size/target_bytes)
        files and commit the rewrite as a new snapshot.  Row-identical
        by construction (one coalesce, no shuffle: coalesce only merges
        co-located partitions); readers keep the old snapshot until the
        CAS rename lands, and a racing writer costs only a retry.

        Why it matters at scale: every incremental merge/append writes
        parallelism-many files, so a long-lived table accretes millions
        of small files — scan planning and open() overhead then dwarf
        the reads.  Run compaction when file count × target size
        materially exceeds table size.  Returns the new snapshot id."""
        if target_bytes <= 0:
            raise ValueError(f"target_bytes must be positive, got {target_bytes}")
        last_err: Exception | None = None
        for _ in range(max_retries):
            snap = self.latest()
            if snap is None:
                raise FileNotFoundError(f"no committed snapshot in {self.path}")
            d = os.path.join(self.snapshot_dir(snap), name)
            if not os.path.isdir(d):
                raise FileNotFoundError(
                    f"table {name!r} not in snapshot {snap} of {self.path}"
                )
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(d)
                for f in files
            )
            n_files = max(1, -(-size // target_bytes))
            df = spark.read.parquet(d).coalesce(int(n_files))
            tx = self.begin(expected=snap)
            try:
                tx.write_table(name, df)
                return tx.commit(
                    meta={
                        "op": "compact",
                        "table": name,
                        "source_snap": snap,
                        "target_bytes": target_bytes,
                    }
                )
            except CommitConflict as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def cluster_table(
        self,
        spark,
        name: str,
        zkey,
        n_files: int = 16,
        max_retries: int = 5,
    ) -> int:
        """Z-order rewrite (Iceberg's rewrite_data_files with a sort
        strategy / Delta OPTIMIZE ZORDER BY): rewrite the latest
        snapshot of `name` range-partitioned AND sorted by ``zkey`` (a
        Column, typically functions/zorder.zorder_key over quantized
        dimensions), so min/max pruning skips files for predicates on
        ANY of the interleaved columns.  Row-identical by construction
        (a reordering); committed CAS like every other rewrite, so
        readers keep the old snapshot and racing writers cost a retry.

        Cost model: one full shuffle of the table (range partitioning)
        + a per-file sort — the standard price of re-clustering, paid
        once per maintenance window, amortized by every subsequent
        selective scan.  Returns the new snapshot id."""
        if n_files < 1:
            raise ValueError(f"n_files must be positive, got {n_files}")
        last_err: Exception | None = None
        for _ in range(max_retries):
            snap = self.latest()
            if snap is None:
                raise FileNotFoundError(f"no committed snapshot in {self.path}")
            df = self.read_table(spark, name, snap)
            out = (
                df.withColumn("_zk", zkey)
                .repartitionByRange(int(n_files), "_zk")
                .sortWithinPartitions("_zk")
                .drop("_zk")
            )
            tx = self.begin(expected=snap)
            try:
                tx.write_table(name, out)
                return tx.commit(
                    meta={
                        "op": "cluster",
                        "table": name,
                        "source_snap": snap,
                        "n_files": n_files,
                    }
                )
            except CommitConflict as e:
                last_err = e
        raise last_err  # type: ignore[misc]


class Transaction:
    def __init__(self, catalog: SnapshotCatalog, expected: int):
        self.catalog = catalog
        self.expected = expected
        self.snapshot = expected + 1
        self.staging_dir = (
            catalog.snapshot_dir(self.snapshot) + f".tmp-{uuid.uuid4().hex[:12]}"
        )
        os.makedirs(self.staging_dir, exist_ok=True)
        self._done = False

    def path(self, name: str) -> str:
        """Staging path for one table/artifact inside the snapshot."""
        return os.path.join(self.staging_dir, name)

    def write_table(self, name: str, df, repartition=None, partition_by=None) -> int:
        """Stage a DataFrame as parquet under `name` (optionally
        repartitioned first — pass (num, *cols_or_exprs)) and return
        its row count, observed on the write job itself (no second
        job re-reads or recomputes `df` to count it).
        `partition_by` writes hive-style partition dirs (e.g. by date
        or host bucket): later reads through read_table prune whole
        partitions when filtered on those columns — the catalog-layer
        image of Iceberg partition pruning."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if repartition is not None:
            df = df.repartition(*repartition)
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))
        return obs.get["n"]

    def read_table(self, spark, name: str):
        """Read back a STAGED table, pre-commit — the audit step of
        write-audit-publish reads here.  Ordinary readers cannot: the
        staging dir carries the `.tmp-` marker the catalog listing
        ignores, which is exactly what makes the stage an audit branch
        rather than a published version."""
        d = self.path(name)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"table {name!r} not staged in {self.staging_dir}")
        return spark.read.parquet(d)

    def commit(self, meta: dict | None = None) -> int:
        """Atomically publish the staged snapshot. Returns its id.

        Raises CommitConflict when another writer already committed this
        id — the staged data is removed; re-read and retry on a fresh
        begin(). The rename-onto-nonempty-dir failure IS the CAS."""
        if self._done:
            raise RuntimeError("transaction already committed or aborted")
        with open(self.path("meta.json"), "w") as f:
            json.dump(meta or {}, f)
        final = self.catalog.snapshot_dir(self.snapshot)
        try:
            os.rename(self.staging_dir, final)
        except OSError as e:
            self.abort()
            raise CommitConflict(
                f"snapshot {self.snapshot} was committed by another writer "
                f"(expected base {self.expected})"
            ) from e
        self._done = True
        return self.snapshot

    def abort(self) -> None:
        if not self._done:
            shutil.rmtree(self.staging_dir, ignore_errors=True)
            self._done = True


# ---------------------------------------------------------------------------
# standard WAP audit gates
#
# Each factory returns audit(spark, tx) -> str | None.  All thresholds
# are integer percentages compared with cross-multiplication — no float
# ratios, so a gate's verdict can't flip on engine rounding.


def audit_min_rows(name: str, min_rows: int):
    """Fail when the staged table holds fewer than `min_rows` rows —
    the cheapest guard against an upstream filter bug emptying a
    corpus before it publishes."""

    def audit(spark, tx) -> str | None:
        n = tx.read_table(spark, name).count()
        if n < min_rows:
            return f"{name}: {n} rows < required minimum {min_rows}"
        return None

    return audit


def audit_max_null_pct(name: str, col: str, max_pct: int):
    """Fail when more than `max_pct` percent of `col` is NULL in the
    staged table (schema-drift / extraction-regression tripwire)."""

    def audit(spark, tx) -> str | None:
        from pyspark.sql import functions as F

        r = (
            tx.read_table(spark, name)
            .agg(F.count(F.lit(1)).alias("n"), F.count(col).alias("nn"))
            .first()
        )
        nulls = r.n - r.nn
        if r.n and nulls * 100 > r.n * max_pct:
            return f"{name}.{col}: {nulls}/{r.n} NULL exceeds {max_pct}%"
        return None

    return audit


def audit_row_delta(name: str, max_drop_pct: int = 50, max_grow_pct: int | None = None):
    """Fail when the staged row count dropped more than `max_drop_pct`
    percent (or grew more than `max_grow_pct`, when given) versus the
    snapshot this transaction is replacing — the classic WAP gate: a
    hygiene pipeline that suddenly deletes 90% of a table is almost
    always a bug, not the corpus.  Passes trivially on the first
    snapshot or when the previous snapshot lacks the table."""

    def audit(spark, tx) -> str | None:
        if tx.expected < 0:
            return None
        try:
            prev = tx.catalog.read_table(spark, name, tx.expected)
        except FileNotFoundError:
            return None
        p = prev.count()
        n = tx.read_table(spark, name).count()
        if n * 100 < p * (100 - max_drop_pct):
            return (
                f"{name}: rows fell {p} -> {n}, beyond the "
                f"{max_drop_pct}% drop gate"
            )
        if max_grow_pct is not None and n * 100 > p * (100 + max_grow_pct):
            return (
                f"{name}: rows grew {p} -> {n}, beyond the "
                f"{max_grow_pct}% growth gate"
            )
        return None

    return audit
