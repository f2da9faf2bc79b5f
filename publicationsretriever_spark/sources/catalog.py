"""Round stores: one snapshot per crawl round, written through a single
``write_round`` / ``finish_commit`` contract.

Every crawl round commits ONE snapshot: its tables plus a manifest
carrying the parent pointer and per-partition lineage (frontier
offsets, seen-set cardinality, fetch/error counters) — the north rule's
"checkpointed snapshot with per-partition lineage so the job resumes
exactly from any round".

- ``SnapshotCatalog`` keeps the snapshots as immutable parquet data
  files and a JSON manifest per snapshot (Iceberg-style commit/resume
  semantics on local parquet; no Iceberg runtime is used).
- ``MemoryCatalog`` keeps them as eager local checkpoints in executor
  memory — the crawl's store when no catalog is given (no resume).

Both share ``RoundStore.write_round``'s scheduler and differ only in the
per-table write, the read of a part list and the publish step.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _paths(meta: dict) -> list[str]:
    """A table's part list (manifests before multi-part tables carried a
    single ``path``)."""
    return meta.get("paths", [meta["path"]] if "path" in meta else [])


class RoundStore:
    """The round-commit contract. A table's meta lists its parts under
    ``"paths"``: a delta table gains one part per round, so the union of
    its parts is the cumulative table; a full table is one part.

    Subclasses supply ``_write_part`` (materialize one table, return its
    part id, row count and read-back), ``read`` (a part list as one
    DataFrame) and ``_publish`` (make a manifest the latest snapshot)."""

    _head: dict | None = None

    def latest(self) -> dict | None:
        return self._head

    def write_round(
        self,
        spark: SparkSession,
        deltas: dict[str, DataFrame],
        fulls: dict[str, DataFrame],
        prior: dict[str, DataFrame] | None = None,
        warm_first: str | tuple[str, ...] | None = None,
        compact: bool = False,
    ) -> tuple[str, dict, dict[str, DataFrame]]:
        """Phase 1: materialize a round's tables. Returns (snap_id,
        table_meta, loaded): ``loaded`` holds every table's read-back,
        the cumulative view for a delta table. The snapshot is INVISIBLE
        until ``finish_commit`` publishes it — an interrupted job leaves
        no half-commit.

        ``deltas`` tables write ONLY this round's rows and their meta
        carries the parent's parts plus the new one, so commit I/O is
        O(round delta). ``fulls`` tables are small dimensions rewritten
        whole. With ``compact=True`` each delta table's cumulative
        content (``prior`` union delta) is written as ONE part instead,
        bounding the part fan-in.

        The ``warm_first`` tables are written concurrently first: the
        lazy caches they compute are read by the other tables, and cold
        concurrent jobs would each recompute them. The rest then run in
        one pool, so the close costs max-of-tables, not sum-of-tables.
        Each table's meta records its write wall (``write_s``)."""
        head = self.latest()
        parent_tables = head["tables"] if head else {}
        snap_no = int(head["snapshot_id"].rsplit("-", 1)[1]) + 1 if head else 0
        snap_id = f"snap-{snap_no:05d}"
        prior = prior or {}

        def write_one(name: str, df: DataFrame) -> tuple[dict, DataFrame]:
            t0 = time.time()
            parent = parent_tables.get(name, {})
            is_delta = name in deltas
            if is_delta and compact:
                # a prior view the caller did not carry (a catalog
                # written before the table existed) falls back to the
                # parent's parts — compaction must never drop history
                base = prior.get(name)
                if base is None and _paths(parent):
                    base = self.read(spark, _paths(parent))
                if base is not None:
                    df = base.unionByName(df)
            path, n, back = self._write_part(spark, f"{snap_id}/{name}", df)
            meta = {"paths": [path], "rows": n}
            if is_delta and not compact:
                meta = {
                    "paths": _paths(parent) + [path],
                    "rows": parent.get("rows", 0) + n,
                    "delta_rows": n,
                }
                back = self.read(spark, meta["paths"])
            elif is_delta:
                meta["delta_rows"] = n - parent.get("rows", 0)
            meta["write_s"] = round(time.time() - t0, 3)
            return meta, back

        if isinstance(warm_first, str):
            warm_first = (warm_first,)
        items = {**deltas, **fulls}
        warm = [n for n in items if n in (warm_first or ())]
        written: dict[str, tuple[dict, DataFrame]] = {}
        for batch in (warm, [n for n in items if n not in warm]):
            if batch:
                with ThreadPoolExecutor(max_workers=len(batch)) as pool:
                    futs = {n: pool.submit(write_one, n, items[n]) for n in batch}
                    written.update((n, f.result()) for n, f in futs.items())
        table_meta = {n: meta for n, (meta, _) in written.items()}
        loaded = {n: back for n, (_, back) in written.items()}
        return snap_id, table_meta, loaded

    def finish_commit(
        self, snap_id: str, table_meta: dict, round_no: int, lineage: dict
    ) -> str:
        """Phase 2: publish the snapshot as the latest one."""
        parent = self.latest()
        manifest = {
            "snapshot_id": snap_id,
            "parent": parent["snapshot_id"] if parent else None,
            "round": round_no,
            "committed_at": time.time(),
            "tables": table_meta,
            "lineage": lineage,
        }
        self._publish(manifest)
        self._head = manifest
        return snap_id


class SnapshotCatalog(RoundStore):
    """commit() appends an immutable snapshot; load() restores any
    snapshot's tables; resume = load(latest). The latest manifest is
    kept once read or committed, so a crawl parses the manifests (each
    embeds the whole round lineage) at most once."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._scanned = False

    # -- manifest helpers ---------------------------------------------------

    def _manifest_paths(self) -> list[Path]:
        # sort on the PARSED integer suffix, not lexicographically:
        # after snap-99999 the next id gains a digit and a string sort
        # would pin latest()/parent/resume to snap-99999 forever (one
        # snapshot per round makes this reachable on a long catalog)
        def snap_no(p: Path) -> tuple[int, str]:
            tail = p.parent.name.rsplit("-", 1)[-1]
            return (int(tail), p.parent.name) if tail.isdigit() \
                else (1 << 62, p.parent.name)

        return sorted(self.root.glob("snap-*/manifest.json"), key=snap_no)

    def snapshots(self) -> list[dict]:
        out = []
        for p in self._manifest_paths():
            try:
                out.append(json.loads(p.read_text()))
            except json.JSONDecodeError:
                # a truncated manifest (crash mid-publish before the
                # atomic rename existed) must not poison every future
                # load/resume — treat it as an uncommitted snapshot
                continue
        self._head, self._scanned = (out[-1] if out else None), True
        return out

    def latest(self) -> dict | None:
        if not self._scanned:
            self.snapshots()
        return self._head

    # -- commit / load --------------------------------------------------------

    def write_tables(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        warm_first: str | None = None,
    ) -> tuple[str, dict, dict[str, DataFrame]]:
        """:meth:`write_round` with no deltas: every table is written
        whole. Row counts come from the written parquet (footer
        metadata — no plan recompute)."""
        return self.write_round(
            spark, deltas={}, fulls=tables, warm_first=warm_first
        )

    def _write_part(
        self, spark: SparkSession, key: str, df: DataFrame
    ) -> tuple[str, int, DataFrame]:
        path = str(self.root / key)
        df.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        return path, back.count(), back  # parquet footer count

    def read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        return spark.read.parquet(*paths)

    def _publish(self, manifest: dict) -> None:
        # two-phase publish: write to a temp file, then atomic rename —
        # a crash mid-write can never leave a truncated manifest behind
        # (the Iceberg metadata-swap atomicity contract)
        final = self.root / manifest["snapshot_id"] / "manifest.json"
        tmp = final.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=2))
        os.replace(tmp, final)

    def commit(
        self,
        tables: dict[str, DataFrame],
        round_no: int,
        lineage: dict,
    ) -> str:
        spark = next(iter(tables.values())).sparkSession
        snap_id, table_meta, _ = self.write_tables(spark, tables)
        return self.finish_commit(snap_id, table_meta, round_no, lineage)

    def load(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> tuple[dict, dict[str, DataFrame]]:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no snapshots under {self.root}")
        manifest = (
            snaps[-1]
            if snapshot_id is None
            else next(s for s in snaps if s["snapshot_id"] == snapshot_id)
        )
        tables = {
            name: self.read(spark, _paths(meta))
            for name, meta in manifest["tables"].items()
        }
        return manifest, tables

    def diff_table(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        from_snapshot: str | None,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Incremental consumption between two committed snapshots —
        the Iceberg changelog-read analog: returns the ``to`` side's
        columns plus ``change`` in ('added', 'removed', 'changed')
        for every key whose row differs between ``from_snapshot`` and
        ``to_snapshot`` (None = latest; from_snapshot=None diffs
        against empty, i.e. everything is 'added'). Unchanged rows are
        NOT returned — a downstream job (e.g. the dataset packer, an
        index refresher) reprocesses only the delta instead of the
        full table.

        For 'removed' keys the non-key columns carry the OLD row's
        values (there is no new row to show).

        Precondition: ``key_cols`` must uniquely identify a row in
        both snapshots (true for every catalog table's natural key) —
        duplicate keys would fan out in the join-back.

        Scale shape: both sides reduce to (keys, xxhash64(all
        non-key columns)) before the full-outer join — a co-partitioned
        sort-merge join on the key with 8-byte payloads, never a
        row-value compare across the wire; the winning side's full row
        is joined back by key only for the emitted delta (at web scale
        deltas are ~1 round's writes, a small fraction of the table).
        """
        _, to_tables = self.load(spark, to_snapshot)
        new = to_tables[table]
        val_cols = [c for c in new.columns if c not in key_cols]
        from pyspark.sql import functions as F

        def keyed_hash(df: DataFrame) -> DataFrame:
            # xxhash64 leaves its running seed UNCHANGED for NULL
            # inputs, so ('x', NULL) and (NULL, 'x') would hash
            # identically and a NULL-involving value shift would read
            # as unchanged — the null bitmap disambiguates positions
            return df.select(
                *key_cols,
                F.xxhash64(
                    *[F.col(c).cast("string") for c in val_cols],
                    F.concat_ws(
                        ",",
                        *[
                            F.col(c).isNull().cast("int").cast("string")
                            for c in val_cols
                        ],
                    ),
                ).alias("_vh"),
            )

        nk = keyed_hash(new).alias("n")
        if from_snapshot is None:
            old = new.filter(F.lit(False))
        else:
            _, from_tables = self.load(spark, from_snapshot)
            old = from_tables[table]
        ok = keyed_hash(old).alias("o")
        cond = [F.col(f"n.{k}").eqNullSafe(F.col(f"o.{k}")) for k in key_cols]
        joined = nk.join(ok, cond, "full_outer")
        change = (
            F.when(F.col("o._vh").isNull(), F.lit("added"))
            .when(F.col("n._vh").isNull(), F.lit("removed"))
            .when(F.col("n._vh") != F.col("o._vh"), F.lit("changed"))
        )
        delta_keys = joined.select(
            *[
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                for k in key_cols
            ],
            change.alias("change"),
        ).filter(F.col("change").isNotNull())
        # join-back must be null-safe too: the detection above paid
        # for eqNullSafe, a plain name-equality join here would drop
        # every NULL-keyed delta on the floor
        def join_back(deltas: DataFrame, side_df: DataFrame) -> DataFrame:
            d, s = deltas.alias("d"), side_df.alias("s")
            jc = [
                F.col(f"d.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in key_cols
            ]
            return d.join(s, jc).select(
                *[F.col(f"d.{k}").alias(k) for k in key_cols],
                F.col("d.change").alias("change"),
                *[F.col(f"s.{c}").alias(c) for c in val_cols],
            )

        added_changed = join_back(
            delta_keys.filter(F.col("change") != "removed"), new
        )
        removed = join_back(
            delta_keys.filter(F.col("change") == "removed"), old
        )
        return added_changed.unionByName(removed)


class MemoryCatalog(RoundStore):
    """The round contract in executor memory: a part is a table observed
    for its row count and eagerly local-checkpointed, keyed by
    ``snap-N/table``. A delta table's parts are the checkpoints of the
    rounds since its last compaction; publishing a snapshot drops the
    parts it no longer lists. Nothing is durable (no ``load``)."""

    def __init__(self):
        self._parts: dict[str, DataFrame] = {}

    def _write_part(
        self, spark: SparkSession, key: str, df: DataFrame
    ) -> tuple[str, int, DataFrame]:
        rows = Observation()
        part = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        self._parts[key] = part
        return key, int(rows.get["n"]), part

    def read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        return reduce(DataFrame.unionByName, (self._parts[p] for p in paths))

    def _publish(self, manifest: dict) -> None:
        live = {p for meta in manifest["tables"].values() for p in meta["paths"]}
        self._parts = {p: df for p, df in self._parts.items() if p in live}
