"""Snapshot-committed table store with Iceberg semantics.

The engine's state contract is Iceberg's: atomic snapshot commits,
MERGE-style upserts, and time travel so a killed crawl resumes from
the last committed wave with bit-identical results (SURVEY.md O1/O7;
reference analog: the filesystem XML cache downloader.py:53-66 plus
all-in-memory sets graph.py:14-16, which are neither atomic nor
resumable).

This container ships no Iceberg runtime jar, so `Lakehouse` provides
the same contract over parquet:

  * every write lands in a fresh immutable snapshot directory
    `<table>/data-<n>/` (parquet files written by Spark),
  * a manifest `<table>/snap-<n>.json` records the layer list, per-
    layer row counts (read from parquet footers — no Spark job) and
    schema,
  * the table HEAD is a single pointer file updated via atomic
    `os.replace` — readers only ever see fully-committed snapshots,
  * keyed tables (created with `merge_keys`) are MERGE-ON-READ:
    `merge_upsert` writes ONLY the delta rows as a new layer tagged
    with the commit sequence; `read` resolves last-writer-wins per
    key across layers (what Iceberg MoR equality deletes do
    logically). Per-commit write I/O is O(delta), NOT O(total
    state) — on a 10^10-row frontier a wave writes the wave, never
    rewrites the table. `compact()` folds the layers back into one
    (Iceberg's rewrite_data_files maintenance action) to bound read
    amplification; callers run it on a cadence.
  * MERGE verbs (`merge_upsert`, `append_new`) run only on a table
    keyed by the same columns (or create it so) and raise
    `ValueError` on any other: there is no copy-on-write MERGE.

On a real cluster the same call sites bind to an Iceberg catalog
(`spark.sql("MERGE INTO ...")`); the interface is deliberately the
Iceberg verb set so the swap is config, not code.

Keyed-table write contract (same as Iceberg MERGE source dedup): a
single `merge_upsert`/`append` batch must be key-unique, and `append`
must only add keys not already present (the engine's discovery rows
are anti-joined against the frontier before the append). Resolution
is then deterministic: per key, exactly one row carries the maximal
commit sequence.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _dir_files(path: str) -> list[dict]:
    """Per-file (i.e. per-written-partition) row counters from the
    parquet footers — the manifest's per-partition lineage: each
    layer records which task wrote how many rows, so a resumed or
    audited run can account for every partition without a Spark job
    (Iceberg manifest-file granularity)."""
    import pyarrow.parquet as pq

    out = []
    for root, _, names in os.walk(path):
        for name in sorted(names):
            if name.endswith(".parquet"):
                n = pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
                out.append({"file": name, "rows": n})
    return out


class Lakehouse:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointers ---------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _head_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "HEAD")

    def current_snapshot(self, table: str) -> int | None:
        try:
            with open(self._head_path(table)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _data_dir(self, table: str, snap: int) -> str:
        return os.path.join(self._tdir(table), f"data-{snap:06d}")

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    def _commit(self, table: str, layers: list[dict], snap: int, extra: dict) -> None:
        manifest = {
            "snapshot": snap,
            "committed_at": time.time(),
            "layers": layers,
            "n_rows": sum(l["rows"] for l in layers),
            **extra,
        }
        mpath = os.path.join(self._tdir(table), f"snap-{snap:06d}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        # atomic HEAD swap — the commit point
        fd, tmp = tempfile.mkstemp(dir=self._tdir(table))
        with os.fdopen(fd, "w") as f:
            f.write(str(snap))
        os.replace(tmp, self._head_path(table))

    # -- reads --------------------------------------------------------------
    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        snap = self.current_snapshot(table) if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        m = self.manifest(table, snap)
        layers = m["layers"]
        if not layers:  # empty snapshot: schema lives in the manifest
            return self.spark.createDataFrame([], StructType.fromJson(json.loads(m["schema_json"])))
        keys = m.get("merge_keys")
        if not keys or len(layers) == 1:
            return self.spark.read.parquet(
                *[os.path.join(self._tdir(table), l["dir"]) for l in layers]
            )
        # MoR resolution: last-writer-wins per key across layers. ONE
        # parquet scan over all layer dirs (the layer's commit seq is
        # recovered from the `data-<seq>` path via the _metadata
        # column — no per-layer sub-plans, no N file indexes), then
        # one hash aggregation over the live state. At scale this is
        # the read-side cost that compact() bounds (layer count stays
        # small), and it shuffles keys only: each key's losing rows
        # die in the map-side partial aggregate.
        union = self.spark.read.parquet(
            *[os.path.join(self._tdir(table), l["dir"]) for l in layers]
        )
        cols = union.columns
        # anchored to the LAST path segment's parent: a lakehouse root
        # that itself contains 'data-<n>/' (e.g. /mnt/data-2/lake)
        # must not shadow the layer dir, or last-writer-wins would
        # silently degrade to arbitrary-row-wins
        seq = (
            F.regexp_extract(F.col("_metadata.file_path"), r"data-(\d+)/[^/]*$", 1)
            .cast("long")
            .alias("__seq")
        )
        others = [c for c in cols if c not in keys]
        resolved = (
            union.select(*cols, seq)
            .groupBy(*keys)
            .agg(F.max_by(F.struct(*others), F.col("__seq")).alias("__r"))
            .select(*keys, *[F.col(f"__r.{c}").alias(c) for c in others])
        )
        return resolved.select(*cols)

    def read_or_empty(self, table: str, schema: StructType) -> DataFrame:
        if self.exists(table):
            return self.read(table)
        return self.spark.createDataFrame([], schema)

    def manifest(self, table: str, snapshot: int | None = None) -> dict:
        snap = self.current_snapshot(table) if snapshot is None else snapshot
        with open(os.path.join(self._tdir(table), f"snap-{snap:06d}.json")) as f:
            return json.load(f)

    def layer_rows(self, table: str, snapshot: int | None = None) -> int:
        """Rows added by the given (default: HEAD) commit — the wave
        delta, from the manifest, no Spark job."""
        m = self.manifest(table, snapshot)
        return m["layers"][-1]["rows"] if m["layers"] else 0

    def n_rows(self, table: str, snapshot: int | None = None) -> int:
        """Total stored rows (pre-resolution for MoR tables) from the
        manifest, no Spark job."""
        return self.manifest(table, snapshot)["n_rows"]

    def snapshots(self, table: str) -> list[int]:
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for name in os.listdir(tdir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    # -- writes --------------------------------------------------------------
    def _next_snap(self, table: str) -> int:
        os.makedirs(self._tdir(table), exist_ok=True)
        head = self.current_snapshot(table)
        # data dirs are keyed by max existing snapshot file to stay
        # unique even after a rollback re-forked history
        snaps = self.snapshots(table)
        base = max(snaps) if snaps else -1
        return max(base, -1 if head is None else head) + 1

    def _write_layer(self, table: str, df: DataFrame, snap: int) -> dict:
        out = self._data_dir(table, snap)
        df.write.mode("overwrite").parquet(out)
        files = _dir_files(out)
        return {
            "dir": os.path.basename(out),
            "seq": snap,
            "rows": sum(f["rows"] for f in files),
            "files": files,
        }

    def overwrite(self, table: str, df: DataFrame, merge_keys: list[str] | None = None) -> int:
        """Full-replace commit (Iceberg: REPLACE TABLE ... AS SELECT).
        `merge_keys` declares the table keyed → every later
        `merge_upsert`/`append` is an O(delta) MoR layer. When
        omitted, an existing table keeps its key spec (so compaction
        and re-loads don't silently de-key a table)."""
        if merge_keys is None and self.exists(table):
            merge_keys = self.manifest(table).get("merge_keys")
        snap = self._next_snap(table)
        layer = self._write_layer(table, df, snap)
        self._commit(table, [layer], snap, {"merge_keys": merge_keys} if merge_keys else {})
        return snap

    def create_empty(self, table: str, schema: StructType, merge_keys: list[str] | None = None) -> int:
        """Commit an empty snapshot without running a Spark job —
        a metadata-only truncate (Iceberg: TRUNCATE TABLE). The
        schema is recorded in the manifest so reads stay typed;
        `merge_keys` declares the table keyed, as in `overwrite`."""
        snap = self._next_snap(table)
        extra = {"merge_keys": merge_keys} if merge_keys else {}
        self._commit(table, [], snap, {"schema_json": json.dumps(schema.jsonValue()), **extra})
        return snap

    def _commit_on_head(self, table: str, layer: dict, snap: int) -> int:
        """Commit `layer` on top of HEAD: the manifest carries HEAD's
        layers and key spec forward (Iceberg fast-append — metadata-
        only, no data rewrite). A missing table starts unkeyed."""
        head = self.current_snapshot(table)
        m = self.manifest(table, head) if head is not None else {"layers": []}
        extra = {"merge_keys": m["merge_keys"]} if m.get("merge_keys") else {}
        self._commit(table, m["layers"] + [layer], snap, extra)
        return snap

    def append(self, table: str, df: DataFrame) -> int:
        """Fast append: write ONLY the new rows as a layer on top of
        HEAD. Old snapshots stay readable. On a keyed table the
        appended batch must hold only new keys (see module
        contract)."""
        snap = self._next_snap(table)
        return self._commit_on_head(table, self._write_layer(table, df, snap), snap)

    def append_nonempty(self, table: str, df: DataFrame) -> int:
        """Append that commits ONLY when the batch has rows; returns
        the number of rows committed. Steady-state crawl waves often
        produce empty batches — committing them would grow one empty
        layer + manifest per wave. Emptiness is read from the written
        parquet footers (no extra Spark job); an empty write is
        rolled back by deleting the uncommitted layer dir (HEAD never
        moved, so no reader can have seen it)."""
        import shutil

        snap = self._next_snap(table)
        layer = self._write_layer(table, df, snap)
        if layer["rows"] == 0:
            shutil.rmtree(self._data_dir(table, snap), ignore_errors=True)
            return 0
        self._commit_on_head(table, layer, snap)
        return layer["rows"]

    def append_local(self, table: str, rows: list[dict], schema: StructType) -> int:
        """Driver-side micro-append: write a tiny parquet layer with
        pyarrow — NO Spark job. For single-row commits (per-wave
        metrics, state stamps) where launching a distributed write
        is pure latency. The layer is indistinguishable from a Spark
        write to readers (same schema via the Arrow conversion
        Spark itself uses)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        snap = self._next_snap(table)
        out = self._data_dir(table, snap)
        os.makedirs(out, exist_ok=True)
        t = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        pq.write_table(t, os.path.join(out, "part-00000.parquet"))
        layer = {
            "dir": os.path.basename(out),
            "seq": snap,
            "rows": len(rows),
            "files": [{"file": "part-00000.parquet", "rows": len(rows)}],
        }
        return self._commit_on_head(table, layer, snap)

    def _exists_keyed_by(self, table: str, keys: list[str]) -> bool:
        """False for a missing table; a table keyed otherwise is
        refused (there is no copy-on-write MERGE)."""
        if not self.exists(table):
            return False
        mk = self.manifest(table).get("merge_keys")
        if mk != keys:
            raise ValueError(f"table {table} is keyed by {mk}, cannot MERGE on {keys}")
        return True

    def append_new(self, table: str, df: DataFrame, keys: list[str]) -> int:
        """MERGE ... WHEN NOT MATCHED THEN INSERT (insert-only merge).

        Reference analog: the existence-check-before-write pattern of
        summarizer/neo4j.py:62-68,76-83 and every seen-set guard.
        One read of current keys, write O(delta) — the unmatched-
        fresh rows land as a new layer. A missing table is created
        keyed by `keys`."""
        if not self._exists_keyed_by(table, keys):
            return self.overwrite(table, df.dropDuplicates(keys), merge_keys=keys)
        fresh = df.dropDuplicates(keys).join(self.read(table).select(*keys), on=keys, how="left_anti")
        return self.append(table, fresh)

    def merge_upsert(self, table: str, df: DataFrame, keys: list[str], schema: StructType) -> int:
        """MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED INSERT.

        Logical result: old rows not matched by key survive; every key
        in `df` takes the new row (last-writer-wins within `df` is
        the caller's responsibility — pass pre-deduped input).

        The delta IS the commit (new layer, O(delta) write); the
        merge happens at read time. A missing table is created keyed
        by `keys`."""
        cols = [c.name for c in schema]
        if not self._exists_keyed_by(table, keys):
            return self.overwrite(table, df.select(*cols), merge_keys=keys)
        return self.append(table, df.select(*cols))

    def compact(self, table: str) -> int:
        """Fold a keyed table's MoR layers into one resolved layer
        (Iceberg rewrite_data_files). Result-identical to the pre-
        compaction read; bounds future read amplification. The one
        place where write cost is O(live state) — run on a cadence,
        not per commit. No-op on missing/unkeyed/single-layer
        tables."""
        if not self.exists(table):
            return -1
        m = self.manifest(table)
        if not m.get("merge_keys") or len(m["layers"]) <= 1:
            return m["snapshot"]
        return self.overwrite(table, self.read(table), merge_keys=m["merge_keys"])

    def merge_small_layers(self, table: str, max_layers: int = 8) -> int:
        """Size-tiered layer merge for APPEND tables (Iceberg
        rewrite_data_files binpack strategy): when the manifest holds
        more than `max_layers` layers, fold the SMALLEST ones into a
        single new layer so the layer count drops back to
        `max_layers`. Append-heavy tables (crawl_order, seen_pubs,
        edges, publications, metrics) gain one small layer per wave
        forever; without this their manifests and per-read file lists
        grow unboundedly on long crawls.

        Unlike `compact()`, write cost is O(merged rows), NOT
        O(table): the largest layers are never rewritten once they
        out-grow the merge set, so total rewrite work over a crawl's
        life amortizes to O(n log n) (LSM size-tiering) rather than
        O(n * waves). Result-identical: an unkeyed table's read is
        the union of its layers, which merging preserves row-for-row.

        Keyed tables delegate to `compact()` (and only past the
        layer bound): their last-writer-wins resolution orders rows
        by commit seq, and rewriting a non-contiguous layer subset
        under a single new seq could reorder wins.
        """
        if not self.exists(table):
            return -1
        m = self.manifest(table)
        layers = m["layers"]
        if len(layers) <= max_layers:
            return m["snapshot"]
        if m.get("merge_keys"):
            return self.compact(table)
        by_rows = sorted(layers, key=lambda l: (l["rows"], l["seq"]))
        victims = by_rows[: len(layers) - max_layers + 1]
        victim_dirs = {v["dir"] for v in victims}
        keep = [l for l in layers if l["dir"] not in victim_dirs]
        snap = self._next_snap(table)
        # 0-row layers contribute nothing to the union — drop them
        # from the manifest without scanning them
        nonempty = sorted(v["dir"] for v in victims if v["rows"] > 0)
        extra = {k: m[k] for k in ("schema_json",) if k in m}
        if nonempty:
            merged = self.spark.read.parquet(
                *[os.path.join(self._tdir(table), d) for d in nonempty]
            )
            keep = keep + [self._write_layer(table, merged, snap)]
        elif not keep and "schema_json" not in extra:
            # all layers empty and no recorded schema: keep one empty
            # layer so read() stays typed
            keep = [victims[0]]
        self._commit(table, keep, snap, extra)
        return snap

    def n_layers(self, table: str) -> int:
        return len(self.manifest(table)["layers"])

    def rollback(self, table: str, snapshot: int) -> None:
        """Time-travel the HEAD pointer back (Iceberg: rollback_to_snapshot)."""
        if snapshot not in self.snapshots(table):
            raise ValueError(f"unknown snapshot {snapshot} for {table}")
        fd, tmp = tempfile.mkstemp(dir=self._tdir(table))
        with os.fdopen(fd, "w") as f:
            f.write(str(snapshot))
        os.replace(tmp, self._head_path(table))

    def expire_snapshots(self, table: str, retain_last: int = 2) -> dict:
        """Iceberg `expire_snapshots` semantics: drop all but the
        newest `retain_last` snapshot manifests (the HEAD snapshot is
        always retained, even after a rollback re-forked history),
        then delete the layer directories referenced by NO retained
        manifest.  The reference-counting is the whole point: fast-
        append and MoR commits SHARE layer dirs across snapshots, so
        per-manifest deletion would corrupt newer snapshots — a dir
        dies only when every manifest naming it is expired.

        This is the storage-reclaim half of the maintenance cadence
        (compact/merge_small_layers bound READ amplification but old
        snapshots pin every superseded layer forever; at 10^10-URL
        scale the time-travel tail IS the storage bill).  Returns
        {'expired': [...], 'deleted_dirs': [...], 'retained': [...]}.
        Expired snapshots are no longer time-travelable — exactly
        Iceberg's contract."""
        import shutil

        snaps = self.snapshots(table)
        head = self.current_snapshot(table)
        if head is None:
            return {"expired": [], "deleted_dirs": [], "retained": []}
        retained = set(snaps[-retain_last:]) | {head}
        expired = [s for s in snaps if s not in retained]
        live_dirs = set()
        for s in retained:
            live_dirs.update(l["dir"] for l in self.manifest(table, snapshot=s)["layers"])
        doomed = set()
        for s in expired:
            doomed.update(l["dir"] for l in self.manifest(table, snapshot=s)["layers"])
        doomed -= live_dirs
        tdir = self._tdir(table)
        for d in sorted(doomed):
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        for s in expired:
            try:
                os.remove(os.path.join(tdir, f"snap-{s:06d}.json"))
            except FileNotFoundError:
                pass
        return {
            "expired": expired,
            "deleted_dirs": sorted(doomed),
            "retained": sorted(retained),
        }
