"""Snapshot-table layer: parquet datasets + atomic JSON manifest commits.

Iceberg-shaped storage without Iceberg jars (none are bundled in this
sandbox's Spark). Provides the subset of semantics the crawl engine needs —
the same subset the reference gets from its SQLite cache file
(cli.py:203-213, database_manager.py:19-35):

- append-only commits, each producing an immutable numbered snapshot with a
  parent pointer, a datafile list, and a summary dict (our "per-partition
  lineage and metrics");
- atomic publish via write-temp + ``os.replace`` of the CURRENT pointer
  (POSIX-atomic on one filesystem; production swaps this class for a real
  Iceberg catalog — the engine only calls ``append / read / snapshots /
  read_at / current_snapshot``);
- time travel (``read_at``) — the resume path re-opens the last committed
  wave's snapshot (reference resume: scraper.py:278-283).

PORTABILITY: this class is LOCAL-FILESYSTEM-ONLY by design (os.listdir /
os.replace / pyarrow footer reads on local paths). It stands in for a real
Iceberg catalog in this jar-less sandbox; on a cluster with hdfs/s3 table
roots you swap the class, not the engine (the engine touches only
``append / read / read_delta / snapshots / read_at / rollback_to_last /
totals / delta_values``).

State updates are APPEND-ONLY LOGS, never in-place row updates: the
frontier's ``visited`` transition (reference ``UPDATE links SET visited``,
database_manager.py:93) is an append to a ``visited`` table and an
anti-join at read time — the scalable MERGE-free variant of SURVEY.md J2.

VIRTUAL DELTAS: a commit may contribute rows by REFERENCE instead of by
write — a manifest entry pointing at parquet files that already exist in
another table, plus constant columns and an optional small exclusion set.
The crawl engine uses this to mark a whole frontier delta "visited"
without re-writing the same (url_hash, url) rows every wave (an
unconstrained wave visits exactly the rows the previous wave's frontier
append introduced — the physical re-append was pure write amplification).
``read()`` unions the referenced files (projected + constants) with the
physical data; Iceberg's analog is a manifest referencing existing
datafiles from another snapshot.

RUNNING TOTALS: every summary carries ``total_rows`` (the parent's total
plus this delta's ``rows``, virtual deltas included), and the frontier's
carries ``running_max_rank``, so CURRENT alone answers "how many rows"
and "which rank comes next" in O(1) (``totals``) — no walk over every
version's manifest. Each version holds its own totals, so ``rollback_to``
leaves them consistent. The crawl engine takes these totals as the
authority for "nothing pending": frontier rows are unique and every
visited row is a frontier row (Σ frontier ≥ Σ visited), so Σ frontier −
Σ visited is the exact pending count and 0 ends a crawl, or reopens a
finished store, without a Spark job. Manifests written before the totals
existed are folded over every version instead, and the next commit on
such a table stores the result.

DURABILITY: commits are atomic against PROCESS crashes (write-temp +
``os.replace``). Against power loss / kernel crashes they are only
durable with ``durable=True``, which fsyncs datafiles, manifest, and the
CURRENT pointer (plus their directories) before publish — off by default
because the crawl engine's commit marker (engine._mark_committed) defines
the recovery point and a lost-but-marked wave cannot happen within one
OS lifetime; see the engine docstring for the exact guarantee.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _parquet_file(f: str):
    """pyarrow ParquetFile for a local path or, for non-local table roots
    (s3://, hdfs://), through the pyarrow filesystem for the URI instead
    of assuming the local FS (ADVICE r2)."""
    import pyarrow.parquet as pq

    if "://" in f:
        from pyarrow import fs as pafs

        filesystem, path = pafs.FileSystem.from_uri(f)
        return pq.ParquetFile(path, filesystem=filesystem)
    return pq.ParquetFile(f)


def _footer_rows(files: list[str]) -> int:
    """Sum of num_rows across parquet footers — the Iceberg-manifest
    record-count analog, read driver-side in milliseconds."""
    return sum(_parquet_file(f).metadata.num_rows for f in files)


def _empty_df(spark: SparkSession, schema) -> DataFrame:
    """Zero-row DataFrame with ``schema`` built JVM-side: the
    ``createDataFrame([], schema)`` shape plans a pickled-row scan whose
    first action launches a Python worker (~1s of fixed cost) even for
    zero rows."""
    from pyspark.sql import functions as F

    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _footer_max(files: list[str], column: str):
    """Column max across parquet row-group statistics (driver-side, no
    Spark job) — None when no file carries stats for the column (caller
    falls back to an agg job). Exact for the int/long columns the engine
    asks about."""
    best = None
    for f in files:
        pf = _parquet_file(f)
        md = pf.metadata
        try:
            idx = pf.schema_arrow.get_field_index(column)
        except Exception:
            return None
        if idx < 0:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            best = st.max if best is None else max(best, st.max)
    return best


_TOTALS = ("total_rows", "running_max_rank")


def _running_totals(parent: dict, summary: dict) -> dict:
    """``summary`` plus the running totals of the snapshot it publishes,
    given the parent snapshot's totals: ``total_rows`` (the parent's plus
    this delta's ``rows``; absent once any delta lacks ``rows``) and, on
    tables whose deltas record a ``max_rank``, ``running_max_rank``."""
    out = dict(summary)
    if "rows" in summary and "total_rows" in parent:
        out["total_rows"] = int(parent["total_rows"]) + int(summary["rows"])
    ranks = [int(v) for v in (parent.get("running_max_rank"),
                              summary.get("max_rank")) if v is not None]
    if ranks:
        out["running_max_rank"] = max(ranks)
    return out


class SnapshotTable:
    def __init__(self, root: str, durable: bool = False):
        self.root = root
        self.durable = durable
        self._manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self._manifest_dir, "CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir, f"v{version:06d}.json")) as f:
            return json.load(f)

    def current_snapshot(self) -> dict | None:
        v = self.current_version()
        return self._manifest(v) if v > 0 else None

    def snapshots(self) -> list[dict]:
        return [self._manifest(v) for v in range(1, self.current_version() + 1)]

    def totals(self, cur: dict | None = None) -> dict:
        """Running totals (``_running_totals``) of the current snapshot, or
        of ``cur`` when it is the current manifest already read: CURRENT's
        summary answers in O(1); manifests written before running totals
        existed are folded over every version once (the next commit
        stores the result). No ``total_rows`` when some delta lacks
        ``rows``."""
        if cur is None:
            cur = self.current_snapshot()
        if cur is not None and "total_rows" in cur["summary"]:
            t = cur["summary"]
        else:
            t = {"total_rows": 0}
            for s in self.snapshots():
                t = _running_totals(t, s["summary"])
        return {k: t[k] for k in _TOTALS if k in t}

    def delta_values(self, kind: str, column: str) -> list | None:
        """Values of ``column`` in the delta files of every version whose
        summary ``kind`` matches (driver-side, no Spark job); None when
        such a version lists no delta files."""
        files: list[str] = []
        for s in self.snapshots():
            if s["summary"].get("kind") == kind:
                if "delta_files" not in s:
                    return None
                files += s["delta_files"]
        return [v for f in files
                for v in _parquet_file(f).read(columns=[column])
                .column(column).to_pylist()]

    def _commit(self, delta_files: list[str], summary: dict, schema_json: str,
                virtual: list[dict] | None = None,
                cur: dict | None = None) -> dict:
        """Publish the next version: the parent's files plus
        ``delta_files``. ``cur`` is the parent manifest when the caller
        already read it."""
        parent = self.current_version()
        version = parent + 1
        if cur is None:
            cur = self.current_snapshot()
        if virtual is None:  # carry the accumulated virtual deltas forward
            virtual = (cur.get("virtual") or []) if cur else []
        manifest = {
            "version": version,
            "parent": parent,
            "files": (cur["files"] if cur else []) + delta_files,
            "delta_files": delta_files,
            "summary": _running_totals(
                self.totals(cur) if cur else {"total_rows": 0}, summary),
            "schema": schema_json,
        }
        if virtual:
            manifest["virtual"] = virtual
        if self.durable:
            for p in manifest["delta_files"]:
                if "://" not in p:
                    _fsync_path(p)
            if manifest["delta_files"]:
                _fsync_path(os.path.dirname(manifest["delta_files"][0]))
        mpath = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            if self.durable:
                f.flush()
                os.fsync(f.fileno())
        os.replace(tmp, mpath)
        ctmp = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(ctmp, "w") as f:
            f.write(str(version))
            if self.durable:
                f.flush()
                os.fsync(f.fileno())
        os.replace(ctmp, self._current_path())
        if self.durable:
            _fsync_path(self._manifest_dir)
        return manifest

    # -- writes ---------------------------------------------------------------

    def _write_datafiles(
        self, df: DataFrame, target_partitions: int | None = None
    ) -> tuple[list[str], str]:
        ddir = os.path.join(self.root, "data", f"snap-{uuid.uuid4().hex}")
        out = df.coalesce(target_partitions) if target_partitions else df
        # label the write's Spark jobs with the table name (thread-local,
        # so concurrent per-table commit threads each tag their own) —
        # profile/UI job rows then attribute commit time per table
        sc = df.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"append:{os.path.basename(self.root)}")
        try:
            out.write.mode("overwrite").parquet(ddir)
        finally:
            # restore (not clear) — an outer label on this thread survives
            sc.setJobDescription(prev)
        files = [
            os.path.join(ddir, f)
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        ]
        return files, df.schema.json()

    def append(
        self, df: DataFrame, summary: dict | None = None,
        target_partitions: int | None = None,
        footer_stats: dict[str, str] | None = None,
    ) -> dict:
        """``footer_stats`` maps summary keys to column names whose MAX is
        read from the written files' parquet statistics into the committed
        summary (driver-side; None/absent stats leave the key out) — lets
        callers fold a stats job into the write they already pay for."""
        files, schema_json = self._write_datafiles(df, target_partitions)
        summary = dict(summary or {})
        # row count from parquet FOOTERS (driver-side metadata read, no
        # Spark job) — lets the engine know wave sizes without count()s
        summary.setdefault("rows", _footer_rows(files))
        for key, col in (footer_stats or {}).items():
            v = _footer_max(files, col)
            if v is not None:
                summary.setdefault(key, v)
        return self._commit(files, summary, schema_json)

    def append_local(self, rows: list[tuple], schema,
                     summary: dict | None = None) -> dict:
        """Append a SMALL driver-known row batch without any Spark job:
        one parquet file written via pyarrow (milliseconds, vs ~1s of
        fixed per-job cost for a Spark write of the same handful of rows).
        For run-level metadata the driver already holds — wave metrics,
        empty wave-0 markers — a cluster write is pure overhead at every
        scale. ``schema`` is the pyspark StructType; parquet types are
        chosen so Spark reads back exactly that schema. Not for data-plane
        rows (no partitioning, single file, driver memory)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_types = {
            "integer": pa.int32(), "long": pa.int64(),
            "double": pa.float64(), "float": pa.float32(),
            "string": pa.string(), "boolean": pa.bool_(),
            "binary": pa.binary(),
        }
        ddir = os.path.join(self.root, "data", f"snap-{uuid.uuid4().hex}")
        os.makedirs(ddir, exist_ok=True)
        path = os.path.join(ddir, "part-00000.parquet")
        fields, arrays = [], []
        for i, f_ in enumerate(schema.fields):
            t = f_.dataType.typeName()
            if t not in pa_types:
                raise TypeError(f"append_local: unsupported type {t}")
            fields.append(pa.field(f_.name, pa_types[t]))
            arrays.append(pa.array([r[i] for r in rows], type=pa_types[t]))
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)), path
        )
        summary = dict(summary or {})
        summary.setdefault("rows", len(rows))
        return self._commit([path], summary, schema.json())

    def read_delta(self, spark: SparkSession, manifest: dict) -> DataFrame:
        """Read only the datafiles a specific append introduced — a
        lineage-free handle on that snapshot's delta."""
        files = manifest.get("delta_files") or manifest["files"]
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(manifest["schema"]))
        if not files:
            return _empty_df(spark, schema)
        # explicit schema — skip the footer-inference job (_read_manifest)
        return spark.read.schema(schema).parquet(*files)

    def append_virtual(self, spec: dict, summary: dict | None = None) -> dict:
        """Commit rows BY REFERENCE: no datafiles are written; ``read()``
        will union the referenced files into this table's rows.

        ``spec``::

            {"files":     [parquet paths in some other table],
             "select":    [columns to project from those files],
             "constants": [[name, sql_type, value], ...],  # appended cols
             "minus_files": [parquet paths]}  # optional small exclusion
                # set: referenced rows ALSO present (on the `select` key
                # columns) in minus_files are dropped from this delta —
                # lets one physical append of exceptions carve rows out of
                # a bulk reference.

        The caller must pass ``summary['rows']`` (no footers are read here;
        the engine knows the count driver-side).
        """
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError(
                "append_virtual needs a prior snapshot to define the schema"
            )
        virtual = (cur.get("virtual") or []) + [spec]
        return self._commit([], dict(summary or {}), cur["schema"],
                            virtual=virtual, cur=cur)

    # -- reads ----------------------------------------------------------------

    def _read_virtual(self, spark: SparkSession, spec: dict,
                      schema) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        # "src_schema" (schema JSON of the REFERENCED table's files) skips
        # footer inference, like the physical read paths; specs written
        # before the field existed fall back to inference
        rd = spark.read
        if spec.get("src_schema"):
            rd = rd.schema(StructType.fromJson(json.loads(spec["src_schema"])))
        d = rd.parquet(*spec["files"]).select(*spec["select"])
        if spec.get("minus_files"):
            minus = spark.read.schema(d.schema).parquet(
                *spec["minus_files"]
            ).select(*spec["select"])
            d = d.join(F.broadcast(minus), spec["select"], "left_anti")
        for name, sql_type, value in spec.get("constants", []):
            d = d.withColumn(name, F.lit(value).cast(sql_type))
        return d.select(*[f.name for f in schema.fields])

    def _read_manifest(self, spark: SparkSession, m: dict | None) -> DataFrame:
        from pyspark.sql.types import StructType

        if m is None:
            raise ValueError(f"table {self.root} has no snapshots yet")
        virtual = m.get("virtual") or []
        if not m["files"] and not virtual:
            if m.get("schema"):
                schema = StructType.fromJson(json.loads(m["schema"]))
                return _empty_df(spark, schema)
            raise ValueError(f"table {self.root} has no snapshots yet")
        schema = StructType.fromJson(json.loads(m["schema"]))
        if m["files"]:
            # explicit schema: schema INFERENCE on a multi-file read runs
            # a footer-reading Spark job at plan-construction time — a
            # blocking ~0.5-1s driver stall at the head of every crawl
            # wave once the table holds many deltas. The manifest is the
            # schema authority; pass it.
            out = spark.read.schema(schema).parquet(*m["files"])
        else:
            out = _empty_df(spark, schema)
        for spec in virtual:
            out = out.unionByName(self._read_virtual(spark, spec, schema))
        return out

    def read(self, spark: SparkSession) -> DataFrame:
        return self._read_manifest(spark, self.current_snapshot())

    def read_at(self, spark: SparkSession, version: int) -> DataFrame:
        return self._read_manifest(spark, self._manifest(version))

    def exists(self) -> bool:
        return self.current_version() > 0

    def rollback_to_last(self, keep) -> bool:
        """Point CURRENT at the newest snapshot whose summary satisfies
        ``keep`` (version 0 if none does), walking back from CURRENT — a
        table already at such a snapshot parses one manifest. Returns
        whether CURRENT moved."""
        cur = v = self.current_version()
        while v > 0 and not keep(self._manifest(v)["summary"]):
            v -= 1
        if v == cur:
            return False
        self.rollback_to(v)
        return True

    def rollback_to(self, version: int) -> None:
        """Point CURRENT back at an older snapshot (crash-recovery: discard
        a partially-committed wave's later tables)."""
        if version > self.current_version():
            raise ValueError("cannot roll forward")
        ctmp = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(ctmp, "w") as f:
            f.write(str(version))
        os.replace(ctmp, self._current_path())

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
