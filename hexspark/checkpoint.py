"""Stage checkpointing with per-partition lineage + metrics, resumable.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics".  Each pipeline stage materializes to Parquet next to a
manifest JSON recording per-partition (file) row/byte counts and the
stage's input lineage; a re-entrant run skips stages whose manifest is
complete.  No Spark internals — stage boundaries are plain
``df.write.parquet``, per-partition metrics come from the Parquet
footers (zero extra passes), and skipping is a manifest check.

Filesystem access goes through ``pyarrow.fs.FileSystem.from_uri`` so
checkpoint roots can live on any scheme Spark itself can write
(``file://``, ``hdfs://``, ``s3://`` with the pyarrow S3 build).
Manifest completion is write-then-rename; on local/HDFS the rename is
atomic, on S3 it is copy+delete (last-writer-wins — same caveat as any
S3 marker file).

Quarantine rows (invalid cells — the ``Error::Index`` analogue,
/root/reference/src/error.rs:7-10) are counted into the manifest when a
stage declares them.
"""

from __future__ import annotations

import json
import os
import posixpath
import time
from typing import Callable, Optional

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_hexspark_manifest.json"


def _fs_for(root: str) -> tuple[pafs.FileSystem, str]:
    """Resolve (filesystem, in-fs path) for a path or URI.

    Relative local roots are normalized to absolute first —
    ``FileSystem.from_uri`` rejects them, but plain relative paths were
    always a valid checkpoint root for local runs."""
    if "://" not in root:
        root = os.path.abspath(root)
    return pafs.FileSystem.from_uri(root)


def _partition_metrics(fs: pafs.FileSystem, path: str) -> list[dict]:
    """Per-partition lineage from the written Parquet files themselves."""
    import pyarrow.parquet as pq

    infos = fs.get_file_info(pafs.FileSelector(path, recursive=False))
    out = []
    for info in sorted(infos, key=lambda i: i.base_name):
        f = info.base_name
        if not f.endswith(".parquet") or f.startswith("_"):
            continue
        with fs.open_input_file(info.path) as fh:
            md = pq.ParquetFile(fh).metadata
            out.append({
                "file": f,
                "rows": md.num_rows,
                "bytes": info.size,
                "row_groups": md.num_row_groups,
            })
    return out


def _file_metrics(uris: list[str]) -> list[dict]:
    """Per-file lineage for files addressed by URI (bucketed tables
    live in the warehouse, not the checkpoint root)."""
    import pyarrow.parquet as pq

    out = []
    for uri in sorted(uris):
        fs, path = pafs.FileSystem.from_uri(uri) if "://" in uri else (
            pafs.LocalFileSystem(), uri
        )
        info = fs.get_file_info(path)
        with fs.open_input_file(path) as fh:
            md = pq.ParquetFile(fh).metadata
        out.append({
            "file": posixpath.basename(path),
            "rows": md.num_rows,
            "bytes": info.size,
            "row_groups": md.num_row_groups,
        })
    return out


class Checkpointer:
    """Re-entrant stage runner.

    >>> ck = Checkpointer(spark, "/tmp/pipe1")
    >>> pages = ck.stage("pages", lambda: synth_pages(...))
    >>> joined = ck.stage("assign", lambda: assign_regions(pages, ...),
    ...                   inputs=["pages"])

    A completed stage (manifest present + ``complete``) is *read back*
    instead of recomputed; a crashed run resumes at the first
    incomplete stage.  ``root`` may be a plain path or a ``file://`` /
    ``hdfs://`` / ``s3://`` URI — Spark writes the stage Parquet, and
    the manifest IO uses the matching pyarrow filesystem.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._fs, self._root_path = _fs_for(root)
        self._fs.create_dir(self._root_path, recursive=True)

    def _spark_path(self, name: str) -> str:
        """Path handed to spark.read/write (keeps the caller's scheme)."""
        return self.root.rstrip("/") + "/" + name

    def _root_digest(self) -> str:
        """Stable 8-hex digest of the checkpoint root — namespaces
        catalog objects (bucketed tables) per work dir.  Hashes the
        NORMALIZED (filesystem-type, in-fs path) pair, not the raw
        spelling: 'wd' from two CWDs must get different digests
        (else one pipeline reads back the other's table), while
        'file:///x', '/x' and 'x/' from /x's parent are the same dir
        and must share one (else resume misses the table and leaks a
        duplicate)."""
        import hashlib

        key = f"{type(self._fs).__name__}:{self._root_path.rstrip('/')}"
        return hashlib.sha1(key.encode("utf-8")).hexdigest()[:8]

    def _paths(self, name: str) -> tuple[str, str]:
        d = posixpath.join(self._root_path, name)
        return d, posixpath.join(d, MANIFEST)

    def _read_json(self, path: str) -> Optional[dict]:
        """Missing manifest → None (stage incomplete).  Only not-found
        maps to None: a transient S3/HDFS IO or auth failure must
        propagate, not silently trigger recompute+overwrite of a
        finished stage.  Absence is probed via ``get_file_info`` rather
        than catching FileNotFoundError from the open — pyarrow's S3 /
        HDFS backends surface a missing key as plain OSError/ArrowIOError
        on some paths, which a first run on those schemes would otherwise
        crash on."""
        if self._fs.get_file_info(path).type == pafs.FileType.NotFound:
            return None
        with self._fs.open_input_stream(path) as f:
            return json.loads(f.read().decode("utf-8"))

    def is_complete(self, name: str) -> bool:
        _, mpath = self._paths(name)
        man = self._read_json(mpath)
        return bool(man and man.get("complete", False))

    def manifest(self, name: str) -> Optional[dict]:
        _, mpath = self._paths(name)
        return self._read_json(mpath)

    @staticmethod
    def _resume_ok(
        man: Optional[dict], inputs: Optional[list[str]], params: Optional[dict]
    ) -> bool:
        """A completed stage is reused only when its recorded WIRING
        matches the current call: a pipeline re-run with different
        stage inputs (e.g. stats now rolling up from a sampled stage)
        or different parameters must recompute, not silently return
        the old configuration's rows.  Manifests written before params
        existed have no key → treated as params=None."""
        return bool(
            man
            and man.get("complete", False)
            and man.get("inputs", []) == (inputs or [])
            and man.get("params") == params
        )

    def _read_back(self, name: str, schema: Optional[dict]) -> DataFrame:
        """Read a stage's Parquet back.  With the manifest's recorded
        schema the read launches no Spark job; without one (manifests
        written before schemas were recorded) Spark infers it from the
        footers, which costs one job.  Spark reads Parquet back all
        nullable either way, so both give the same schema."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(self._spark_path(name))

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        inputs: Optional[list[str]] = None,
        quarantine_fn: Optional[Callable[[], DataFrame]] = None,
        mode: str = "overwrite",
        params: Optional[dict] = None,
    ) -> DataFrame:
        d, mpath = self._paths(name)
        man = self._read_json(mpath)
        if self._resume_ok(man, inputs, params):
            return self._read_back(name, man.get("schema"))
        t0 = time.time()
        df = fn()
        df.write.mode(mode).parquet(self._spark_path(name))
        parts = _partition_metrics(self._fs, d)
        quarantined = None
        if quarantine_fn is not None:
            qname = f"{name}__quarantine"
            qdf = quarantine_fn()
            qdf.write.mode(mode).parquet(self._spark_path(qname))
            qd, _ = self._paths(qname)
            quarantined = sum(m["rows"] for m in _partition_metrics(self._fs, qd))
        man = {
            "stage": name,
            "inputs": inputs or [],
            "params": params,
            "complete": True,
            "wall_sec": round(time.time() - t0, 3),
            "rows": sum(m["rows"] for m in parts),
            "bytes": sum(m["bytes"] for m in parts),
            "n_partitions": len(parts),
            "partitions": parts,
            "quarantined_rows": quarantined,
            "schema": df.schema.jsonValue(),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = mpath + ".tmp"
        with self._fs.open_output_stream(tmp) as f:
            f.write(json.dumps(man, indent=1).encode("utf-8"))
        self._fs.move(tmp, mpath)  # atomic on local/HDFS; copy+delete on S3
        return self._read_back(name, man["schema"])

    def load(self, name: str) -> DataFrame:
        """Read back a COMPLETED parquet stage without offering a
        compute function — the cross-run consumption path (incremental
        appends read the base run's signature/pair tables this way).
        Raises if the stage never completed: silently recomputing here
        would defeat the caller's no-recompute contract."""
        man = self.manifest(name)
        if not (man and man.get("complete", False)):
            raise ValueError(
                f"stage {name!r} has no complete manifest under"
                f" {self.root!r} — run its pipeline first"
            )
        return self._read_back(name, man.get("schema"))

    def _register_bucketed(
        self, tbl: str, loc: str, bucket_col: str, n_buckets: int,
        schema: Optional[dict],
    ) -> DataFrame:
        """Re-create the bucketed-table catalog entry over EXISTING
        stage files — the cross-driver-restart resume path: the
        in-memory catalog died with the old session, the external data
        did not.  Spark encodes the bucket id in each file name at
        write time, so a table re-registered with the same CLUSTERED BY
        spec scans the old files ``Bucketed: true`` (asserted in
        tests/test_checkpoint_storage.py).  The column list comes from
        the manifest's schema when it has one, else from inference."""
        fields = (
            StructType.fromJson(schema) if schema is not None
            else self.spark.read.parquet(loc).schema
        ).fields
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in fields
        )
        self.spark.sql(
            f"CREATE TABLE `{tbl}` ({cols}) USING PARQUET"
            f" CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`)"
            f" INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
        return self.spark.table(tbl)

    def stage_bucketed(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        bucket_col: str,
        n_buckets: int = 64,
        inputs: Optional[list[str]] = None,
        params: Optional[dict] = None,
    ) -> DataFrame:
        """Like :meth:`stage`, but materializes through
        ``storage.write_bucketed`` (hash-bucketed ``saveAsTable``), so
        every downstream join/aggregation keyed on ``bucket_col`` reads
        co-located buckets and plans NO Exchange — the stage boundary
        doubles as the shuffle boundary for the whole downstream fan-out.
        The catalog table name is the stage name suffixed with a hash
        of the checkpoint root — the catalog is SESSION-GLOBAL while
        work dirs are per-pipeline, so a bare stage name would let two
        pipelines (or one resumed after another ran) silently overwrite
        and then read back each other's rows.  The manifest (same
        schema as parquet stages, plus bucket metadata, the table name
        and data location) still lives under the checkpoint root, with
        per-file metrics read from the table's parquet footers.

        The table is EXTERNAL with its data under the checkpoint root
        (``<root>/<name>/data``), never managed-in-warehouse: the
        default in-memory catalog dies with the driver while the files
        persist, so a managed table would make a cross-PROCESS resume —
        the Checkpointer's whole purpose — see ``tableExists()=False``,
        recompute, and then crash on the leftover warehouse location
        (``mode('overwrite')`` only applies to catalog-registered
        tables).  On resume without a live registration the bucket spec
        is re-created over the existing files (bucket ids ride the
        Spark file-name encoding, so a re-registered table still scans
        ``Bucketed: true``)."""
        _, mpath = self._paths(name)
        tbl = f"{name}_{self._root_digest()}"
        loc = self._spark_path(name) + "/data"
        man = self.manifest(name)
        if (
            self._resume_ok(man, inputs, params)
            and man.get("bucket_col") == bucket_col
            and man.get("n_buckets") == n_buckets
        ):
            if self.spark.catalog.tableExists(tbl):
                return self.spark.table(tbl)
            if man.get("location"):
                return self._register_bucketed(
                    tbl, man["location"], bucket_col, n_buckets,
                    man.get("schema"),
                )
            # legacy managed-table manifest (no recorded location): the
            # registration died with its session and the data lives in
            # that session's warehouse — recompute below (the stale
            # warehouse dir is cleared first)
        t0 = time.time()
        from .storage import write_bucketed

        # clear any dead registration plus leftover data at BOTH
        # candidate locations: the external path we are about to write,
        # and a legacy managed-warehouse dir whose mere existence makes
        # saveAsTable raise LOCATION_ALREADY_EXISTS
        self.spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        for stale in (loc, warehouse.rstrip("/") + "/" + tbl.lower()):
            try:
                sfs, spath = _fs_for(stale)
                if sfs.get_file_info(spath).type != pafs.FileType.NotFound:
                    sfs.delete_dir(spath)
            except Exception:
                pass  # unreachable scheme / already gone — write decides
        write_bucketed(fn(), tbl, bucket_col, n_buckets, path=loc)
        out = self.spark.table(tbl)
        parts = _file_metrics(out.inputFiles())
        man = {
            "stage": name,
            "inputs": inputs or [],
            "params": params,
            "complete": True,
            "wall_sec": round(time.time() - t0, 3),
            "rows": sum(m["rows"] for m in parts),
            "bytes": sum(m["bytes"] for m in parts),
            "n_partitions": len(parts),
            "partitions": parts,
            "quarantined_rows": None,
            "schema": out.schema.jsonValue(),
            "table": tbl,
            "location": loc,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        d, _ = self._paths(name)
        self._fs.create_dir(d, recursive=True)
        tmp = mpath + ".tmp"
        with self._fs.open_output_stream(tmp) as f:
            f.write(json.dumps(man, indent=1).encode("utf-8"))
        self._fs.move(tmp, mpath)
        return out

    def lineage(self) -> dict[str, dict]:
        """All stage manifests keyed by stage name."""
        out = {}
        infos = self._fs.get_file_info(
            pafs.FileSelector(self._root_path, recursive=False)
        )
        for info in sorted(infos, key=lambda i: i.base_name):
            if info.type == pafs.FileType.Directory:
                m = self.manifest(info.base_name)
                if m:
                    out[info.base_name] = m
        return out
