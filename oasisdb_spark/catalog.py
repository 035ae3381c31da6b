"""Collection catalog + document store over Parquet directories.

Reference mapping (SURVEY.md §1.1, §2.1):
- create/get/list/delete collection  → internal/db/collection.go:37-143 (S2-S5)
- upsert/batch-upsert document       → internal/db/document.go:53-92,249-347 (S6-S8)
- get/delete document                → document.go:95-133 (S9-S10)
- set_params                         → handlers.go:323-354 (S11)

Architecture: the reference splits a document into an LSM KV record
(metadata) and an in-memory vector index entry, coordinated by WAL +
snapshot machinery (~1.5k LoC). On Spark all of that collapses into
immutable Parquet tables (SURVEY.md §1.4): a collection is a directory
of row-groups, and upsert/delete are read-merge-rewrite into a fresh
GENERATION directory behind an atomically-flipped pointer file
(lock-free snapshot isolation for readers — see _atomic_overwrite).
Deletes are CORRECT here — the reference's IVF delete is a no-op TODO
(ivf.go:170-173) and HNSW only tombstones (hnswalg.h:925).

The catalog is one JSON file, name → Collection fields (the reference's
JSON record under ``collection:{name}``, collection.go:50,80-87). Every
call reads it afresh — no Spark job, and two Catalog objects on one
warehouse stay coherent — and every write replaces it whole with the
same temp-file + os.replace step as the generation pointers, so an
unlocked reader never sees a torn catalog.

Scale notes: per-collection data lives partitioned; rewrite-on-upsert is
the Parquet-only equivalent of Delta MERGE (documented trade-off — with
Delta/Iceberg available the write path becomes MERGE INTO and is
incremental). Point lookups (get_document) push an id predicate to the
parquet scan (min/max pruning).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasisdb_spark import errors

__all__ = ["Catalog", "Collection"]

INDEX_TYPES = ("flat", "ivf_flat", "ivfpq", "ivfsq", "binq", "hnsw")  # const.go:10-15 + the SQ8/BQ extension tiers
SPACES = ("l2", "ip", "cos", "hamming")  # const.go:3-8
DEFAULT_INDEX_TYPE = "hnsw"  # collection.go:45-47
DEFAULT_SPACE = "l2"  # collection.go:63

# Default tuning params, mirroring internal/index/const.go:18-36.
DEFAULT_PARAMS = {
    "hnsw": {"M": "16", "efConstruction": "200", "efsearch": "10", "maxElements": "100000"},
    "ivf_flat": {"nlist": "100", "nprobe": "10"},
    "ivfpq": {"nlist": "100", "nprobe": "10", "m": "8", "nbits": "8"},
    "ivfsq": {"nlist": "100", "nprobe": "10"},
    "binq": {"refine_factor": "8"},
    "flat": {},
}
# The params set_params accepts (handlers.go:323-354).
PARAM_KEYS = {"efsearch", "nprobe", "M", "efConstruction", "nlist", "m", "nbits", "maxElements", "refine_factor"}

_DOC_SCHEMA_FIELDS = [
    T.StructField("id", T.StringType(), False),
    T.StructField("vector", T.ArrayType(T.FloatType()), True),
    T.StructField("parameters", T.MapType(T.StringType(), T.StringType()), True),
]


@dataclass
class Collection:
    name: str
    dimension: int
    index_type: str
    space: str
    params: dict = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)
    index_version: int = 0


def _check_params(index_type: str, dimension: int, params: dict) -> None:
    """Validate a collection's full params, as create_collection stores
    them and as set_params would leave them: every known key is a
    positive integer (nlist may be "auto", sqrt(N) sizing resolved at
    build time), and ivfpq needs dimension % m == 0 with 8-bit codes
    (ivfpq.go:98-103). Keys outside PARAM_KEYS are not checked: a key a
    catalog.json already holds, but set_params no longer accepts, is
    ignored rather than locking the collection's params."""
    for k in PARAM_KEYS & params.keys():
        v = params[k]
        if k == "nlist" and str(v).lower() == "auto":
            continue
        try:
            n = int(v)
        except (TypeError, ValueError):
            raise errors.ErrInvalidParams(f"param {k} must be an integer, got {v!r}") from None
        if n <= 0:
            raise errors.ErrInvalidParams(f"param {k} must be positive, got {v}")
    if index_type == "ivfpq":
        m = int(params.get("m", "8"))
        if dimension % m != 0:
            raise errors.ErrInvalidParams(
                f"ivfpq requires dimension % m == 0, got dim={dimension}, m={m}"
            )
        if int(params.get("nbits", "8")) != 8:
            raise errors.ErrInvalidParams("ivfpq supports nbits=8 only")


def _replace_file(path: str, text: str) -> None:
    """Atomically replace ``path`` with ``text``: write a temp file in the
    same directory, then os.replace it over the target (atomic on POSIX;
    on S3/HDFS the equivalent is a conditional PUT). A failure leaves the
    old file untouched."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:6]}"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class Catalog:
    """All collection state under one warehouse directory.

    Layout:
      warehouse/catalog.json                     name → Collection fields
      warehouse/collections/{name}/data/         document rows (g* generations + _current)
      warehouse/collections/{name}/tombstones/   ids deleted since the last build (same layout)
      warehouse/collections/{name}/index/v{N}/   index tables (see index/)
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._catalog_file = os.path.join(warehouse, "catalog.json")
        if os.path.isdir(os.path.join(warehouse, "_collections")) and not os.path.exists(
            self._catalog_file
        ):
            raise errors.OasisError(
                f"{warehouse} has an old Parquet catalog (_collections/) and no catalog.json; "
                "convert it with the recipe in MIGRATING.md §7"
            )
        os.makedirs(warehouse, exist_ok=True)

    # ---------- paths ----------
    def _coll_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, "collections", name)

    def data_path(self, name: str) -> str:
        return os.path.join(self._coll_dir(name), "data")

    def index_path(self, name: str, version: int) -> str:
        return os.path.join(self._coll_dir(name), "index", f"v{version}")

    def tombstone_path(self, name: str) -> str:
        return os.path.join(self._coll_dir(name), "tombstones")

    # ---------- catalog io ----------
    def _records(self) -> dict[str, dict]:
        """name → asdict(Collection); {} before the first create."""
        try:
            with open(self._catalog_file) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _save(self, records: dict[str, dict]) -> None:
        _replace_file(self._catalog_file, json.dumps(records, indent=1, sort_keys=True))

    @staticmethod
    def _record(records: dict[str, dict], name: str) -> dict:
        if name not in records:
            raise errors.ErrCollectionNotFound(f"collection {name!r} not found")
        return records[name]

    # Generation-versioned overwrite. The round-2 implementation renamed
    # the live directory aside and deleted it after the swap; a reader
    # whose scan was in flight (FileScanRDD holds resolved file paths)
    # hit FileNotFound — caught by scripts/stress_test.py on its first
    # run (the reference's compact_test.py failure class). Generations
    # make every scan target immutable: a write lands in a fresh g* dir
    # and flips a one-line pointer file with _replace_file. Nothing a
    # reader can hold is ever renamed; superseded generations are GC'd
    # keep-2 + age-gated, bounding disk at ~2-3× live data between
    # writes (the same predecessor-retention policy as the index-version
    # GC in search.build_index).
    _GC_KEEP = 2              # generations always retained (current + predecessor)
    _GC_MIN_AGE_S = 120.0     # older generations must also be this stale

    def _resolve(self, path: str) -> str | None:
        """Current generation dir of a versioned table root; None when it
        has none (never written, or tombstones cleared by a rebuild)."""
        try:
            with open(os.path.join(path, "_current")) as fh:
                return os.path.join(path, fh.read().strip())
        except FileNotFoundError:
            return None

    def _atomic_overwrite(self, df: DataFrame, path: str) -> None:
        """Write a new immutable generation then atomically flip the
        pointer — the equivalent of the reference's WAL+snapshot recovery
        story (SURVEY.md §1.4), with lock-free snapshot-isolated readers."""
        os.makedirs(path, exist_ok=True)
        prev = self._resolve(path)
        gen = f"g{time.time_ns():020d}_{uuid.uuid4().hex[:6]}"
        df.write.mode("overwrite").parquet(os.path.join(path, gen))
        _replace_file(os.path.join(path, "_current"), gen)
        # stamp the SUPERSEDED target's mtime = flip time, so the GC age
        # gate measures time-since-supersession, not time-since-creation.
        # Gating on creation mtime left a hole: a table idle >120 s then
        # written twice quickly would GC the old generation with zero
        # grace for a reader that resolved it moments earlier (the
        # FileNotFound race the generations exist to prevent).
        if prev is not None:
            try:
                os.utime(prev)
            except OSError:
                pass  # concurrent GC already removed it
        self._gc_generations(path)

    def _gc_generations(self, path: str) -> None:
        """Remove superseded generations once they are both (a) older
        than the keep-2 window and (b) stale for _GC_MIN_AGE_S since
        SUPERSESSION (mtime stamped at pointer flip) — long enough for
        any in-flight reader's job to finish."""
        gens = sorted(d for d in os.listdir(path) if d.startswith("g"))
        now = time.time()
        for d in gens[: -self._GC_KEEP] if len(gens) > self._GC_KEEP else []:
            full = os.path.join(path, d)
            try:
                if now - os.path.getmtime(full) >= self._GC_MIN_AGE_S:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass  # concurrent GC — already gone

    # ---------- collection CRUD (S2-S5) ----------
    def create_collection(
        self,
        name: str,
        dimension: int,
        index_type: str = DEFAULT_INDEX_TYPE,
        space: str = DEFAULT_SPACE,
        params: dict | None = None,
        metadata: dict | None = None,
    ) -> Collection:
        if not name:
            raise errors.ErrInvalidCollectionName("collection name must be non-empty")
        if dimension <= 0:
            raise errors.ErrInvalidDimension(f"dimension must be > 0, got {dimension}")
        if index_type not in INDEX_TYPES:
            raise errors.ErrInvalidParams(f"unknown index type {index_type!r}")
        if space not in SPACES:
            raise errors.ErrInvalidParams(f"unknown space {space!r}")
        merged = dict(DEFAULT_PARAMS.get(index_type, {}))
        merged.update({k: str(v) for k, v in (params or {}).items()})
        _check_params(index_type, dimension, merged)
        if index_type in ("ivfpq", "ivfsq", "binq") and space == "hamming":
            # quantized codes are not a binary representation; hamming
            # collections use flat (packed XOR-popcount kernel) or IVF
            raise errors.ErrInvalidParams(
                f"{index_type} does not support the hamming space; use flat or ivf_flat"
            )
        records = self._records()
        if name in records:
            raise errors.ErrCollectionExists(f"collection {name!r} already exists")
        coll = Collection(name, dimension, index_type, space, merged, dict(metadata or {}), 0)
        records[name] = asdict(coll)
        self._save(records)
        os.makedirs(self._coll_dir(name), exist_ok=True)
        return coll

    def get_collection(self, name: str) -> Collection:
        return Collection(**self._record(self._records(), name))

    def list_collections(self) -> list[str]:
        return sorted(self._records())

    def delete_collection(self, name: str) -> None:
        records = self._records()
        self._record(records, name)
        del records[name]
        self._save(records)
        shutil.rmtree(self._coll_dir(name), ignore_errors=True)

    def set_params(self, name: str, params: dict) -> None:
        """S11 set_params — runtime knobs (efsearch/nprobe). Stored in the
        catalog; the search planner reads them (handlers.go:323-354)."""
        records = self._records()
        rec = self._record(records, name)
        for k in params:
            if k not in PARAM_KEYS:
                raise errors.ErrInvalidParams(f"unknown param {k!r}")
        merged = {**rec["params"], **{k: str(v) for k, v in params.items()}}
        _check_params(rec["index_type"], rec["dimension"], merged)
        rec["params"] = merged
        self._save(records)

    def bump_index_version(self, name: str) -> int:
        records = self._records()
        rec = self._record(records, name)
        rec["index_version"] += 1
        self._save(records)
        # a fresh build reads the live doc store, so deletes accumulated
        # against the previous version are baked in — clear the
        # tombstones by removing their pointer (read_tombstones then
        # returns None). Never rmtree: an in-flight search holds resolved
        # file paths into the superseded generation (FileScanRDD), and
        # deleting it under the reader raced to
        # FAILED_READ_FILE.FILE_NOT_EXIST in scripts/stress_test.py. The
        # generation is stamped as superseded and left to the age-gated
        # GC of the next tombstone write.
        prev = self._resolve(self.tombstone_path(name))
        if prev is not None:
            os.remove(os.path.join(self.tombstone_path(name), "_current"))
            os.utime(prev)
        return rec["index_version"]

    def read_tombstones(self, name: str) -> DataFrame | None:
        """Ids deleted since the current index version was built (None if
        no deletes). Tiny by construction — broadcast anti-joined by the
        indexed search paths. Generation-versioned like the doc store:
        every scan targets an immutable g* dir, so concurrent delete /
        rebuild-clear can never unlink files under a reader."""
        p = self._resolve(self.tombstone_path(name))
        if p is None:
            return None
        # explicit schema: a generation written from an empty frame can
        # hold zero parquet footers; schema inference would throw
        # UNABLE_TO_INFER_SCHEMA
        return self.spark.read.schema("id STRING").parquet(p)

    # ---------- document CRUD (S6-S10) ----------
    def read_documents(self, name: str) -> DataFrame:
        self.get_collection(name)  # existence check, matching document.go:136-145
        p = self._resolve(self.data_path(name))
        if p is None:
            return self.spark.createDataFrame([], T.StructType(_DOC_SCHEMA_FIELDS))
        # explicit schema: no inference job, and a generation written
        # from an empty frame (no parquet footers) reads as 0 rows
        return self.spark.read.schema(T.StructType(_DOC_SCHEMA_FIELDS)).parquet(p)

    def _validate_dims(self, df: DataFrame, dimension: int) -> DataFrame:
        """Ingest-time row assertion (document.go:70-73,280-285).

        A NULL vector must NOT pass: size(NULL) != d evaluates to NULL
        and the filter silently dropped it, letting the row through to
        crash index builds deep in np.array (the Go reference rejects a
        nil slice as a dimension mismatch — len(nil)=0). A NULL id is
        rejected too: the newest-wins merge and every point lookup key
        on id, so an id-less document is unaddressable."""
        bad = df.filter(
            F.col("id").isNull()
            | F.col("vector").isNull()
            | (F.size("vector") != dimension)
        ).limit(1).collect()
        if bad:
            if bad[0]["id"] is None:
                raise errors.ErrInvalidParams("document id must be non-NULL")
            got = (
                "NULL" if bad[0]["vector"] is None else len(bad[0]["vector"])
            )
            raise errors.ErrDimensionMismatch(
                f"vector dimension {got} != collection dimension {dimension}"
            )
        return df

    def upsert_documents(self, name: str, docs: DataFrame) -> None:
        """Batch upsert (S6/S7): newest row per id wins. Implemented as
        union + window-dedupe + atomic rewrite — the Parquet-only MERGE.
        """
        coll = self.get_collection(name)
        docs = docs.select(
            F.col("id").cast("string").alias("id"),
            F.col("vector").cast("array<float>").alias("vector"),
            (docs["parameters"] if "parameters" in docs.columns else F.lit(None)).alias("parameters"),
        ).withColumn("parameters", F.col("parameters").cast("map<string,string>"))
        self._validate_dims(docs, coll.dimension)
        existing = self.read_documents(name)
        merged = existing.withColumn("_gen", F.lit(0)).unionByName(
            docs.withColumn("_gen", F.lit(1))
        )
        w = Window.partitionBy("id").orderBy(F.col("_gen").desc())
        deduped = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_gen")
        )
        self._atomic_overwrite(deduped, self.data_path(name))

    def get_document(self, name: str, doc_id: str):
        rows = self.read_documents(name).filter(F.col("id") == str(doc_id)).collect()
        if not rows:
            raise errors.ErrDocumentNotFound(f"document {doc_id!r} not found in {name!r}")
        return rows[0].asDict()

    def delete_document(self, name: str, doc_id: str) -> None:
        """Correct delete (the reference's vector delete is partial/broken —
        ivf.go:170-173 no-op, index_manager.go:537-538 'TODO: fix delete').
        If an index is built, the id is also tombstoned so indexed
        searches exclude it until the next rebuild bakes the delete in."""
        coll = self.get_collection(name)
        existing = self.read_documents(name)
        if existing.filter(F.col("id") == str(doc_id)).limit(1).count() == 0:
            raise errors.ErrDocumentNotFound(f"document {doc_id!r} not found in {name!r}")
        self._atomic_overwrite(existing.filter(F.col("id") != str(doc_id)), self.data_path(name))
        if coll.index_version > 0 and coll.index_type != "flat":
            # read-merge-flip (not append): the tombstone set is tiny by
            # construction, and a generation flip keeps every scan target
            # immutable for concurrent readers. Like the reference's
            # global-lock writes, concurrent deleters are last-writer-wins.
            new = self.spark.createDataFrame([(str(doc_id),)], "id STRING")
            prev = self.read_tombstones(name)
            ts = new if prev is None else prev.unionByName(new).distinct()
            self._atomic_overwrite(ts.coalesce(1), self.tombstone_path(name))

    def count_documents(self, name: str) -> int:
        return self.read_documents(name).count()

    def compact_collection(self, name: str, target_files: int = 4) -> int:
        """Small-file compaction — the Parquet analog of the reference's
        LSM leveled compaction (tree_compact.go:36-107): many small
        upsert outputs are rewritten as ``target_files`` id-range-sorted
        files. Range partitioning + in-file sort give parquet min/max
        id stats real pruning power, so point lookups (S9) touch one
        file — the same read-amplification win compaction buys an LSM.
        Returns the number of data files after the rewrite."""
        docs = self.read_documents(name)
        compacted = docs.repartitionByRange(target_files, "id").sortWithinPartitions("id")
        self._atomic_overwrite(compacted, self.data_path(name))
        return len(
            [f for f in os.listdir(self._resolve(self.data_path(name))) if f.endswith(".parquet")]
        )
