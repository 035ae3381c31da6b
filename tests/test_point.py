"""The driver point path: search.point_search answers one query vector
from the Parquet files Spark wrote, with the rows
search_vectors(...).collect() gives for it — equal ids, ranks and float
distances — and runs no Spark job; search.point_documents does the same
for a filtered document search, and Catalog.get_document for a point
lookup."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oasisdb_spark import errors
from oasisdb_spark.catalog import Catalog
from oasisdb_spark.client import OasisClient
from oasisdb_spark.search import (
    add_to_index,
    build_index,
    filter_predicate,
    point_documents,
    point_search,
    search_documents,
    search_vectors,
)

DIM = 8
N = 150
K = 7
DOC_SCHEMA = "id STRING, vector ARRAY<FLOAT>, parameters MAP<STRING,STRING>"
PARAMS = {"nlist": "6", "nprobe": "2", "efsearch": "4", "m": "4"}  # hnsw: efsearch 4 → nprobe 2


def _base(rng: np.random.Generator) -> dict[str, list[float]]:
    """N seeded docs in a few clusters; d077 has a large norm, so a query
    near it has d077 first in l2, ip and cos alike, and a_dup is its
    exact duplicate under an id that sorts before it: the pair ties at
    the k-th distance for k=1."""
    centers = rng.normal(0, 4, (5, DIM))
    x = centers[rng.integers(0, 5, N)] + rng.normal(0, 1, (N, DIM))
    x[77] = 10 * x[77] / np.linalg.norm(x[77]) * 3
    docs = {f"d{i:03d}": x[i].tolist() for i in range(N)}
    docs["a_dup"] = docs["d077"]
    return docs


def _queries(rng: np.random.Generator, docs: dict, appended: dict) -> list[tuple[list[float], int]]:
    """(query, k): random float64 queries (not float32-exact, so the
    float32 rounding shows), one at the duplicate pair with k=1 and
    k=K, one at the tombstoned d010, one at an appended row."""
    near = lambda v: (np.asarray(v) + rng.normal(0, 1e-3, DIM)).tolist()  # noqa: E731
    qs = [(rng.normal(0, 4, DIM).tolist(), K) for _ in range(3)]
    qs += [(near(docs["d077"]), 1), (near(docs["d077"]), K), (near(docs["d010"]), K), (near(appended["n003"]), K)]
    return qs


def _spark_rows(spark, cat: Catalog, name: str, queries: list[list[float]], k: int) -> list[list[tuple]]:
    """Each query's (id, distance, rank) rows from one
    search_vectors(...).collect() over the queries as ARRAY<FLOAT>, as
    cached_search_vectors' Spark path builds them."""
    frame = [(i, [float(x) for x in q]) for i, q in enumerate(queries)]
    rows = search_vectors(cat, name, spark.createDataFrame(frame, "query_id INT, query_vec ARRAY<FLOAT>"), k).collect()
    by_query = [[(r["id"], r["distance"], r["rank"]) for r in rows if r["query_id"] == i] for i in range(len(queries))]
    return [sorted(q, key=lambda r: r[2]) for q in by_query]


def _load(spark, cat: Catalog, name: str, index_type: str, space: str, build: bool, rng) -> tuple[dict, dict]:
    """Create, load, optionally build, then append rows with NULL
    parameters through add_to_index, upsert d020 again with its vector
    negated and new parameters (an index built before keeps the old
    vector in its lists), and delete d010: the writes a served
    collection sees between rebuilds. Returns the loaded and the
    appended docs."""
    cat.create_collection(name, DIM, index_type=index_type, space=space, params=PARAMS)
    docs = _base(np.random.default_rng(7))
    rows = [(i, v, {"tag": i[-1], "grp": str(n % 3)}) for n, (i, v) in enumerate(docs.items())]
    cat.upsert_documents(name, spark.createDataFrame(rows, DOC_SCHEMA))
    if build:
        build_index(cat, name)
    appended = {f"n{i:03d}": rng.normal(0, 4, DIM).tolist() for i in range(10)}
    again = ("d020", [-x for x in docs["d020"]], {"tag": "x", "grp": "1"})
    new = spark.createDataFrame([(i, v, None) for i, v in appended.items()] + [again], DOC_SCHEMA)
    cat.upsert_documents(name, new)
    add_to_index(cat, name, new)
    cat.delete_document(name, "d010")
    return docs, appended


# the built tiers with a point path, and unbuilt twins of those without
COVERED = [("flat", True), ("ivf_flat", True), ("hnsw", True), ("ivfpq", False), ("ivfsq", False), ("binq", False)]


@pytest.mark.parametrize("space", ["l2", "ip", "cos"])
@pytest.mark.parametrize("index_type,build", COVERED, ids=[f"{t}-{'built' if b else 'unbuilt'}" for t, b in COVERED])
def test_point_search_equals_spark_search(spark, tmp_path, index_type, build, space):
    rng = np.random.default_rng(11)
    cat = Catalog(spark, str(tmp_path / "wh"))
    docs, appended = _load(spark, cat, "c", index_type, space, build, rng)
    coll = cat.get_collection("c")
    assert coll.index_version == (1 if build else 0)
    if build and index_type != "flat":
        assert cat.tombstone_ids("c") == ["d010"]
    queries = _queries(rng, docs, appended)
    spark_rows = _spark_rows(spark, cat, "c", [q for q, _ in queries], K)
    for (query, k), want in zip(queries, spark_rows):
        got = point_search(cat, "c", query, k)
        assert got == want[:k], (query, k)
        assert len(got) == k and "d010" not in [r[0] for r in got]
    tie = point_search(cat, "c", docs["d077"], 2)
    assert [r[0] for r in tie] == ["a_dup", "d077"] and tie[0][1] == tie[1][1]
    near_new = point_search(cat, "c", appended["n003"], 1)
    assert near_new[0][0] == "n003"


# no filter, one key, two keys (a non-string value compares as its str),
# the re-upserted d020's new tag only, a key no row has, and a value no
# row has
FILTERS = [None, {"tag": "3"}, {"tag": "3", "grp": 1}, {"tag": "x"}, {"absent": "1"}, {"tag": "none"}]


def _spark_docs(spark, cat: Catalog, name: str, queries: list[list[float]], k: int, flt) -> list[list[tuple]]:
    """Each query's (id, distance, rank, vector, parameters) rows from one
    Spark search_documents(...).orderBy("rank").collect(), with the
    filter's Spark predicate, as OasisClient's Spark path runs it."""
    pred = filter_predicate(flt)
    frame = spark.createDataFrame([(i, [float(x) for x in q]) for i, q in enumerate(queries)],
                                  "query_id INT, query_vec ARRAY<FLOAT>")
    rows = search_documents(cat, name, frame, k, metadata_filter=pred).orderBy("query_id", "rank").collect()
    return [
        [(r["id"], r["distance"], r["rank"], r["vector"], r["parameters"]) for r in rows if r["query_id"] == i]
        for i in range(len(queries))
    ]


@pytest.mark.parametrize("space", ["l2", "ip", "cos"])
@pytest.mark.parametrize("index_type,build", COVERED, ids=[f"{t}-{'built' if b else 'unbuilt'}" for t, b in COVERED])
def test_point_documents_equals_spark_search_documents(spark, tmp_path, index_type, build, space):
    rng = np.random.default_rng(11)
    cat = Catalog(spark, str(tmp_path / "wh"))
    docs, appended = _load(spark, cat, "c", index_type, space, build, rng)
    # a list row with no document row (add_to_index without an upsert):
    # the search finds it, and search_documents' inner join drops it
    orphan = (np.asarray(docs["d030"]) + 0.5).tolist()
    add_to_index(cat, "c", spark.createDataFrame([("o000", orphan, None)], DOC_SCHEMA))
    # deleted, then upserted again: a built index keeps d040 tombstoned
    # until the next build, though the filter's ids hold it again
    back = spark.createDataFrame([("d040", docs["d040"], {"tag": "x", "grp": "2"})], DOC_SCHEMA)
    cat.delete_document("c", "d040")
    cat.upsert_documents("c", back)
    add_to_index(cat, "c", back)
    indexed = build and index_type != "flat"
    assert ("o000" in [r[0] for r in point_search(cat, "c", orphan, N + 20)]) == indexed
    named = {"n003": appended["n003"], "d020": docs["d020"], "-d020": [-x for x in docs["d020"]],
             "o000": orphan, "d040": docs["d040"]}
    queries = [q for q, _ in _queries(rng, docs, appended)] + list(named.values())
    for flt in FILTERS:
        want = _spark_docs(spark, cat, "c", queries, K, flt)
        for query, rows in zip(queries, want):
            assert point_documents(cat, "c", query, K, flt) == rows, (flt, query)
        ids = [r[0] for rows in want for r in rows]
        by_query = dict(zip(named, want[-len(named):]))
        assert "o000" not in ids and "d010" not in ids
        if flt is None:
            # the appended rows keep their NULL parameters
            assert ("n003", None) in [(r[0], r[4]) for r in by_query["n003"]]
        elif flt in ({"absent": "1"}, {"tag": "none"}):
            assert ids == []
        elif flt == {"tag": "x"}:
            # the re-upserted d020, scored by its built vector where an
            # index holds one, and served with its stored vector
            hit = next(r for r in by_query["d020"] if r[0] == "d020")
            assert hit[3] == pytest.approx(named["-d020"], rel=1e-6)
            if space != "ip":
                assert (hit[1] < 1e-3) == indexed
            assert ("d040" in [r[0] for r in by_query["d040"]]) == (not indexed)
        else:
            assert ids and all(r[4]["tag"] == "3" for rows in want for r in rows)


@pytest.mark.parametrize("index_type", ["ivfpq", "ivfsq", "binq"])
def test_point_search_declines_built_quantized_tiers(spark, tmp_path, index_type):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("c", DIM, index_type=index_type, params=PARAMS)
    docs = _base(np.random.default_rng(7))
    cat.upsert_documents("c", spark.createDataFrame([(i, v, None) for i, v in docs.items()], DOC_SCHEMA))
    assert point_search(cat, "c", docs["d001"], 3) is not None  # unbuilt: the data scan
    assert point_documents(cat, "c", docs["d001"], 3, {"tag": "1"}) is not None
    build_index(cat, "c")
    assert point_search(cat, "c", docs["d001"], 3) is None
    assert point_documents(cat, "c", docs["d001"], 3, None) is None
    assert point_documents(cat, "c", docs["d001"], 3, {"tag": "1"}) is None


@pytest.mark.parametrize("index_type", ["flat", "ivf_flat"])
def test_point_search_declines_hamming_and_wrong_dimension(spark, tmp_path, index_type):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("h", 4, index_type=index_type, space="hamming", params={"nlist": "2"})
    cat.create_collection("l", 4, index_type=index_type, params={"nlist": "2"})
    for name in ("h", "l"):
        cat.upsert_documents(name, spark.createDataFrame([(str(i), [float(i % 2)] * 4, None) for i in range(6)], DOC_SCHEMA))
        build_index(cat, name)
    assert point_search(cat, "h", [1.0, 0.0, 1.0, 0.0], 2) is None
    assert point_search(cat, "l", [1.0, 0.0, 1.0], 2) is None
    assert point_search(cat, "l", [1.0, 0.0, 1.0, 0.0], 2) is not None
    for flt in (None, {"tag": "1"}):
        assert point_documents(cat, "h", [1.0, 0.0, 1.0, 0.0], 2, flt) is None
        assert point_documents(cat, "l", [1.0, 0.0, 1.0], 2, flt) is None
        assert point_documents(cat, "l", [1.0, 0.0, 1.0, 0.0], 2, flt) is not None


def test_point_reads_run_no_spark_jobs(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _load(spark, cat, "c", "hnsw", "l2", True, np.random.default_rng(3))
    client = OasisClient(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    calls = {
        "point_search": lambda: point_search(cat, "c", [0.5] * DIM, K),
        "get_document": lambda: cat.get_document("c", "d001"),
        "search_documents": lambda: client.search_documents("c", [0.5] * DIM, limit=K, filter={"grp": "1"})["documents"],
    }
    try:
        for name, call in calls.items():
            group = f"point-{name}-{tmp_path.name}"
            sc.setJobGroup(group, name)
            assert call()
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_get_document_keeps_null_parameters_and_raises_not_found(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("c", 2, index_type="flat")
    with pytest.raises(errors.ErrDocumentNotFound):
        cat.get_document("c", "a")  # never written: no generation
    cat.upsert_documents("c", spark.createDataFrame([("a", [1.0, 2.0], None), ("b", [3.0, 4.0], {"k": "v"})], DOC_SCHEMA))
    assert cat.get_document("c", "a") == {"id": "a", "vector": [1.0, 2.0], "parameters": None}
    assert cat.get_document("c", "b") == {"id": "b", "vector": [3.0, 4.0], "parameters": {"k": "v"}}
    with pytest.raises(errors.ErrDocumentNotFound):
        cat.get_document("c", "z")
    with pytest.raises(errors.ErrCollectionNotFound):
        cat.get_document("missing", "a")


def test_empty_generations_read_as_zero_rows(spark, tmp_path):
    """A generation written from an empty frame may hold no Parquet
    footer; the explicit schemas read it, and an empty tombstone set,
    as 0 rows."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("c", 2, index_type="ivf_flat", params={"nlist": "2"})
    assert point_search(cat, "c", [1.0, 2.0], 3) == []  # never written
    assert point_documents(cat, "c", [1.0, 2.0], 3, {"tag": "1"}) == []
    cat.upsert_documents("c", spark.createDataFrame([], DOC_SCHEMA))
    gen = cat._resolve(cat.data_path("c"))
    assert gen is not None
    assert point_search(cat, "c", [1.0, 2.0], 3) == _spark_rows(spark, cat, "c", [[1.0, 2.0]], 3)[0] == []
    assert point_documents(cat, "c", [1.0, 2.0], 3, {"tag": "1"}) == []
    with pytest.raises(errors.ErrDocumentNotFound):
        cat.get_document("c", "a")
    cat.upsert_documents("c", spark.createDataFrame([(str(i), [float(i), 0.0], None) for i in range(4)], DOC_SCHEMA))
    build_index(cat, "c")
    cat._atomic_overwrite(spark.createDataFrame([], "id STRING"), cat.tombstone_path("c"))
    assert cat.tombstone_ids("c") == []
    assert point_search(cat, "c", [1.0, 0.0], 4) == _spark_rows(spark, cat, "c", [[1.0, 0.0]], 4)[0]


def test_point_reads_skip_spark_side_files(spark, tmp_path):
    """A job's _temporary output, and any _- or .-prefixed file beside
    the data (_SUCCESS, .crc), is not rows, in a data generation or in
    an inverted list."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_collection("c", 2, index_type="ivf_flat", params={"nlist": "2", "nprobe": "2"})
    cat.create_collection("f", 2, index_type="flat")
    docs = spark.createDataFrame([(str(i), [float(i), 0.0], None) for i in range(6)], DOC_SCHEMA)
    for name in ("c", "f"):
        cat.upsert_documents(name, docs)
        build_index(cat, name)
    ghost = pa.table({"id": ["ghost"], "vector": pa.array([[2.0, 0.0]], pa.list_(pa.float32()))})
    gen = cat._resolve(cat.data_path("f"))
    lists = os.path.join(cat.index_path("c", 1), "lists")
    ghosts = [os.path.join(gen, "_temporary", "0", "part-0.parquet"), os.path.join(gen, "_ghost.parquet")]
    for c in ("cluster_id=0", "cluster_id=1"):
        ghosts += [os.path.join(lists, "_temporary", "0", c, "part-0.parquet")]
        ghosts += [os.path.join(lists, c, "_ghost.parquet"), os.path.join(lists, c, ".ghost.parquet")]
    for path in ghosts:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(ghost, path)
    for name in ("c", "f"):
        assert [r[0] for r in point_search(cat, name, [2.0, 0.0], 3)] == ["2", "1", "3"]
    with pytest.raises(errors.ErrDocumentNotFound):
        cat.get_document("f", "ghost")


def test_recreated_collection_serves_its_own_index(spark, tmp_path):
    """delete_collection then a re-create under the same name reaches the
    same index_version; the point path must serve the new index, not
    anything kept from the old one."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    for scale in (1.0, -1.0):
        cat.create_collection("c", 2, index_type="ivf_flat", params={"nlist": "2", "nprobe": "1"})
        cat.upsert_documents("c", spark.createDataFrame([(str(i), [scale * i, 1.0], None) for i in range(8)], DOC_SCHEMA))
        assert build_index(cat, "c") == 1
        got = point_search(cat, "c", [scale * 6.2, 1.0], 3)
        assert got == _spark_rows(spark, cat, "c", [[scale * 6.2, 1.0]], 3)[0]
        assert [r[0] for r in got] == ["6", "7", "5"]
        cat.delete_collection("c")
