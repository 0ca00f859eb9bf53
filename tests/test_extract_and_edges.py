"""Extraction invariants (FIXTURES.md §4) + pages→edges pipeline."""

from pyspark.sql import functions as F

from louvain_communities_openmp_spark.functions.extract import (
    extract_links_py,
    extract_text_py,
)
from louvain_communities_openmp_spark.oracle import karate, toy5
from louvain_communities_openmp_spark.sources.edges import (
    dense_ids,
    edges_from_list,
    edges_from_pages,
)
from louvain_communities_openmp_spark.sources.pages import make_pages, url_of


def test_pages_schema_and_text_byte_identity(spark):
    e = edges_from_list(spark, toy5())
    pages = make_pages(spark, e, n=5)
    rows = pages.orderBy("url").collect()
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.schema["html"].dataType.simpleString() == "binary"
    for r in rows:
        assert extract_text_py(r["html"]) == r["text"]
        assert extract_text_py(r["html"]).encode() in r["html"]


def test_extract_links_document_order_and_edge_cases():
    html = (
        b'<html><body><a href="https://x/1">link</a>'
        b'<a href="https://x/2">l</a><a href="https://x/1">dup</a>'
        b"<p>hello</p><p> world</p></body></html>"
    )
    assert extract_links_py(html) == ["https://x/1", "https://x/2", "https://x/1"]
    assert extract_text_py(html) == "hello world"
    assert extract_links_py(b"<html><body><p>t</p></body></html>") == []
    assert extract_text_py(b"<html></html>") == ""


def test_dense_ids_are_dense_and_sorted(spark):
    df = spark.createDataFrame([(f"u{i:03d}",) for i in range(97)], "url string")
    ids = dense_ids(df, "url").orderBy("id").collect()
    assert [r["id"] for r in ids] == list(range(97))
    # ids follow sort order of the value → deterministic
    assert [r["url"] for r in ids] == sorted(f"u{i:03d}" for i in range(97))


def test_dense_ids_fast_path_matches_scalable(spark):
    """collect_bound=0 forces the scalable plan; the driver-sorted fast
    path must assign identical ids on a string column (Python's
    code-point order == Spark's UTF8 binary order) with the same
    schema. Integer columns always take the scalable plan: their ids
    must be dense and follow ascending integral order."""
    strs = spark.createDataFrame(
        [(f"u{(i * 37) % 101}",) for i in range(300)] + [("Z",), ("é",), ("a",)],
        "url string",
    )
    fast = dense_ids(strs, "url", "new_id")
    slow = dense_ids(strs, "url", "new_id", collect_bound=0)
    # the fast path is a local relation, not the windowed rank
    assert "Window" not in fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" in slow._jdf.queryExecution().executedPlan().toString()
    assert [(f.name, f.dataType) for f in fast.schema] == [
        (f.name, f.dataType) for f in slow.schema
    ]
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))

    longs = spark.createDataFrame(
        [((i * 7919) % 211 - 100,) for i in range(300)] + [(2**40,), (-(2**40),)],
        "com long",
    )
    ints = spark.createDataFrame([((i * 13) % 29 - 7,) for i in range(60)], "c int")
    for df, col in ((longs, "com"), (ints, "c")):
        want = sorted({r[0] for r in df.collect()})
        rows = dense_ids(df, col, "new_id").orderBy("new_id").collect()
        assert [r["new_id"] for r in rows] == list(range(len(want)))
        assert [r[col] for r in rows] == want


def test_pages_roundtrip_recovers_graph(spark):
    """pages built from karate edges → extraction → same edge set."""
    planted = edges_from_list(spark, karate())
    pages = make_pages(spark, planted, n=34)
    edges, ids = edges_from_pages(pages, symmetric=True)
    # map back through the url dictionary: url encodes the original id
    back = (
        edges.join(ids.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("url", "src_url")
        .join(ids.withColumnRenamed("id", "dst"), "dst")
        .select(
            F.regexp_extract("src_url", r"/p(\d+)$", 1).cast("long").alias("u"),
            F.regexp_extract("url", r"/p(\d+)$", 1).cast("long").alias("v"),
            "w",
        )
    )
    got = {(r["u"], r["v"]): r["w"] for r in back.collect()}
    want = {(u, v): w for u, v, w in karate()}
    assert got == want


def test_url_of_shape(spark):
    df = spark.range(3).select(url_of(F.col("id"), 2).alias("u"))
    assert [r["u"] for r in df.orderBy("u").collect()] == [
        "https://host0.example/p0",
        "https://host0.example/p2",
        "https://host1.example/p1",
    ]
