"""Seeded web-graph inputs for the benchmark.

Everything here is built from Spark expressions over ``spark.range``
with ``xxhash64`` of (position, seed) as the only source of variation:
no ``rand()``, so one seed gives the same pages, and the same deltas,
on any partitioning and any number of cores. The generator is the
benchmark's own; it does not call the engine's fixtures, so a change to
those cannot change the benchmark's input.

The link graph has what Louvain, triangles and components need to do
real work:

- power-law out-degrees: ``d = floor(d_min * u^(-1/(alpha-1)))``, capped;
- host locality: pages are grouped into hosts of ``host_pages``
  consecutive ids, and a share ``p_local`` of links stays on the host,
  so hosts form communities and close triangles;
- power-law in-degrees for off-host links: the target rank is
  ``floor(n * v^skew)``, scattered over the id space by a hash, so the
  hubs sit on many hosts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class WebGraphSpec:
    pages: int
    host_pages: int = 48
    d_min: int = 4
    d_max: int = 160
    alpha: float = 2.3
    p_local: float = 0.75
    skew: float = 2.0


def _unit(*cols: Column) -> Column:
    """A value in [0, 1) hashed from ``cols``."""
    return F.pmod(F.xxhash64(*cols), F.lit(1 << 30)) / float(1 << 30)


def url_col(page: Column, host_pages: int) -> Column:
    return F.concat(
        F.lit("https://h"),
        (page / host_pages).cast("long").cast("string"),
        F.lit(".example/p"),
        page.cast("string"),
    )


def link_targets(spark: SparkSession, spec: WebGraphSpec, seed: int) -> DataFrame:
    """(page, k, dst): the k-th out-link of every page."""
    n, h = spec.pages, spec.host_pages
    page = F.col("id")
    s = F.lit(seed)
    u = _unit(page, s, F.lit(1))
    deg = F.least(
        F.lit(spec.d_max),
        F.floor(F.lit(float(spec.d_min)) * F.pow(1.0 - u, -1.0 / (spec.alpha - 1.0))),
    ).cast("int")
    k = F.col("k")
    host0 = (page / h).cast("long") * h
    host_len = F.least(F.lit(h), F.lit(n) - host0)
    local = host0 + F.pmod(F.xxhash64(page, k, s, F.lit(2)), host_len)
    rank = F.floor(F.lit(float(n)) * F.pow(_unit(page, k, s, F.lit(3)), spec.skew))
    remote = F.pmod(F.xxhash64(rank.cast("long"), s, F.lit(4)), F.lit(n))
    dst = F.when(_unit(page, k, s, F.lit(5)) < spec.p_local, local).otherwise(remote)
    return (
        spark.range(n)
        .select(page, F.explode(F.sequence(F.lit(0), deg - 1)).alias("k"))
        .select(F.col("id").alias("page"), "k", dst.alias("dst"))
    )


def make_web_pages(spark: SparkSession, spec: WebGraphSpec, seed: int) -> DataFrame:
    """Pages table ``(url string, html binary)`` whose anchors encode the
    seeded link graph, one ``<a href>`` per link in generation order."""
    h = spec.host_pages
    anchors = (
        link_targets(spark, spec, seed)
        .groupBy("page")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "dst"))),
                    lambda x: F.concat(
                        F.lit('<a href="'), url_col(x["dst"], h), F.lit('">l</a>')
                    ),
                ),
                "",
            ).alias("body")
        )
    )
    return anchors.select(
        url_col(F.col("page"), h).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>page "),
                F.col("page").cast("string"),
                F.lit("</p>"),
                F.col("body"),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )


def delta_batch(
    edges: DataFrame, spec: WebGraphSpec, seed: int, step: int,
    inserts: int, delete_per_mille: int,
) -> DataFrame:
    """One edge-delta batch ``(op, src, dst, w)`` against ``edges`` in
    dense-id space: ``inserts`` new links (host-local like the base
    graph) and about ``delete_per_mille``/1000 of the existing
    undirected pairs deleted. Deterministic in (seed, step)."""
    spark = edges.sparkSession
    n, h = spec.pages, spec.host_pages
    s, t = F.lit(seed), F.lit(step)
    i = F.col("id")
    src = F.pmod(F.xxhash64(i, s, t, F.lit(6)), F.lit(n))
    host0 = (src / h).cast("long") * h
    local = host0 + F.pmod(F.xxhash64(i, s, t, F.lit(7)), F.least(F.lit(h), F.lit(n) - host0))
    remote = F.pmod(F.xxhash64(i, s, t, F.lit(8)), F.lit(n))
    dst = F.when(_unit(i, s, t, F.lit(9)) < spec.p_local, local).otherwise(remote)
    ins = (
        spark.range(inserts)
        .select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select(F.lit("ins").alias("op"), "src", "dst", F.lit(1.0).alias("w"))
    )
    dels = edges.where(
        (F.col("src") < F.col("dst"))
        & (F.pmod(F.xxhash64("src", "dst", s, t, F.lit(10)), F.lit(1000)) < delete_per_mille)
    ).select(F.lit("del").alias("op"), "src", "dst", F.lit(0.0).alias("w"))
    return ins.unionByName(dels)
