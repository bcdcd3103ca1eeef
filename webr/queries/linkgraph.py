"""Link-graph driver queries (webr.links): real anchor extraction, degree
stats, and an oracled iterative PageRank.

Oracle design (same pattern as ``media_sniff``): each doc_id
deterministically synthesizes page HTML whose ``<a href>`` tags encode
``webr.links.link_targets`` (a mod-rule fan-out plus a deliberate hub-skew
link to doc 0). The Spark side runs the REAL pure-Python tag parser over
that HTML and the JVM-side url→doc_id parse; the DuckDB twin recomputes
the expected edges from doc_id arithmetic alone — so an extractor bug, a
quote-handling bug, or a PageRank-iteration bug all break the value-hash
match. The reference has no link analysis; this family is part of the
beyond-reference training-data-pipeline surface (crawl prioritization /
domain ranking need the link graph).

Scale notes: extraction is a shuffle-free per-row map; degrees are two
map-side-combined groupBys; PageRank is one shuffle per iteration with
the (edges ⋈ out-degree) frame cached across iterations (webr.links).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webr.links import extract_links, pagerank, synth_link_html
from webr.queries.common import doc_count, read

_PR_ITERS = 5
_PR_DAMPING = 0.85


def _link_rows(spark: SparkSession, sf: str) -> tuple[DataFrame, int]:
    """(src, href, anchor) rows from the real extractor over the
    synthesized corpus HTML."""
    d = read(spark, sf, "documents").select("doc_id")
    n_docs = doc_count(spark, sf)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src_l: list[int] = []
            href_l: list[str] = []
            anc_l: list[str] = []
            for did in pdf["doc_id"]:
                did = int(did)
                for href, anchor in extract_links(
                        synth_link_html(did, n_docs)):
                    src_l.append(did)
                    href_l.append(href)
                    anc_l.append(anchor)
            yield pd.DataFrame({
                "src": pd.Series(src_l, dtype="int64"),
                "href": pd.Series(href_l, dtype="object"),
                "anchor": pd.Series(anc_l, dtype="object")})

    return d.mapInPandas(gen, "src long, href string, anchor string"), n_docs


def _edges(spark: SparkSession, sf: str) -> tuple[DataFrame, int]:
    links, n_docs = _link_rows(spark, sf)
    edges = (links.select(
        "src",
        F.regexp_extract("href", "/d/([0-9]+)$", 1).cast("long")
        .alias("dst"))
        .distinct())
    return edges, n_docs


# the oracle's arithmetic twin of webr.links.link_targets — keep in sync
_EDGES_CTE = """
nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT d.doc_id AS src,
         (d.doc_id * 31 + 17 * j.j + 7) % nn.n AS d0
  FROM documents d CROSS JOIN nn CROSS JOIN range(3) j(j)
  WHERE j.j <= d.doc_id % 3
),
mod_edges AS (
  SELECT r.src,
         CASE WHEN r.d0 = r.src THEN (r.d0 + 1) % nn.n ELSE r.d0 END AS dst
  FROM raw r CROSS JOIN nn
),
hub_edges AS (
  SELECT doc_id AS src,
         CAST(CASE WHEN doc_id = 0 THEN 1 ELSE 0 END AS BIGINT) AS dst
  FROM documents WHERE doc_id % 10 = 0
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT * FROM mod_edges UNION ALL SELECT * FROM hub_edges)
)
"""


def q_link_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor extraction round-trip: every (src, dst, anchor) edge as the
    parser sees it. The synthesized HTML alternates quote styles,
    attribute order, tag case, and markup inside the anchor, so all
    parser branches are on the oracle path."""
    links, _ = _link_rows(spark, sf)
    return (links.select(
        "src",
        F.regexp_extract("href", "/d/([0-9]+)$", 1).cast("long")
        .alias("dst"),
        "anchor")
        .distinct()
        .orderBy("src", "dst"))


SQL_LINK_EXTRACT = f"""
WITH {_EDGES_CTE}
SELECT src, dst, 'see doc ' || CAST(dst AS VARCHAR) AS anchor
FROM edges ORDER BY src, dst
"""


def q_link_degree(spark: SparkSession, sf: str) -> DataFrame:
    """Per-page in/out degree over the extracted edge list (left joins
    from the page table so zero-in-degree pages keep a row — the hub
    skew makes doc 0's in_deg ~n/10)."""
    edges, _ = _edges(spark, sf)
    docs = read(spark, sf, "documents").select("doc_id")
    outd = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("out_deg"))
    ind = edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count("*").alias("in_deg"))
    return (docs.join(outd, "doc_id", "left").join(ind, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
            .orderBy("doc_id"))


SQL_LINK_DEGREE = f"""
WITH {_EDGES_CTE},
outd AS (SELECT src AS doc_id, count(*) AS out_deg FROM edges GROUP BY src),
ind AS (SELECT dst AS doc_id, count(*) AS in_deg FROM edges GROUP BY dst)
SELECT d.doc_id,
       COALESCE(outd.out_deg, 0) AS out_deg,
       COALESCE(ind.in_deg, 0) AS in_deg
FROM documents d
LEFT JOIN outd ON outd.doc_id = d.doc_id
LEFT JOIN ind ON ind.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_link_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """5-iteration damping-0.85 PageRank over the extracted link graph,
    hash-matched against the SAME five iterations unrolled as DuckDB
    CTEs. Both engines evaluate the identical IEEE-double expression
    tree — (1.0-0.85)/n base, 0.85 * contribution sum — so agreement at
    round-7 is arithmetic, not luck (sum-order float noise is ~1e-16
    relative, ten orders below the rounding granularity)."""
    edges, n_docs = _edges(spark, sf)
    nodes = (read(spark, sf, "documents")
             .select(F.col("doc_id").alias("id")))
    ranks = pagerank(nodes, edges, iters=_PR_ITERS, damping=_PR_DAMPING,
                     n_nodes=n_docs)
    return (ranks.select(F.col("id").alias("doc_id"),
                         F.round("r", 7).alias("pagerank"))
            .orderBy("doc_id"))


def _pr_iteration_sql(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
c{k} AS (
  SELECT e.dst AS id, sum({prev}.r / outd.out_deg) AS c
  FROM edges e
  JOIN outd ON outd.doc_id = e.src
  JOIN {prev} ON {prev}.id = e.src
  GROUP BY e.dst
),
r{k} AS (
  SELECT d.doc_id AS id,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           + 0.85::DOUBLE * COALESCE(c{k}.c, 0.0::DOUBLE) AS r
  FROM documents d LEFT JOIN c{k} ON c{k}.id = d.doc_id
)"""


SQL_LINK_PAGERANK = f"""
WITH {_EDGES_CTE},
outd AS (SELECT src AS doc_id, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id AS id, 1.0::DOUBLE / (SELECT n FROM nn) AS r
       FROM documents),
{",".join(_pr_iteration_sql(k) for k in range(1, _PR_ITERS + 1))}
SELECT id AS doc_id, round(r, 7) AS pagerank
FROM r{_PR_ITERS} ORDER BY doc_id
"""


def q_host_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level rank — the actual crawl-prioritization artifact: page
    PageRank aggregated to each page's serving host (the documents
    table's real ``source`` column plays the host), with the host's page
    count alongside. One slim broadcast-sized join (doc_id -> source)
    plus one map-side-combined groupBy on top of the page ranks; rank
    sums are rounded AFTER the host sum so both engines round the same
    IEEE double once."""
    edges, n_docs = _edges(spark, sf)
    docs = read(spark, sf, "documents").select("doc_id", "source")
    nodes = docs.select(F.col("doc_id").alias("id"))
    ranks = pagerank(nodes, edges, iters=_PR_ITERS, damping=_PR_DAMPING,
                     n_nodes=n_docs)
    out = (ranks.join(docs, ranks.id == docs.doc_id)
           .groupBy(F.col("source").alias("host"))
           .agg(F.round(F.sum("r"), 7).alias("host_rank"),
                F.count("*").alias("n_pages"))
           .orderBy(F.desc("host_rank"), "host"))
    return out


SQL_HOST_RANK = f"""
WITH {_EDGES_CTE},
outd AS (SELECT src AS doc_id, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id AS id, 1.0::DOUBLE / (SELECT n FROM nn) AS r
       FROM documents),
{",".join(_pr_iteration_sql(k) for k in range(1, _PR_ITERS + 1))}
SELECT d.source AS host, round(sum(rr.r), 7) AS host_rank,
       count(*) AS n_pages
FROM r{_PR_ITERS} rr JOIN documents d ON d.doc_id = rr.id
GROUP BY d.source ORDER BY host_rank DESC, host
"""


QUERIES = {
    "link_extract": (q_link_extract, SQL_LINK_EXTRACT),
    "link_degree": (q_link_degree, SQL_LINK_DEGREE),
    "link_pagerank": (q_link_pagerank, SQL_LINK_PAGERANK),
    "host_rank": (q_host_rank, SQL_HOST_RANK),
}
