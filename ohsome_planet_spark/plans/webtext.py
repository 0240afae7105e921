"""One-call webtext pipeline: WARC archives → curated corpus → geo tiles.

The full end-to-end story of this engine's web-scale side, mirroring how
`plans/contributions.py` is the one-call OSM side:

    WARC files                  (sources/warc.read_warc)
      → unicode NFC cleanup     (functions/text.normalize_text_col)
      → canonical-URL dedup     (operators/urls.dedup_latest_per_url keeps
                                 the newest capture per canonical URL)
      → corpus curation         (plans/corpus.curate_corpus: exact dedup,
                                 LSH near-dup clusters, quality, Gopher,
                                 decontamination, mixture — all optional
                                 knobs pass through)
      → enrichment              (plans/enrich: extract → geocode →
                                 PIP countries → cell encodes)
      → per-tile counts         (tile_counts_from_enriched)

Everything between the WARC scan and the final aggregate is a single lazy
DataFrame DAG unless curation's manifest is requested — Catalyst sees the
whole plan, the polygon index and gazetteer broadcast, and the only
corpus-wide shuffles are the ones each stage documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def crawl_to_tiles(
    spark: SparkSession,
    warc_glob: str,
    features=None,
    gazetteer: DataFrame | None = None,
    curation_kwargs: dict | None = None,
    salted: bool = True,
    min_domain_in_degree: int | None = None,
    honor_robots_noindex: bool = False,
    honor_robots_txt: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Returns (tile_counts, curation_manifest).

    min_domain_in_degree: drop pages whose domain earns fewer inbound
    domain links than this across the whole crawl (spam farms and orphan
    hosts have no independent citations) — the link graph is built from
    the SAME WARC scan before any curation. honor_robots_noindex drops
    pages whose <meta name="robots"> opts out; honor_robots_txt parses
    the crawl's OWN robots.txt responses (any captured /robots.txt per
    domain) and drops pages a `User-agent: *` Disallow rule covers. Both
    run before anything else."""
    from ..functions.text import normalize_text_col
    from ..operators.urls import dedup_latest_per_url
    from ..plans.corpus import curate_corpus
    from ..plans.enrich import enrich_pages, tile_counts_from_enriched
    from ..sources.warc import read_warc

    pages = read_warc(spark, warc_glob).withColumn(
        "text", normalize_text_col(F.col("text"))
    )
    if honor_robots_txt:
        from ..operators.robots import (
            filter_robots_disallowed,
            parse_robots,
        )

        # robots bodies come from the RAW payload — the text column is
        # html_to_text output, which collapses the line structure
        robots = pages.where(F.col("url").endswith("/robots.txt")).select(
            "url", F.decode(F.col("html"), "UTF-8").alias("text"))
        pages = pages.where(~F.col("url").endswith("/robots.txt"))
        pages = filter_robots_disallowed(pages, parse_robots(robots))
    if honor_robots_noindex:
        from ..operators.linkgraph import filter_indexable

        pages = filter_indexable(pages)
    if min_domain_in_degree is not None:
        from ..operators.linkgraph import (
            degree_stats,
            domain_edges,
            extract_links,
        )
        from ..operators.urls import host_col

        deg = degree_stats(domain_edges(extract_links(pages)))
        keep = deg.where(
            F.col("in_degree") >= min_domain_in_degree).select("domain")
        pages = pages.join(
            F.broadcast(keep),
            host_col(F.col("url")) == F.col("domain"), "left_semi",
        )
    latest = dedup_latest_per_url(pages)
    pages = pages.join(
        latest.select(F.col("latest_url").alias("url"),
                      F.col("latest_ts").alias("warc_ts")),
        ["url", "warc_ts"], "left_semi",
    )
    docs = pages.select(
        F.abs(F.xxhash64("url")).alias("doc_id"), "url", "warc_ts",
        "html", "text", "lang", F.lit("warc").alias("source"),
    )
    clean, manifest = curate_corpus(docs, **(curation_kwargs or {}))
    curated_pages = clean.select("url", "warc_ts", "html", "text", "lang")
    enriched = enrich_pages(
        spark, curated_pages, features=features, gazetteer=gazetteer,
        with_geometry=False,
    )
    return tile_counts_from_enriched(enriched, salted=salted), manifest


def crawl_link_graph(
    spark: SparkSession,
    warc_glob: str,
    iterations: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """WARC archives → domain link graph with degrees + PageRank.

    The authority-side twin of `crawl_to_tiles`: the same WARC scan feeds
    `operators/linkgraph` (href extraction from the raw html, domain
    edges, degree stats, deterministic k-iteration PageRank). Returns
    (domain, out_degree, in_degree, links_out, links_in, rank) — the
    signal a curation run joins back onto pages for seed-quality or
    spam-farm filtering."""
    from ..operators.linkgraph import (
        degree_stats,
        domain_edges,
        extract_links,
        pagerank,
    )
    from ..sources.warc import read_warc

    pages = read_warc(spark, warc_glob)
    edges = domain_edges(extract_links(pages))
    return degree_stats(edges).join(
        pagerank(edges, iterations=iterations, damping=damping), "domain")
