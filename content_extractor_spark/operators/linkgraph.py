"""Host-level link graph over interleaved HTML documents.

Training-data pipelines weight and filter sources by link-graph
signals (in-degree, PageRank-style centrality); the reference itself
is host-centric (per-host profiles, per-host rate limits —
SourceHandler/ExtractionSupervisor), so the host graph is the natural
unit here too.

Scale notes:
  * `extract_host_links` is PURE Catalyst — regexp_extract_all over
    the assembled HTML, explode, host parsing via regex. Map-only up
    to the final (src, dst) distinct; no Python, no DOM build. (Anchor
    extraction doesn't need jsoup parity — href attributes are regular
    enough for a scan-speed regex, and the full DOM kernel stays
    available for cases that do.)
  * `pagerank_hosts` runs a FIXED number of iterations with one join +
    one aggregate per iteration, keyed on host — the graph after
    host-level aggregation is tiny relative to the corpus (10^6-10^8
    hosts for 10^12 docs), so iterations are cheap; out-degrees are
    computed once and reused. Deterministic: no sampling, stable
    rounding at the end only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

HREF_RE = r'href="([^"]*)"'
HOST_RE = r"^https?://([^/]+)"


def extract_host_links(docs: DataFrame) -> DataFrame:
    """Distinct (src, dst) host edges from anchor hrefs in the HTML.

    Only absolute http(s) hrefs contribute (relative links stay within
    src and carry no cross-host signal); self-loops are dropped.
    """
    hrefs = F.explode(
        F.regexp_extract_all(F.col("html"), F.lit(HREF_RE), F.lit(1))
    ).alias("href")
    dst = F.regexp_extract(F.col("href"), HOST_RE, 1)
    return (
        docs.select(F.col("host").alias("src"), hrefs)
        .withColumn("dst", dst)
        .where((F.col("dst") != "") & (F.col("dst") != F.col("src")))
        .select("src", "dst")
        .distinct()
    )


def pagerank_hosts(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    round_to: int = 6,
    graph_partitions: int | None = None,
) -> DataFrame:
    """PageRank over host edges, fixed iteration count, deterministic.

    rank_0 = 1/N; rank_{t+1}(v) = (1-d)/N + d * (sum of rank_t(u)/out(u)
    over in-edges u->v + dangling_mass_t/N). Dangling hosts (no
    out-edges) redistribute their rank uniformly — the standard
    normalization, so ranks sum to 1 at every step.

    `graph_partitions`: when the post-aggregation host graph is known
    to be small relative to the corpus (the usual case — 10^6-10^8
    hosts from 10^12 docs), coalesce the cached edge/node sets down so
    the per-iteration joins don't pay corpus-sized task scheduling.
    Leave None to keep the upstream partitioning.

    The result is materialized, and the edge/node caches are released
    before returning.
    """
    edges = edges.select("src", "dst").distinct()
    if graph_partitions is not None:
        edges = edges.coalesce(graph_partitions)
    edges = edges.cache()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    if graph_partitions is not None:
        nodes = nodes.coalesce(graph_partitions)
    nodes = nodes.cache()
    n = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(iterations):
        if it > 0:
            # r7: each iteration references the previous ranks TWICE
            # (dangling-mass branch + contribution branch), so the lazy
            # plan doubles per iteration — planning cost grows 2^t and
            # the broadcast subqueries re-derive the whole prefix.
            # Truncating per iteration keeps plans linear; the frame is
            # host-cardinality tiny by construction.
            ranks = materialize(ranks)
        with_deg = ranks.join(
            out_deg, ranks["host"] == out_deg["src"], "left"
        ).select("host", "rank", "out")
        dangling = (
            with_deg.where(F.col("out").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            with_deg.where(F.col("out").isNotNull())
            .join(edges, with_deg["host"] == edges["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["host"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0))
                       + F.col("dm") / n)
                ).alias("rank"),
            )
        )
    # materialize the (tiny) final ranks and truncate the iteration
    # lineage, THEN drop the edge/node caches — unpersisting without
    # the cut would re-derive the edges once per iteration on the
    # caller's action.
    out = materialize(
        ranks.select("host", F.round("rank", round_to).alias("rank"))
    )
    edges.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    return out


ANCHOR_RE = r'<a href="[^"]*"[^>]*>[^<]*</a>'


def extract_anchor_texts(docs: DataFrame) -> DataFrame:
    """(src, dst, anchor_text) triples from absolute-href anchors —
    the raw material for anchor-text/caption training pairs and
    link-context quality signals. Pure Catalyst: regexp_extract_all of
    whole anchors, per-element href/text extraction, map-only until the
    caller aggregates.
    """
    anchors = F.explode(
        F.regexp_extract_all(F.col("html"), F.lit(ANCHOR_RE), F.lit(0))
    ).alias("a")
    href = F.regexp_extract(F.col("a"), r'href="([^"]*)"', 1)
    text = F.trim(F.regexp_extract(F.col("a"), r">([^<]*)<", 1))
    dst = F.regexp_extract(href, HOST_RE, 1)
    return (
        docs.select(F.col("host").alias("src"), anchors)
        .select("src", dst.alias("dst"), text.alias("anchor_text"))
        .where((F.col("dst") != "") & (F.col("anchor_text") != ""))
    )


