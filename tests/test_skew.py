"""Skew-handling operators: salted aggregation equals its naive
counterpart while spreading hot keys."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark.operators.skew import salted_agg


def _skewed_df(spark, n=2000):
    # Zipf-ish: ~half the rows share one hot key
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 37).cast("string"))
        ).alias("key"),
        F.col("id"),
        (F.col("id") % 100).alias("v"),
    )


def test_salted_agg_equals_plain_groupby(spark):
    df = _skewed_df(spark)
    plain = {
        r["key"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("key")
        .agg(
            F.count("*").alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["key"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["key"],
            {"n": ("count", None), "s": ("sum", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            salt=8, id_col="id",
        ).collect()
    }
    assert salted == plain


def test_connected_components(spark):
    from content_extractor_spark.operators.components import (
        connected_components,
        dedup_groups,
    )

    # two chains + an isolated pair: {1-2-3-4}, {10-11}, {7-8}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (8, 7)], "a long, b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}
    groups = {r["comp"]: (r["members"], r["keep"]) for r in dedup_groups(edges).collect()}
    assert groups == {1: (4, 1), 10: (2, 10), 7: (2, 7)}


def test_connected_components_deep_chain(spark):
    from content_extractor_spark.operators.components import connected_components

    # a 12-node path exercises multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 13


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """Labels still changing in the last allowed round are an error,
    not a result: a 6-node path needs five rounds to settle, so two
    rounds must raise instead of returning unconverged labels."""
    from content_extractor_spark.operators import components

    monkeypatch.setattr(components, "MAX_ITER", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges)


def test_connected_components_empty_edges(spark):
    """Zero-edge input must return an empty frame without hanging —
    guards the Observation-based convergence probe (the changed-count
    sum over an empty checkpointed frame surfaces as None)."""
    from content_extractor_spark.operators.components import (
        connected_components,
    )

    empty = spark.createDataFrame([], "a int, b int")
    assert connected_components(empty).collect() == []


def test_digest_dedup_shapes_absorb_hot_keys(spark):
    """r7 de-skew guard (guide §2.5): the digest-keyed repeated-span
    shape must be partial-aggregating (groupBy), never a window — a
    window over a hot digest ships every raw row to one task and AQE
    cannot split it. One digest carrying ~20k occurrences must come
    back value-correct, and the plan must carry a HashAggregate with
    NO Window node."""
    from content_extractor_spark.operators.dedup_families import repeated_window_spans
    from content_extractor_spark.plans import plan_report

    # 20k docs sharing one 12-token text (one hot digest), plus 50
    # distinct singleton docs
    hot_text = " ".join(f"w{i}" for i in range(12))
    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.lit(hot_text).alias("text")
    ).unionByName(
        spark.range(50).select(
            (F.col("id") + 100000).alias("doc_id"),
            F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"),
        )
    )

    flagged = repeated_window_spans(docs, window=12, stride=6)
    rep = plan_report(flagged)
    assert "Window" not in rep["text"], rep["text"][:2000]
    assert "HashAggregate" in rep["text"]
    rows = flagged.collect()
    assert len(rows) == 20000  # singletons (<12 tokens anyway) drop out
    assert all(r["occurrences"] == 20000 for r in rows)


def test_cdx_digest_dedup_is_aggregate_not_window(spark):
    """Same guard for the crawl-index capture selection: earliest
    (ts, urlkey) capture per digest via min_by partial aggregation."""
    from content_extractor_spark.sources.cdx import cdx_select
    from content_extractor_spark.plans import plan_report

    captures = spark.createDataFrame(
        [
            ("k/a", "20240101000000", "sha1:X", "text/html", 200, "f1", 0, 10, None),
            ("k/b", "20230101000000", "sha1:X", "text/html", 200, "f1", 10, 10, None),
            ("k/c", "20230101000000", "sha1:X", "text/html", 200, "f2", 0, 10, None),
            ("k/d", "20250101000000", "sha1:Y", "text/html", 200, "f2", 10, 10, None),
        ],
        "urlkey string, ts string, digest string, mime string, "
        "status int, filename string, offset long, length long, error string",
    )
    sel = cdx_select(captures)
    rep = plan_report(sel)
    assert "Window" not in rep["text"], rep["text"][:2000]
    got = {r["digest"]: r["urlkey"] for r in sel.collect()}
    # sha1:X ties on ts between k/b and k/c -> urlkey ascending wins
    assert got == {"sha1:X": "k/b", "sha1:Y": "k/d"}
