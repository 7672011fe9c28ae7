"""Caller columns survive every operator.

A record is a schemaless properties bag and every operator passes the
caller's keys through untouched; here the keys are columns. Each public
operator whose output carries its input's columns runs twice: on a
plain input, and on the same input plus one extra column for every
``_``-prefixed name the package uses (collected from its source by
AST). Every extra column must come back byte-identical, and every
other output column must equal the plain run's. Operators name their
temporary columns through ``terra_bonobo_nodes_spark.columns``; this
sweep fails for an operator that overwrites, drops or sniffs a caller
column instead.
"""

from __future__ import annotations

import ast
import datetime
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parents[1] / "terra_bonobo_nodes_spark"


def _package_underscore_names() -> list[str]:
    """Every ``_``-prefixed identifier-like string literal in the
    package, one spelling per case-insensitive name (Spark resolves
    column names case-insensitively)."""
    names: dict[str, str] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.fullmatch(r"_[A-Za-z][A-Za-z0-9_]*", node.value):
                    names.setdefault(node.value.lower(), node.value)
    return sorted(names.values())


EXTRA = _package_underscore_names()


def _extra_value(name: str) -> str:
    return f"caller{name}"


def _with_extras(df):
    # one parsed projection: 200-odd F.lit/alias pairs cost a py4j round
    # trip each
    return df.selectExpr("*", *[f"'{_extra_value(n)}' AS `{n}`" for n in EXTRA])


# --- inputs ------------------------------------------------------------------

_TEXTS = [
    "The quick brown fox jumps over the lazy dog. It was a sunny day in the park.\n"
    "Contact me at alice@example.com or call 555-123-4567 for details today.\n"
    "The quick brown fox jumps over the lazy dog. It was a sunny day in the park.",
    "Cookie policy. Terms of use apply to all visitors of this website here.\n"
    "A completely different document about databases and query planning work.\n"
    "Spark plans joins, aggregates and windows over distributed partitions well.",
    "The quick brown fox jumps over the lazy dog. It was a sunny day in the park.\n"
    "Contact me at alice@example.com or call 555-123-4567 for details today.\n"
    "The quick brown fox jumps over the lazy dog. It was a sunny day in the park.",
    "short",
    "",
    None,
]


def _square(x0, y0, s):
    from terra_bonobo_nodes_spark.geo import wkb as W

    ring = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
    return W.write_wkb(("Polygon", [ring]))


def _ell(x0, y0):
    from terra_bonobo_nodes_spark.geo import wkb as W

    ring = [(x0, y0), (x0 + 4, y0), (x0 + 4, y0 + 2), (x0 + 2, y0 + 2),
            (x0 + 2, y0 + 4), (x0, y0 + 4), (x0, y0)]
    return W.write_wkb(("Polygon", [ring]))


def _inputs(spark):
    ts = datetime.datetime(2024, 1, 1)
    at = lambda m: ts + datetime.timedelta(minutes=m)  # noqa: E731
    docs = spark.createDataFrame(
        [
            (i, t, f"http://h{i % 3}.example.com/p/{i}?q=1", ["web", "books"][i % 2],
             [12, 30, 7, 1, 0, 0][i], float(i % 2), 1.0 + i, f"g{i % 2}", at(i * 7),
             f"<a href='http://h{(i + 1) % 3}.example.com/x'>l</a>")
            for i, t in enumerate(_TEXTS)
        ],
        "doc_id long, text string, url string, source string, n_tokens int, "
        "label double, weight double, grp string, ts timestamp, html string",
    )
    geo = spark.createDataFrame(
        [
            ("a", _square(0.0, 0.0, 4.0), "1.5", "2.5", "POINT (1 2)",
             '"k1"=>"v1","k2"=>"v2"', at(0), [3.0, 1.0]),
            ("b", _ell(5.0, 5.0), "6.5", "7.5", "POINT (3 4)", '"k1"=>"w"', at(5), [2.0]),
            ("c", _square(50.0, 50.0, 1.0), "-3.0", "4.0", "LINESTRING (0 0, 1 1)",
             None, at(9), [7.0, 9.0]),
            ("a", _square(1.0, 1.0, 2.0), "0.5", "0.5", "POINT (0 0)", "", at(20), []),
        ],
        "identifier string, geom binary, x string, y string, wkt string, "
        "other_tags string, ts timestamp, times array<double>",
    )
    layer = spark.createDataFrame(
        [(_square(0.0, 0.0, 6.0),), (_ell(4.0, 4.0),)], "layer_geom binary"
    )
    events = spark.createDataFrame(
        [
            (k, at(m), float(v), s, op, u, et)
            for k, m, v, s, op, u, et in [
                ("k1", 0, 1.0, 1, "I", 1, "view"),
                ("k1", 10, 2.5, 2, "U", 1, "purchase"),
                ("k1", 200, 4.0, 3, "U", 2, "view"),
                ("k2", 5, 3.0, 1, "I", 2, "purchase"),
                ("k2", 6, 10.0, 2, "D", 3, "view"),
                ("k3", 50, -1.0, 1, "I", 3, "view"),
            ]
        ],
        "key string, ts timestamp, value double, seq long, op string, "
        "user_id long, event_type string",
    )
    vecs = spark.createDataFrame(
        [
            (i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)], i % 2)
            for i in range(6)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    f = {"docs": docs, "geo": geo, "layer": layer, "events": events, "vecs": vecs}
    f["base"] = events.where("seq = 1").drop("op").withColumn("op", F.lit("I"))
    f["pts"] = spark.createDataFrame(
        [(f"p{i}", float(i), float(i % 3)) for i in range(5)], "pid string, px double, py double"
    )
    f["rates"] = events.select(
        "key", F.col("ts").alias("rts"), (F.col("value") * 2).alias("rate")
    )
    f["iv"] = events.select(
        F.col("key"), F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1"), F.col("seq").alias("iseq"),
    )
    f["dim"] = spark.createDataFrame([(1, "one"), (2, "two")], "dk int, dname string")
    # driver-side artifacts the scoring operators take, built once
    from terra_bonobo_nodes_spark.llm import bloom, classifier

    f["bloom"] = bloom.build_bloom_bits(docs.where("doc_id = 0"), m_bits=1 << 10)
    f["logreg"] = classifier.train_quality_logreg(docs, ["weight", "n_tokens"], iterations=2)
    f["hashed"] = classifier.train_hashed_text_logreg(
        docs.fillna({"text": ""}), dim=16, iterations=2
    )
    return f


# --- the operators ------------------------------------------------------------
# name -> (input frames that get the extra columns, call(frames, tmp) -> DataFrame)


def _cases():
    from terra_bonobo_nodes_spark.llm import (
        bloom, classifier, compress, corpus, dedup, embeddings, robots, scrub,
        sentences, similarity, text, urls,
    )
    from terra_bonobo_nodes_spark.operators import (
        arrays, cdc, clustering, enrichment, grouped, hstore, joins, layout,
        quality, records, sessions, spatial, stateful,
    )
    from terra_bonobo_nodes_spark.sinks import atomic, bucketed, feature_layer, log, snapshots
    from terra_bonobo_nodes_spark.streaming import ops as streaming

    def layer_roundtrip(df, tmp):
        feature_layer.load_feature_in_layer(df, str(tmp), "l", order_col="ts")
        return feature_layer.read_layer(df.sparkSession, str(tmp), "l").drop("updated_at")

    def staged_roundtrip(df, tmp):
        atomic.staged_overwrite(df, str(tmp))
        return df.sparkSession.read.parquet(str(tmp))

    def snapshot_roundtrip(df, tmp):
        snapshots.snapshot_write(df, str(tmp))
        return snapshots.snapshot_read(df.sparkSession, str(tmp))

    def bucketed_roundtrip(df, tmp):
        spark = df.sparkSession
        spark.sql(f"CREATE DATABASE IF NOT EXISTS wcols LOCATION '{tmp.parent}'")
        bucketed.write_bucketed(df, f"wcols.{tmp.name}", "key", buckets=2)
        return spark.table(f"wcols.{tmp.name}")

    def rules(f):
        s = f["docs"].sparkSession
        return robots.robots_rules(
            s.createDataFrame(
                [("h1.example.com", "User-agent: *\nDisallow: /p/")], "host string, robots_txt string"
            )
        )

    def blocklist(f):
        return f["docs"].sparkSession.createDataFrame([("h2.example.com",)], "domain string")

    d, g, e, v = "docs", "geo", "events", "vecs"
    return {
        # operators/
        "arrays.min_array_attribute": ([g], lambda f, t: arrays.min_array_attribute(f[g], "times", "mn")),
        "arrays.accessibility_ratio_by_time": (
            [g], lambda f, t: arrays.accessibility_ratio_by_time(
                f[g].withColumn("tt", F.array("times")), "tt", [2.0, 5.0])),
        "cdc.collapse_changes": ([e], lambda f, t: cdc.collapse_changes(f[e], ["key"], "seq")),
        "cdc.apply_changes": (
            [e, "base"], lambda f, t: cdc.apply_changes(f["base"], f[e], ["key"], "seq")),
        "clustering.grid_cluster": (
            [g], lambda f, t: clustering.grid_cluster(
                f[g], F.col("x").cast("double"), F.col("y").cast("double"), 2.0)),
        "clustering.zorder_layout": (
            [g], lambda f, t: clustering.zorder_layout(
                f[g], F.abs(F.col("x").cast("double")), F.col("y").cast("double"), n_partitions=2)),
        "enrichment.transit_time_one_to_many": (
            [g], lambda f, t: enrichment.transit_time_one_to_many(
                f[g].drop("times").withColumn("points", F.array(F.array(F.lit(1.0), F.lit(2.0)))),
                lambda: (lambda x0, y0, x1, y1, veh: x0 + y1))),
        "enrichment.transit_time_one_to_one": (
            [g], lambda f, t: enrichment.transit_time_one_to_one(
                f[g].withColumn("times", F.array(F.array_union("times", F.array(F.lit(1.0))))))),
        "grouped.isotonic_fit": (
            [e], lambda f, t: grouped.isotonic_fit(
                f[e].withColumn("x", F.col("seq").cast("double")), ["key"], "x", "value")),
        "grouped.isotonic_fit_milli": (
            [e], lambda f, t: grouped.isotonic_fit_milli(
                f[e].withColumn("c", (F.abs("value") * 100).cast("long")), ["key"], "seq", "c")),
        "hstore.parse_hstore_tags": ([g], lambda f, t: hstore.parse_hstore_tags(f[g], keys=["k1"])),
        "joins.attribute_from_sql": (
            [g], lambda f, t: joins.attribute_from_sql(
                f[g], f[e].select(F.col("key").alias("ck"), F.col("value").alias("attr")),
                "x", "ck")),
        "joins.knn_join": (
            [e], lambda f, t: joins.knn_join(
                f[e], f["pts"], ("value", "seq"), ("px", "py"), "key", 2, tie_breaker="pid")),
        "joins.grid_knn_join": (
            [e], lambda f, t: joins.grid_knn_join(
                f[e], f["pts"], ("value", "seq"), ("px", "py"), "key", 2, 10.0, tie_breaker="pid")),
        "joins.salted_join": (
            [e], lambda f, t: joins.salted_join(
                f[e], f["pts"].withColumnRenamed("pid", "key"), "key", 4)),
        "joins.asof_join": (
            [e], lambda f, t: joins.asof_join(
                f[e], f["rates"], "key", "ts", "rts", right_cols=["rate"])),
        "joins.interval_point_join": (
            ["iv"], lambda f, t: joins.interval_point_join(
                f["iv"], f[e], "t0", "t1", "ts", on="key")),
        "layout.file_assignments": ([e], lambda f, t: layout.file_assignments(f[e], ["value"], 2)),
        "quality.robust_outliers": ([e], lambda f, t: quality.robust_outliers(f[e], "value", "key")),
        "records.identifier_from_property": (
            [g], lambda f, t: records.identifier_from_property(f[g], "x")),
        "records.generate_identifier": (
            [g], lambda f, t: records.generate_identifier(f[g], F.concat("x", "y"))),
        "records.drop_identifier": ([g], lambda f, t: records.drop_identifier(f[g])),
        "records.exclude_attributes": ([g], lambda f, t: records.exclude_attributes(f[g], ["wkt"])),
        "records.filter_by_properties": (
            [g], lambda f, t: records.filter_by_properties(f[g], F.col("identifier") != "c")),
        "records.map_properties": (
            [g], lambda f, t: records.map_properties(f[g], {"x2": F.concat("x", "x")})),
        "records.copy_on_pipeline_split": ([g], lambda f, t: records.copy_on_pipeline_split(f[g])),
        "sessions.sessionize": ([e], lambda f, t: sessions.sessionize(f[e], ["key"], "ts", 600)),
        "spatial.attribute_to_geometry": ([g], lambda f, t: spatial.attribute_to_geometry(f[g], "wkt", "g2")),
        "spatial.attributes_to_point_geometry": (
            [g], lambda f, t: spatial.attributes_to_point_geometry(f[g], geom_col="pt")),
        "spatial.geometry_to_json": ([g], lambda f, t: spatial.geometry_to_json(f[g])),
        "spatial.geometry_to_centroid": ([g], lambda f, t: spatial.geometry_to_centroid(f[g])),
        "spatial.geometry_3d_to_2d": ([g], lambda f, t: spatial.geometry_3d_to_2d(f[g])),
        "spatial.simplify_geom": ([g], lambda f, t: spatial.simplify_geom(f[g], 0.5)),
        "spatial.transform_geom": (
            [g], lambda f, t: spatial.transform_geom(f[g], "EPSG:4326", "EPSG:3857")),
        "spatial.subdivide_geom": ([g], lambda f, t: spatial.subdivide_geom(f[g], 5)),
        "spatial.boolean_intersect": (
            [g], lambda f, t: spatial.boolean_intersect(f[g], f["layer"], "hit")),
        "spatial.intersection_percent_by_area": (
            [g], lambda f, t: spatial.intersection_percent_by_area(f[g], f["layer"])),
        "spatial.intersection_geom": (
            [g], lambda f, t: spatial.intersection_geom(f[g], f["layer"], geom_dest="clip")),
        "spatial.isochrone_subtraction": (
            [g], lambda f, t: spatial.isochrone_subtraction(f[g], ["identifier"], ["ts"])),
        "stateful.running_lag_diff": (
            [e], lambda f, t: stateful.running_lag_diff(f[e], ["key"], ["seq"], "value")),
        "stateful.upsert_last_writer_wins": (
            [e], lambda f, t: stateful.upsert_last_writer_wins(f[e], ["key"], [F.col("seq").desc()])),
        "stateful.clean_older_than": (
            [e], lambda f, t: stateful.clean_older_than(f[e], "ts", "2024-01-01 00:06:00")),
        # sinks/
        "feature_layer.load_feature_in_layer": ([g], lambda f, t: layer_roundtrip(f[g], t)),
        "atomic.staged_overwrite": ([e], lambda f, t: staged_roundtrip(f[e], t)),
        "snapshots.snapshot_write": ([e], lambda f, t: snapshot_roundtrip(f[e], t)),
        "bucketed.write_bucketed": ([e], lambda f, t: bucketed_roundtrip(f[e], t)),
        "log.observe_counts": ([e], lambda f, t: log.observe_counts(f[e])),
        "log.log_sample": ([e], lambda f, t: log.log_sample(f[e], 2)),
        # streaming/ (batch frames: the same plans, minus the trigger)
        "streaming.dedup_within_watermark": (
            [e], lambda f, t: streaming.dedup_within_watermark(f[e], ["key"])),
        "streaming.stream_static_enrich": (
            [e], lambda f, t: streaming.stream_static_enrich(
                f[e], f["dim"], F.col("seq"), "dk")),
        # llm/
        "bloom.flag_bloom_contaminated": (
            [d], lambda f, t: bloom.flag_bloom_contaminated(f[d], f["bloom"])),
        "classifier.score_quality": ([d], lambda f, t: classifier.score_quality(f[d], f["logreg"])),
        "classifier.filter_quality": (
            [d], lambda f, t: classifier.filter_quality(f[d], f["logreg"], 0.0)),
        "classifier.score_hashed_text": (
            [d], lambda f, t: classifier.score_hashed_text(f[d], f["hashed"])),
        "compress.compression_signal": ([d], lambda f, t: compress.compression_signal(f[d])),
        "corpus.stratified_sample": (
            [d], lambda f, t: corpus.stratified_sample(f[d], "source", {"web": 0.7, "books": 1.0})),
        "corpus.reservoir_sample": ([d], lambda f, t: corpus.reservoir_sample(f[d], ["source"], 2)),
        "corpus.source_quota_sample": ([d], lambda f, t: corpus.source_quota_sample(f[d], cap=2)),
        "corpus.token_budget_sample": (
            [d], lambda f, t: corpus.token_budget_sample(
                f[d].drop("n_tokens"), {"web": 20, "books": 30})),
        "corpus.stride_interleave": (
            [d], lambda f, t: corpus.stride_interleave(f[d], {"web": 1, "books": 2})),
        "dedup.exact_dedup": ([d], lambda f, t: dedup.exact_dedup(f[d])),
        "embeddings.pca_project": (
            [v], lambda f, t: embeddings.pca_project(f[v], [[1.0, 0.0, 0.0, 0.0]])),
        "robots.flag_robots_disallowed": (
            [d], lambda f, t: robots.flag_robots_disallowed(f[d], rules(f))),
        "scrub.pii_counts": ([d], lambda f, t: scrub.pii_counts(f[d])),
        "scrub.pii_redact": ([d], lambda f, t: scrub.pii_redact(f[d])),
        "scrub.c4_line_filter": ([d], lambda f, t: scrub.c4_line_filter(f[d], min_kept_lines=1)),
        "scrub.line_dedup": ([d], lambda f, t: scrub.line_dedup(f[d])),
        "scrub.nfkc_scrub": ([d], lambda f, t: scrub.nfkc_scrub(f[d])),
        "sentences.sentence_stats": ([d], lambda f, t: sentences.sentence_stats(f[d])),
        "similarity.assign_cells": (
            [v], lambda f, t: similarity.assign_cells(f[v], [[1.0, 0, 0, 0], [0, 1.0, 0, 0]])),
        "similarity.quantize_embeddings": ([v], lambda f, t: similarity.quantize_embeddings(f[v])),
        "text.token_count": ([d], lambda f, t: text.token_count(f[d])),
        "text.bpe_token_count": ([d], lambda f, t: text.bpe_token_count(f[d])),
        "text.quality_score": ([d], lambda f, t: text.quality_score(f[d])),
        "text.repetition_ratios": ([d], lambda f, t: text.repetition_ratios(f[d])),
        "text.gopher_rules": ([d], lambda f, t: text.gopher_rules(f[d])),
        "text.lang_id": ([d], lambda f, t: text.lang_id(f[d])),
        "text.fingerprint": ([d], lambda f, t: text.fingerprint(f[d])),
        "text.winnow_fingerprints": ([d], lambda f, t: text.winnow_fingerprints(f[d])),
        "text.hash_split": ([d], lambda f, t: text.hash_split(f[d])),
        "text.readability": ([d], lambda f, t: text.readability(f[d])),
        "urls.flag_blocked_hosts": ([d], lambda f, t: urls.flag_blocked_hosts(f[d], blocklist(f))),
        "urls.filter_blocked_hosts": (
            [d], lambda f, t: urls.filter_blocked_hosts(f[d], blocklist(f))),
    }


CASES = _cases()


@pytest.fixture(scope="module")
def inputs(spark):
    # a handful of rows: one shuffle partition keeps ~200 small jobs fast
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    plain = _inputs(spark)
    # cached: every action would otherwise re-ship the Python rows
    frames = {k: v.cache() for k, v in plain.items() if isinstance(v, DataFrame)}
    yield {**plain, **frames}, {k: _with_extras(v) for k, v in frames.items()}
    for v in frames.values():
        v.unpersist()
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", sorted(CASES))
def test_caller_columns_pass_through(inputs, tmp_path, name):
    plain_in, marked_in = inputs
    targets, call = CASES[name]
    plain = call(plain_in, tmp_path / "plain")
    marked = call({**plain_in, **{k: marked_in[k] for k in targets}}, tmp_path / "marked")
    cols = plain.columns
    assert [c for c in marked.columns if c not in EXTRA] == cols
    missing = [n for n in EXTRA if n not in marked.columns]
    assert not missing, f"{name} dropped caller columns {missing[:8]}"
    got = marked.select(*cols, *EXTRA).collect()
    want = [_extra_value(n) for n in EXTRA]
    clobbered = {n for r in got for n, x, w in zip(EXTRA, r[len(cols):], want) if x != w}
    assert not clobbered, f"{name} overwrote caller columns {sorted(clobbered)[:8]}"
    assert sorted((tuple(r[: len(cols)]) for r in got), key=repr) == sorted(
        (tuple(r) for r in plain.collect()), key=repr
    )


def _mentions_columns(node) -> bool:
    return any(isinstance(n, ast.Attribute) and n.attr == "columns" for n in ast.walk(node))


def _underscore_literals(node) -> list[str]:
    return [
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.startswith("_")
    ]


def test_no_operator_sniffs_for_working_columns():
    """Operator metadata travels in explicit arguments (e.g. the
    spatial joins' ``record_prep=``/``layer_prep=``), never by the
    presence of a ``_``-named column: no code outside ``plans/`` tests
    a ``_``-prefixed literal against a frame's ``.columns``."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if "plans" in path.relative_to(PKG).parts:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
            ):
                probe = _underscore_literals(node.left)
                if probe and any(_mentions_columns(c) for c in node.comparators):
                    hits.append(f"{path.relative_to(PKG)}:{node.lineno} {probe}")
            elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitAnd):
                sides = (node.left, node.right)
                if any(_mentions_columns(s) for s in sides) and any(
                    isinstance(s, (ast.Set, ast.List, ast.Tuple)) and _underscore_literals(s)
                    for s in sides
                ):
                    hits.append(f"{path.relative_to(PKG)}:{node.lineno} {_underscore_literals(node)}")
    assert not hits, hits
