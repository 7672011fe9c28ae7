"""The four pipelines, each composed only from the package's public
functions, and the independent checks of their outputs.

A workload object holds one run's inputs and layer root. ``job(spark, k)``
is the timed pipeline; ``quick_check`` compares what a job returned with
the generator's truth while the run goes on; ``final_check`` reads the
written layers with DuckDB after the timed part of the run is over, so
neither the checker's memory nor its time lands in a metric. Calls into
the package go through ``tracer.call(layer, fn, ...)`` so a traced run
can put a span around each of them.
"""

from __future__ import annotations

import json
import math
import shutil
import struct
from collections import Counter
from pathlib import Path

import gen

CHECK_TOL = 1e-9


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _diff(got: Counter, want: Counter) -> str:
    """Multiset difference of two row sets: a row written twice counts."""
    return (
        f"{sum((got - want).values())} unexpected, {sum((want - got).values())} missing "
        f"of {sum(want.values())} rows"
    )


def _decode_point(blob: bytes) -> tuple[float, float]:
    order, kind, x, y = struct.unpack("<BIdd", blob)
    if order != 1 or kind != 1:
        raise ValueError(f"not a little-endian WKB point: {blob[:5].hex()}")
    return x, y


class Workload:
    name = ""
    # plan nodes whose output rows count as rows produced by the sources layer
    source_nodes: tuple[str, ...] = ()
    # spatial-join operator calls per job; each must find every true pair
    spatial_joins = 0

    def __init__(self, inputs: Path, manifest: dict, layer_root: Path, tracer) -> None:
        self.inp = inputs
        self.manifest = manifest
        self.root = layer_root
        self.tr = tracer

    def prepare(self) -> None:
        """File set-up before the session starts (not timed)."""

    def max_jobs(self) -> int:
        return 10**9

    def input_bytes(self, k: int) -> int:
        return self.manifest["record_bytes"]

    def output_dir(self, k: int) -> Path:
        raise NotImplementedError

    def quick_check(self, k: int, result) -> str | None:
        return None

    def traced_counts(self) -> dict[str, float]:
        """Extra counts a traced job takes after its timed part."""
        return {}

    def final_check(self, jobs: list[int]) -> dict[int, str]:
        return {}

    def is_source_node(self, name: str, simple: str) -> bool:
        return any(s in f"{name} {simple}" for s in self.source_nodes)

    def bases(self) -> dict[str, float]:
        """Denominators of the waste ratios, from the inputs and the
        generator's truth; fixed by the inputs, so context, not metrics."""
        return {"geo.hit_pairs": 0.0, "llm.dup_pairs": 0.0}


class FileImport(Workload):
    """CSV documents -> rows -> identifier -> filter -> points ->
    boolean_intersect with rectangular zones -> upsert into an empty layer."""

    name = "file_import"
    source_nodes = ("posexplode(split(content",)
    spatial_joins = 1

    def job(self, spark, k: int):
        from pyspark.sql import functions as F

        from terra_bonobo_nodes_spark.geo import kernels as K
        from terra_bonobo_nodes_spark.operators.records import identifier_from_property
        from terra_bonobo_nodes_spark.operators.spatial import (
            attributes_to_point_geometry,
            boolean_intersect,
        )
        from terra_bonobo_nodes_spark.sinks.feature_layer import load_feature_in_layer
        from terra_bonobo_nodes_spark.sources.csv import csv_documents_to_rows, read_csv
        from terra_bonobo_nodes_spark.sources.files import read_binary_files

        t = self.tr
        files = t.call("sources", read_binary_files, spark, str(self.inp / "docs"), "*.csv")
        docs = files.select(F.col("content").cast("string").alias("content"))
        rows = t.call("sources", csv_documents_to_rows, docs, "content", header=gen.CSV_HEADER)
        keyed = t.call("operators", identifier_from_property, rows, "event_id")
        kept = keyed.where(F.col("kind") != "view")
        points = t.call("operators", attributes_to_point_geometry, kept, "x", "y")
        zones_raw = t.call("sources", read_csv, spark, str(self.inp / "zones.csv"))
        zones = zones_raw.select(t.call("geo", K.st_geomfromtext, "wkt").alias("layer_geom"))
        flagged = t.call("operators", boolean_intersect, points, zones, "in_zone")
        t.call(
            "sinks", load_feature_in_layer, flagged, str(self.root), f"import_{k}", order_col="ts"
        )

    def output_dir(self, k: int) -> Path:
        return self.root / f"layer=import_{k}"

    def _expected(self) -> Counter:
        con = _duck()
        con.execute(
            f"""
            CREATE TEMP TABLE flagged AS
            WITH raw AS (
              SELECT * FROM read_csv('{self.inp}/docs/*.csv', header=true, all_varchar=true)),
            z AS (
              SELECT CAST(x0 AS DOUBLE) x0, CAST(y0 AS DOUBLE) y0,
                     CAST(x1 AS DOUBLE) x1, CAST(y1 AS DOUBLE) y1
              FROM read_csv('{self.inp}/zones.csv', header=true, all_varchar=true))
            SELECT event_id, kind, ts, value, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
                   EXISTS (SELECT 1 FROM z
                           WHERE CAST(raw.x AS DOUBLE) BETWEEN z.x0 AND z.x1
                             AND CAST(raw.y AS DOUBLE) BETWEEN z.y0 AND z.y1) AS in_zone
            FROM raw WHERE kind <> 'view'
            """
        )
        # the spatial join runs before the upsert, so it sees every kept
        # record, re-sends included; zones are disjoint, so each record
        # inside a zone is one true pair
        self.hits = con.execute("SELECT count(*) FROM flagged WHERE in_zone").fetchone()[0]
        rows = con.execute(
            """
            SELECT event_id, kind, ts, value, x, y, in_zone FROM (
              SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
              FROM flagged)
            WHERE rn = 1
            """
        ).fetchall()
        con.close()
        return Counter(rows)

    def final_check(self, jobs: list[int]) -> dict[int, str]:
        want = self._expected()
        errors = {}
        con = _duck()
        for k in jobs:
            try:
                got = Counter()
                for eid, ident, kind, ts, value, in_zone, geom in con.execute(
                    f"SELECT event_id, identifier, kind, ts, value, in_zone, geom "
                    f"FROM read_parquet('{self.output_dir(k)}/*.parquet')"
                ).fetchall():
                    if ident != eid:
                        raise ValueError(f"identifier {ident!r} != event_id {eid!r}")
                    got[(eid, kind, ts, value, *_decode_point(geom), in_zone)] += 1
                if got != want:
                    errors[k] = f"layer differs from DuckDB: {_diff(got, want)}"
            except Exception as exc:  # a broken layer is a failed job, not a crash
                errors[k] = f"check raised {exc!r}"
        con.close()
        return errors

    def bases(self) -> dict[str, float]:
        # computed by the DuckDB check; known only after final_check
        hits = getattr(self, "hits", 0) * self.spatial_joins
        return {"geo.hit_pairs": float(hits), "llm.dup_pairs": 0.0}


class SpatialEnrich(Workload):
    """GeoJSON parcels (half of them L-shaped) -> boolean_intersect and
    intersection_percent_by_area against a few rectangular zones -> layer."""

    name = "spatial_enrich"
    source_nodes = ("MapInPandas", "Scan csv")
    spatial_joins = 2

    def job(self, spark, k: int):
        from pyspark.sql import functions as F

        from terra_bonobo_nodes_spark.geo import kernels as K
        from terra_bonobo_nodes_spark.operators.records import identifier_from_property
        from terra_bonobo_nodes_spark.operators.spatial import (
            boolean_intersect,
            intersection_percent_by_area,
        )
        from terra_bonobo_nodes_spark.sinks.feature_layer import load_feature_in_layer
        from terra_bonobo_nodes_spark.sources.csv import read_csv
        from terra_bonobo_nodes_spark.sources.files import read_binary_files
        from terra_bonobo_nodes_spark.sources.geojson import geojson_reader

        t = self.tr
        files = t.call("sources", read_binary_files, spark, str(self.inp / "parcels"), "*.geojson")
        docs = files.select(F.col("content").cast("string").alias("content"))
        parcels = t.call("sources", geojson_reader, docs)
        parcels = t.call("operators", identifier_from_property, parcels, "feature_id")
        zones_raw = t.call("sources", read_csv, spark, str(self.inp / "zones.csv"))
        zones = zones_raw.select(t.call("geo", K.st_geomfromtext, "wkt").alias("layer_geom"))
        flagged = t.call("operators", boolean_intersect, parcels, zones, "in_zone")
        enriched = t.call(
            "operators", intersection_percent_by_area, flagged, zones, "zone_pct"
        )
        out = enriched.select(
            "identifier", F.col("properties")["kind"].alias("kind"), "geom", "in_zone", "zone_pct"
        )
        t.call("sinks", load_feature_in_layer, out, str(self.root), f"enrich_{k}")

    def output_dir(self, k: int) -> Path:
        return self.root / f"layer=enrich_{k}"

    def _truth(self) -> dict[str, tuple[str, bool, float]]:
        truth = json.loads((self.inp / "truth.json").read_text())
        want = {}
        self.hits = 0
        for i, shape in enumerate(truth["shapes"]):
            areas = [gen.parcel_zone_area(shape, z) for z in truth["zones"]]
            self.hits += sum(1 for a in areas if a > 0)
            want[f"p{i:06d}"] = (shape[0], any(a > 0 for a in areas), sum(areas) / gen.parcel_area(shape))
        return want

    def final_check(self, jobs: list[int]) -> dict[int, str]:
        want = self._truth()
        errors = {}
        con = _duck()
        for k in jobs:
            try:
                got = con.execute(
                    f"SELECT identifier, kind, in_zone, zone_pct "
                    f"FROM read_parquet('{self.output_dir(k)}/*.parquet')"
                ).fetchall()
                bad = len(got) != len(want)
                seen = set()
                for ident, kind, flag, pct in got:
                    w = want.get(ident)
                    seen.add(ident)
                    if (
                        w is None
                        or kind != w[0]
                        or flag != w[1]
                        or not math.isclose(pct, w[2], rel_tol=CHECK_TOL, abs_tol=CHECK_TOL)
                    ):
                        bad = True
                        break
                if bad or len(seen) != len(want):
                    errors[k] = f"{len(got)} rows; first mismatch against the closed form"
            except Exception as exc:
                errors[k] = f"check raised {exc!r}"
        con.close()
        return errors

    def bases(self) -> dict[str, float]:
        if not hasattr(self, "hits"):
            self._truth()
        return {"geo.hit_pairs": float(self.hits * self.spatial_joins), "llm.dup_pairs": 0.0}


class LayerUpsert(Workload):
    """A large base layer; each job merges one batch (half updates, half
    inserts), applies retention and counts a filtered read of the layer."""

    name = "layer_upsert"
    source_nodes = ("posexplode(split(content",)
    LAYER = "parcels"

    def prepare(self) -> None:
        dst = self.root / f"layer={self.LAYER}"
        shutil.copytree(self.inp / "base", dst)
        self.truth = json.loads((self.inp / "truth.json").read_text())["after_batch"]

    def max_jobs(self) -> int:
        return len(self.truth)

    def input_bytes(self, k: int) -> int:
        return self.manifest["batch_bytes"][k]

    def output_dir(self, k: int) -> Path:
        return self.root / f"layer={self.LAYER}"

    def job(self, spark, k: int):
        from pyspark.sql import functions as F

        from terra_bonobo_nodes_spark.operators.records import identifier_from_property
        from terra_bonobo_nodes_spark.operators.spatial import attributes_to_point_geometry
        from terra_bonobo_nodes_spark.sinks.feature_layer import (
            clean_older_than,
            load_feature_in_layer,
            read_layer,
        )
        from terra_bonobo_nodes_spark.sources.csv import csv_documents_to_rows
        from terra_bonobo_nodes_spark.sources.files import read_binary_files

        t = self.tr
        root = str(self.root)
        path = str(self.inp / "batches" / f"batch-{k:03d}.csv")
        files = t.call("sources", read_binary_files, spark, path)
        docs = files.select(F.col("content").cast("string").alias("content"))
        rows = t.call("sources", csv_documents_to_rows, docs, "content", header=gen.UPSERT_HEADER)
        keyed = t.call("operators", identifier_from_property, rows, "event_id")
        points = t.call("operators", attributes_to_point_geometry, keyed, "x", "y")
        t.call("sinks", load_feature_in_layer, points, root, self.LAYER)
        deleted = t.call(
            "sinks", clean_older_than, spark, root, self.LAYER, gen.RETENTION_CUTOFF, ts_col="obs_ts"
        )
        with t.span("sinks", "read_layer_count"):
            buy = read_layer(spark, root, self.LAYER).where(F.col("kind") == "buy").count()
        return {"deleted": deleted, "buy": buy}

    def quick_check(self, k: int, result) -> str | None:
        want = self.truth[k]
        if result["deleted"] != want["deleted"] or result["buy"] != want["buy"]:
            return f"job {k}: got {result}, want deleted={want['deleted']} buy={want['buy']}"
        return None

    def final_check(self, jobs: list[int]) -> dict[int, str]:
        last = max(jobs)
        con = _duck()
        try:
            want = self._replay(con, last)
            got = Counter()
            for eid, ident, kind, value, obs_ts, geom in con.execute(
                f"SELECT event_id, identifier, kind, value, obs_ts, geom "
                f"FROM read_parquet('{self.output_dir(last)}/*.parquet')"
            ).fetchall():
                if ident != eid:
                    raise ValueError(f"identifier {ident!r} != event_id {eid!r}")
                got[(eid, kind, value, obs_ts, *_decode_point(geom))] += 1
            if got != want:
                return {last: f"final layer differs from the DuckDB replay: {_diff(got, want)}"}
            return {}
        except Exception as exc:
            return {last: f"check raised {exc!r}"}
        finally:
            con.close()

    def _replay(self, con, last: int) -> Counter:
        """Last writer wins over the base and batches 0..last, then retention."""
        batches = " UNION ALL ".join(
            f"SELECT event_id, kind, value, obs_ts, NULL::BLOB AS geom, CAST(x AS DOUBLE) AS x, "
            f"CAST(y AS DOUBLE) AS y, {b} AS seq "
            f"FROM read_csv('{self.inp}/batches/batch-{b:03d}.csv', header=true, all_varchar=true)"
            for b in range(last + 1)
        )
        rows = con.execute(
            f"""
            WITH writes AS (
              SELECT event_id, kind, value, obs_ts, geom, NULL::DOUBLE AS x, NULL::DOUBLE AS y,
                     -1 AS seq
              FROM read_parquet('{self.inp}/base/*.parquet')
              UNION ALL {batches}),
            latest AS (
              SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seq DESC) AS rn
              FROM writes)
            SELECT event_id, kind, value, obs_ts, geom, x, y FROM latest
            WHERE rn = 1 AND obs_ts >= '{gen.RETENTION_CUTOFF}'
            """
        ).fetchall()
        return Counter(
            (eid, kind, value, ts, *(_decode_point(g) if g is not None else (x, y)))
            for eid, kind, value, ts, g, x, y in rows
        )


class CrawlCuration(Workload):
    """JSONL HTML pages -> html_to_text -> C4 line filter -> Gopher rules
    -> MinHash-LSH pairs -> connected components -> keep one page per
    near-duplicate group -> snapshot."""

    name = "crawl_curation"
    source_nodes = ("Scan json",)

    def job(self, spark, k: int):
        from pyspark.sql import functions as F

        from terra_bonobo_nodes_spark.llm.dedup import connected_components, minhash_lsh_pairs
        from terra_bonobo_nodes_spark.llm.html import html_to_text
        from terra_bonobo_nodes_spark.llm.scrub import c4_line_filter
        from terra_bonobo_nodes_spark.llm.text import gopher_rules
        from terra_bonobo_nodes_spark.sinks.snapshots import snapshot_write
        from terra_bonobo_nodes_spark.sources.jsonl import read_jsonl

        t = self.tr
        raw = t.call(
            "sources", read_jsonl, spark, str(self.inp / "docs"), "doc_id LONG, url STRING, html STRING"
        )
        text = raw.select("doc_id", t.call("llm", html_to_text, "html").alias("text"))
        c4 = t.call("llm", c4_line_filter, text, "text")
        c4_kept = c4.where(F.col("c4_keep")).select("doc_id", F.col("c4_text").alias("text"))
        rated = t.call("llm", gopher_rules, c4_kept, "text")
        kept = rated.where(F.col("g_keep")).select("doc_id", "text")
        pairs = t.call(
            "llm",
            minhash_lsh_pairs,
            kept,
            "text",
            "doc_id",
            word_grams=True,
            min_est_jaccard=0.8,
            hash_fn="xxhash64",
        )
        self.pairs = pairs
        comps = t.call("llm", connected_components, pairs)
        curated = kept.join(comps, "doc_id", "left").where(
            F.col("component_id").isNull() | (F.col("component_id") == F.col("doc_id"))
        )
        t.call("sinks", snapshot_write, curated.select("doc_id", "text"), str(self.output_dir(k)))

    def output_dir(self, k: int) -> Path:
        return self.root / f"curated_{k}"

    def traced_counts(self) -> dict[str, float]:
        return {"llm.lsh_candidate_pairs": float(self.pairs.count())}

    def _expected(self) -> dict[int, str]:
        """DuckDB mirror of the front half (text extraction, C4, Gopher),
        then the generator's planted groups for the dedup half."""
        from terra_bonobo_nodes_spark.llm.html import html_to_text_sql
        from terra_bonobo_nodes_spark.llm.scrub import C4_CITATION_RE, C4_LINE_BLOCK_PHRASES
        from terra_bonobo_nodes_spark.llm.text import GOPHER_STOPWORDS

        block = " OR ".join(f"contains(lower(l), '{p}')" for p in C4_LINE_BLOCK_PHRASES)
        stop = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
        con = _duck()
        rows = con.execute(
            f"""
            WITH raw AS (
              SELECT doc_id, html FROM read_json('{self.inp}/docs/*.jsonl',
                format='newline_delimited',
                columns={{doc_id: 'BIGINT', url: 'VARCHAR', html: 'VARCHAR'}})),
            t AS (SELECT doc_id, coalesce({html_to_text_sql('html')}, '') AS text FROM raw),
            c4 AS (
              SELECT doc_id, text,
                list_filter(
                  list_filter(
                    list_transform(string_split(text, chr(10)),
                      l -> trim(regexp_replace(l, '{C4_CITATION_RE}', '', 'g'))),
                    l -> length(l) > 0),
                  l -> regexp_matches(l, '[.!?"]$')
                       AND len(regexp_extract_all(l, '\\S+')) >= 5
                       AND NOT ({block})) AS kept
              FROM t),
            c4k AS (
              SELECT doc_id, array_to_string(kept, chr(10)) AS text FROM c4
              WHERE len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{{')),
            g AS (
              SELECT doc_id, text,
                list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            w -> length(w) > 0) AS toks,
                list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                            l -> length(l) > 0) AS lines
              FROM c4k),
            s AS (
              SELECT doc_id, text, len(toks) AS n, len(lines) AS nl,
                length(array_to_string(toks, '')) AS chars,
                length(text) - length(replace(text, '#', '')) AS hashes,
                len(regexp_extract_all(text, '\\.\\.\\.|…')) AS ellipses,
                len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS bullets,
                len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS elines,
                len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS alpha,
                len(list_distinct(list_filter(toks, w -> list_contains({stop}, w)))) AS stops
              FROM g)
            SELECT doc_id, text FROM s
            WHERE n BETWEEN 50 AND 100000
              AND chars / n BETWEEN 3 AND 10
              AND hashes / n <= 0.1 AND ellipses / n <= 0.1
              AND (nl = 0 OR bullets / nl <= 0.9) AND (nl = 0 OR elines / nl <= 0.3)
              AND alpha / n >= 0.8 AND stops >= 2
            """
        ).fetchall()
        con.close()
        kept = dict(rows)
        truth = json.loads((self.inp / "truth.json").read_text())
        planted = {int(i) for i, label in truth["labels"].items() if label == "good"}
        if set(kept) != planted:
            raise ValueError(
                f"DuckDB front half keeps {len(kept)} pages, the generator planted "
                f"{len(planted)} good ones ({len(set(kept) ^ planted)} differ)"
            )
        self.dup_pairs = 0
        for group in truth["groups"]:
            members = sorted(group)
            self.dup_pairs += len(members) * (len(members) - 1) // 2
            for m in members[1:]:
                del kept[m]
        return kept

    def final_check(self, jobs: list[int]) -> dict[int, str]:
        try:
            want = Counter(self._expected().items())
        except Exception as exc:
            return {k: f"expected output unavailable: {exc!r}" for k in jobs}
        errors = {}
        con = _duck()
        for k in jobs:
            try:
                got = Counter(
                    con.execute(
                        f"SELECT doc_id, text FROM read_parquet('{self.output_dir(k)}/v=*/*.parquet')"
                    ).fetchall()
                )
                if got != want:
                    errors[k] = f"curated pages differ: {_diff(got, want)}"
            except Exception as exc:
                errors[k] = f"check raised {exc!r}"
        con.close()
        return errors

    def bases(self) -> dict[str, float]:
        return {"geo.hit_pairs": 0.0, "llm.dup_pairs": float(getattr(self, "dup_pairs", 0))}


WORKLOADS = {w.name: w for w in (FileImport, SpatialEnrich, LayerUpsert, CrawlCuration)}
