"""Seeded input generator for the pipeline benchmark.

Every workload's inputs are a pure function of ``(workload, seed)``. They
are written once per seed (and per size setting) under
``perfbench/.data/<workload>/s<seed>-<hash of the sizes>/``
together with ``manifest.json`` (rows, bytes, generation time) and
``truth.json`` (the closed-form facts the output checks compare with).
The program under test only ever sees the input files; the truth files
are read by the checks alone.

Coordinates are integers in thousandths of a unit. Zone bounds are whole
units and no record coordinate is a whole unit, so no record edge or
point ever touches a zone edge: every intersection either has positive
area or is empty, which keeps the closed-form answers exact.
"""

from __future__ import annotations

import calendar
import hashlib
import json
import os
import random
import shutil
import struct
import time
from pathlib import Path

# --- sizes -------------------------------------------------------------------

# Row counts follow the repo's fixtures: the 100 000 sf0.1 events that
# bench.py's pipeline_file_import and j1_boolean_intersect read, against
# j1's 25 nation rectangles; the 15 000 sf0.1 customer parcels of
# j2_overlay_surface, against its 110-tile zone layer; a base layer of
# the 100 000 events; the 500 sf0.01 documents (sf0.1's 5 000 made one
# crawl_curation run take ≈95 s). The re-send, L-shape and duplicate
# shares are the workloads' own.
FILE_IMPORT = {"rows": 100_000, "resend_share": 0.2, "docs": 8, "zones": 25}
SPATIAL_ENRICH = {"parcels": 15_000, "curvy_share": 0.5, "docs": 4, "zones": 110}
LAYER_UPSERT = {"base_rows": 100_000, "batch_rows": 1_000, "batches": 48}
CRAWL_CURATION = {"docs": 500, "dup_groups": 20, "files": 4}

CSV_HEADER = ["event_id", "kind", "x", "y", "ts", "value"]
UPSERT_HEADER = ["event_id", "kind", "x", "y", "value", "obs_ts"]
RETENTION_CUTOFF = "2024-01-01 00:00:00"
KINDS = ("click", "view", "buy", "open")


def _coord(rng: random.Random, lo: int, hi: int) -> int:
    """A coordinate in thousandths in [lo, hi] that is never a whole unit."""
    v = rng.randint(lo, hi)
    return v + 1 if v % 1000 == 0 else v


def _fmt(v: int) -> str:
    return f"{v // 1000}.{v % 1000:03d}"


def _ts(base: float, offset_s: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(base + offset_s))


def _write(path: Path, text: str) -> int:
    data = text.encode()
    path.write_bytes(data)
    return len(data)


def point_wkb(x: float, y: float) -> bytes:
    """Little-endian WKB point, the layout the program's ``st_point`` writes."""
    return struct.pack("<BIdd", 1, 1, x, y)


def rect_zones(rng: random.Random, nx: int, ny: int) -> list[list[int]]:
    """Disjoint axis-aligned zones with whole-unit bounds (thousandths),
    one inside each cell of an nx-by-ny grid over [0, 100)^2."""
    zones = []
    for i in range(nx):
        for j in range(ny):
            cx0, cx1 = 100 * i // nx, 100 * (i + 1) // nx
            cy0, cy1 = 100 * j // ny, 100 * (j + 1) // ny
            x0 = cx0 + rng.randint(1, max(1, (cx1 - cx0) // 5))
            x1 = cx1 - rng.randint(1, max(1, (cx1 - cx0) // 5))
            y0 = cy0 + rng.randint(1, max(1, (cy1 - cy0) // 5))
            y1 = cy1 - rng.randint(1, max(1, (cy1 - cy0) // 5))
            zones.append([x0 * 1000, y0 * 1000, x1 * 1000, y1 * 1000])
    return zones


def _zones_csv(zones: list[list[int]]) -> str:
    lines = ["zone_id,wkt,x0,y0,x1,y1"]
    for k, (x0, y0, x1, y1) in enumerate(zones):
        a, b, c, d = (_fmt(v) for v in (x0, y0, x1, y1))
        wkt = f"POLYGON(({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"
        lines.append(f'z{k},"{wkt}",{a},{b},{c},{d}')
    return "\n".join(lines) + "\n"


# --- file_import ---------------------------------------------------------------


def gen_file_import(out: Path, rng: random.Random) -> dict:
    p = FILE_IMPORT
    base = calendar.timegm((2024, 3, 1, 0, 0, 0))
    rows = []
    n_resend = int(p["resend_share"] * p["rows"])
    for i in range(p["rows"] - n_resend):
        rows.append(
            [
                f"e{i:07d}",
                rng.choice(KINDS),
                _coord(rng, 0, 99_999),
                _coord(rng, 0, 99_999),
                rng.randint(0, 30 * 86_400),
                rng.randint(0, 10_000),
            ]
        )
    # re-sends: the same record (same place) with a later timestamp and
    # new attributes; each identifier is re-sent at most once
    for i in rng.sample(range(len(rows)), n_resend):
        eid, _, x, y, ts, _ = rows[i]
        rows.append(
            [eid, rng.choice(KINDS), x, y, ts + rng.randint(1, 86_400), rng.randint(0, 10_000)]
        )
    rng.shuffle(rows)
    docs_dir = out / "docs"
    docs_dir.mkdir()
    n = p["docs"]
    nbytes = 0
    for d in range(n):
        lines = [",".join(CSV_HEADER)]
        for eid, kind, x, y, ts, val in rows[d::n]:
            lines.append(f"{eid},{kind},{_fmt(x)},{_fmt(y)},{_ts(base, ts)},{val}")
        nbytes += _write(docs_dir / f"part-{d:02d}.csv", "\n".join(lines) + "\n")
    zones = rect_zones(rng, 5, p["zones"] // 5)
    zbytes = _write(out / "zones.csv", _zones_csv(zones))
    return {"rows": len(rows), "record_bytes": nbytes, "bytes": nbytes + zbytes, "files": n + 1}


# --- spatial_enrich --------------------------------------------------------------


def _parcel(rng: random.Random, curvy: bool) -> list:
    x0 = _coord(rng, 0, 96_000)
    y0 = _coord(rng, 0, 96_000)
    x1 = _coord(rng, x0 + 600, x0 + 3_000)
    y1 = _coord(rng, y0 + 600, y0 + 3_000)
    xa = _coord(rng, x0 + (x1 - x0) * 3 // 10, x0 + (x1 - x0) * 7 // 10)
    yb = _coord(rng, y0 + (y1 - y0) * 3 // 10, y0 + (y1 - y0) * 7 // 10)
    return ["L" if curvy else "R", x0, xa, x1, y0, yb, y1]


def parcel_ring(shape: list) -> list[tuple[int, int]]:
    kind, x0, xa, x1, y0, yb, y1 = shape
    if kind == "R":
        return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    # an L: the rectangle minus its top-right corner [xa, x1] x [yb, y1]
    return [(x0, y0), (x1, y0), (x1, yb), (xa, yb), (xa, y1), (x0, y1), (x0, y0)]


def _overlap(a0: int, a1: int, b0: int, b1: int) -> int:
    return max(0, min(a1, b1) - max(a0, b0))


def parcel_zone_area(shape: list, zone: list[int]) -> int:
    """Exact area of parcel ∩ zone in square thousandths."""
    kind, x0, xa, x1, y0, yb, y1 = shape
    zx0, zy0, zx1, zy1 = zone
    area = _overlap(x0, x1, zx0, zx1) * _overlap(y0, y1, zy0, zy1)
    if kind == "L":
        area -= _overlap(xa, x1, zx0, zx1) * _overlap(yb, y1, zy0, zy1)
    return area


def parcel_area(shape: list) -> int:
    kind, x0, xa, x1, y0, yb, y1 = shape
    area = (x1 - x0) * (y1 - y0)
    return area - (x1 - xa) * (y1 - yb) if kind == "L" else area


def gen_spatial_enrich(out: Path, rng: random.Random) -> dict:
    p = SPATIAL_ENRICH
    n_curvy = int(p["curvy_share"] * p["parcels"])
    curvy = [True] * n_curvy + [False] * (p["parcels"] - n_curvy)
    rng.shuffle(curvy)
    shapes = [_parcel(rng, c) for c in curvy]
    docs_dir = out / "parcels"
    docs_dir.mkdir()
    n = p["docs"]
    nbytes = 0
    for d in range(n):
        feats = []
        for i in range(d, len(shapes), n):
            coords = ",".join(f"[{_fmt(x)},{_fmt(y)}]" for x, y in parcel_ring(shapes[i]))
            feats.append(
                f'{{"type":"Feature","id":"p{i:06d}","properties":{{"kind":"{shapes[i][0]}"}},'
                f'"geometry":{{"type":"Polygon","coordinates":[[{coords}]]}}}}'
            )
        doc = '{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}"
        nbytes += _write(docs_dir / f"part-{d:02d}.geojson", doc)
    zones = rect_zones(rng, 10, p["zones"] // 10)
    zbytes = _write(out / "zones.csv", _zones_csv(zones))
    (out / "truth.json").write_text(json.dumps({"shapes": shapes, "zones": zones}))
    return {"rows": len(shapes), "record_bytes": nbytes, "bytes": nbytes + zbytes, "files": n + 1}


# --- layer_upsert ----------------------------------------------------------------


def gen_layer_upsert(out: Path, rng: random.Random) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = LAYER_UPSERT
    t2024 = calendar.timegm((2024, 1, 1, 0, 0, 0))
    half_year = 180 * 86_400

    def obs_ts(old: bool) -> str:
        return _ts(t2024, -rng.randint(1, half_year) if old else rng.randint(0, half_year))

    def record(eid: str, old: bool) -> list:
        return [
            eid,
            rng.choice(KINDS),
            _coord(rng, 0, 99_999),
            _coord(rng, 0, 99_999),
            str(rng.randint(0, 10_000)),
            obs_ts(old),
        ]

    state = {}
    for i in range(p["base_rows"]):
        eid = f"b{i:07d}"
        state[eid] = record(eid, rng.random() < 0.01)
    cols = list(zip(*state.values()))
    updated_at = pa.array(
        [int(t2024 + half_year) * 1_000_000] * len(state), pa.timestamp("us", tz="UTC")
    )
    table = pa.table(
        {
            "event_id": pa.array(cols[0]),
            "kind": pa.array(cols[1]),
            "value": pa.array(cols[4]),
            "obs_ts": pa.array(cols[5]),
            "identifier": pa.array(cols[0]),
            "geom": pa.array(
                [point_wkb(x / 1000, y / 1000) for x, y in zip(cols[2], cols[3])], pa.binary()
            ),
            "updated_at": updated_at,
        }
    )
    (out / "base").mkdir()
    pq.write_table(table, out / "base" / "part-00000.parquet")
    base_bytes = (out / "base" / "part-00000.parquet").stat().st_size

    bdir = out / "batches"
    bdir.mkdir()
    half = p["batch_rows"] // 2
    # updates only ever target records retention will keep, so the
    # sample pool never has to shrink
    stable = [eid for eid, r in state.items() if r[5] >= RETENTION_CUTOFF]
    buy = sum(1 for r in state.values() if r[1] == "buy")
    pending_old = [eid for eid, r in state.items() if r[5] < RETENTION_CUTOFF]
    expected = []
    batch_bytes = []
    next_id = 0
    for k in range(p["batches"]):
        batch = [record(eid, False) for eid in rng.sample(stable, half)]
        for _ in range(half):
            eid = f"n{next_id:07d}"
            next_id += 1
            batch.append(record(eid, rng.random() < 0.05))
        rng.shuffle(batch)
        lines = [",".join(UPSERT_HEADER)]
        for eid, kind, x, y, val, ts in batch:
            lines.append(f"{eid},{kind},{_fmt(x)},{_fmt(y)},{val},{ts}")
        batch_bytes.append(_write(bdir / f"batch-{k:03d}.csv", "\n".join(lines) + "\n"))
        for r in batch:
            prev = state.get(r[0])
            buy += (r[1] == "buy") - (prev is not None and prev[1] == "buy")
            state[r[0]] = r
            if r[0].startswith("n"):
                (pending_old if r[5] < RETENTION_CUTOFF else stable).append(r[0])
        for eid in pending_old:
            buy -= state.pop(eid)[1] == "buy"
        expected.append({"deleted": len(pending_old), "rows": len(state), "buy": buy})
        pending_old = []
    (out / "truth.json").write_text(json.dumps({"after_batch": expected}))
    return {
        "rows": p["base_rows"] + p["batch_rows"] * p["batches"],
        "base_rows": p["base_rows"],
        "base_bytes": base_bytes,
        "batch_rows": p["batch_rows"],
        "batch_bytes": batch_bytes,
        "record_bytes": sum(batch_bytes),
        "bytes": base_bytes + sum(batch_bytes),
        "files": 1 + p["batches"],
    }


# --- crawl_curation --------------------------------------------------------------

STOPWORDS = ("the", "of", "and", "to", "that", "with", "be", "have")
FILLERS = ("is", "in", "for", "on", "was", "as", "by", "at")
NAV = ("Home | News | Contact", "Home | Shop | About us", "Menu | Login | Help")
BOILERPLATE = (
    "This site uses cookies to improve your experience.",
    "Read our privacy policy before you continue.",
)


def _vocab(rng: random.Random, n: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randint(2, 3)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
        words.difference_update(STOPWORDS, FILLERS)
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n: int, stop: bool) -> str:
    words = []
    for _ in range(n):
        r = rng.random()
        if stop and r < 0.2:
            words.append(rng.choice(STOPWORDS))
        elif stop and r < 0.3:
            words.append(rng.choice(FILLERS))
        else:
            words.append(rng.choice(vocab))
    if stop:
        # two distinct Gopher stopwords in every sentence, so a page of
        # these always passes the stopword rule
        words[:2] = ["the", "of"]
    s = " ".join(words)
    cite = f"[{rng.randint(1, 40)}]" if rng.random() < 0.15 else ""
    return s[0].upper() + s[1:] + cite + "."


def _html(rng: random.Random, title: str, lines: list[str]) -> str:
    """Wrap content lines in page chrome that text extraction and the C4
    line rules remove: scripts, styles, navigation, cookie banners."""
    body = "".join(f"<p>{ln.replace('&', '&amp;')}</p>\n" for ln in lines)
    nav = rng.choice(NAV)
    extra = rng.choice(BOILERPLATE)
    return (
        f"<html><head><title>{title}</title><style>p {{ margin: {rng.randint(1, 9)}px }}</style>"
        f"</head><body><div class=\"nav\">{nav}</div>\n"
        f"<script>var t = {rng.randint(0, 999)};</script>\n{body}"
        f"<div>{extra}</div><!-- build {rng.randint(0, 99999)} --></body></html>"
    )


def gen_crawl_curation(out: Path, rng: random.Random) -> dict:
    p = CRAWL_CURATION
    vocab = _vocab(rng, 3000)
    labels = []
    contents = []
    n_docs = p["docs"]
    n_groups = p["dup_groups"]
    n_copies = [1 + g % 3 for g in range(n_groups)]
    n_base = n_docs - sum(n_copies)
    # exact shares, so every seed keeps the same number of pages
    quantiles = [(i + 0.5) / n_base for i in range(n_base)]
    rng.shuffle(quantiles)
    for r in quantiles:
        if r < 0.08:
            label, lines = "short", [_sentence(rng, vocab, 6, True) for _ in range(2)]
        elif r < 0.14:
            label, lines = "nostop", [
                _sentence(rng, vocab, rng.randint(9, 16), False) for _ in range(rng.randint(7, 10))
            ]
        elif r < 0.18:
            label, lines = "fewwords", [_sentence(rng, vocab, 6, True) for _ in range(3)]
        else:
            lines = [_sentence(rng, vocab, rng.randint(9, 16), True) for _ in range(rng.randint(7, 10))]
            label = "good"
            if r < 0.22:
                label = "lorem"
                lines.insert(rng.randint(0, len(lines)), "Lorem ipsum dolor sit amet, consectetur adipiscing elit.")
            elif r < 0.26:
                label = "curly"
                lines.insert(rng.randint(0, len(lines)), "Call init() { return the value of this form; } to start.")
        labels.append(label)
        contents.append(lines)
    good = [i for i, lab in enumerate(labels) if lab == "good"]
    masters = rng.sample(good, n_groups)
    docs = [(labels[i], contents[i], None) for i in range(n_base)]
    for m, c in zip(masters, n_copies):
        for _ in range(c):
            docs.append(("good", contents[m], m))
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    groups: dict[int, list[int]] = {}
    truth_labels = {}
    records = []
    for k, (label, lines, master) in enumerate(docs):
        doc_id = ids[k]
        truth_labels[doc_id] = label
        if master is not None:
            groups.setdefault(ids[master], [ids[master]]).append(doc_id)
        html = _html(rng, f"Page {doc_id}", lines)
        records.append(
            json.dumps({"doc_id": doc_id, "url": f"http://site{k % 97}.example/p/{doc_id}", "html": html})
        )
    rng.shuffle(records)
    nbytes = 0
    ddir = out / "docs"
    ddir.mkdir()
    for f in range(p["files"]):
        nbytes += _write(ddir / f"part-{f:02d}.jsonl", "\n".join(records[f :: p["files"]]) + "\n")
    (out / "truth.json").write_text(
        json.dumps({"labels": truth_labels, "groups": sorted(groups.values())})
    )
    return {"rows": n_docs, "record_bytes": nbytes, "bytes": nbytes, "files": p["files"]}


SIZES = {
    "file_import": FILE_IMPORT,
    "spatial_enrich": SPATIAL_ENRICH,
    "layer_upsert": LAYER_UPSERT,
    "crawl_curation": CRAWL_CURATION,
}
GENERATORS = {
    "file_import": gen_file_import,
    "spatial_enrich": gen_spatial_enrich,
    "layer_upsert": gen_layer_upsert,
    "crawl_curation": gen_crawl_curation,
}


def ensure_inputs(data_root: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Generate the inputs for (workload, seed) unless already on disk.
    Returns the input directory and its manifest."""
    sizes = json.dumps(SIZES[workload], sort_keys=True).encode()
    out = data_root / workload / f"s{seed}-{hashlib.sha1(sizes).hexdigest()[:8]}"
    manifest = out / "manifest.json"
    if manifest.exists():
        return out, json.loads(manifest.read_text())
    tmp = data_root / workload / f".s{seed}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    # string seeds hash deterministically (random.Random hashes str with
    # sha512), so every workload gets its own stream for a given seed
    info = GENERATORS[workload](tmp, random.Random(f"{workload}:{seed}"))
    info.update(workload=workload, seed=seed, gen_s=time.perf_counter() - t0)
    (tmp / "manifest.json").write_text(json.dumps(info))
    try:
        os.rename(tmp, out)
    except OSError:
        # another run finished the same seed first; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out, json.loads(manifest.read_text())
