"""Independent references and output checks, one per workload.

Each ``check_*`` function returns a list of failure strings; an empty list
means the pass output is correct.  References are computed with numpy and
plain Python from the generated inputs, never by calling the operator
under test.  The functions take plain Python/pandas values, so the tests
in ``test_checks.py`` run them without Spark.
"""

from __future__ import annotations

import math

import numpy as np

from karta_spark.functions.kernels import polygon_contains

_MAX_REPORT = 5


def _lonlat_from_keys(keys: np.ndarray):
    """Image key -> phash -> (lon, lat), the arithmetic cells.phash_from_key
    and cells.lon_from_phash/lat_from_phash define (int64-exact here)."""
    keys = np.asarray(keys, dtype=np.int64)
    lo = (keys * 2654435761) % (1 << 32)
    hi = (keys * 2246822519) % (1 << 31)
    lon = lo.astype(np.float64) / 4294967296.0 * 360.0 - 180.0
    lat = hi.astype(np.float64) / 2147483648.0 * 170.0 - 85.0
    return lon, lat


def _tile_ids(lon: np.ndarray, lat: np.ndarray, zoom: int) -> np.ndarray:
    """Slippy tile id z<<58 | x<<29 | y, same float algebra as cells.tile_id."""
    c = 128.0 / math.pi * float(2 ** zoom)
    x = np.floor(c * (np.radians(lon) + math.pi) / 256.0).astype(np.int64)
    y = np.floor(c * (math.pi - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0)))
                 / 256.0).astype(np.int64)
    return (np.int64(zoom) << 58) + (x << 29) + y


def tile_counts_reference(key_lo: int, n: int, polys, zoom: int,
                          chunk: int = 2_000_000) -> dict:
    """{(poly_id, tile): count} over image keys [key_lo, key_lo + n),
    counted *chunk* keys at a time to bound memory."""
    out: dict = {}
    for lo in range(key_lo, key_lo + n, chunk):
        hi = min(lo + chunk, key_lo + n)
        lon, lat = _lonlat_from_keys(np.arange(lo, hi, dtype=np.int64))
        for p in polys:
            inside = polygon_contains(lon, lat, p.outer, p.holes)
            tiles, counts = np.unique(_tile_ids(lon[inside], lat[inside], zoom),
                                      return_counts=True)
            for t, c in zip(tiles.tolist(), counts.tolist()):
                out[(p.poly_id, t)] = out.get((p.poly_id, t), 0) + c
    return out


def check_tile_counts(rows, expected: dict) -> list[str]:
    """rows: iterable of (poly_id, tile, n)."""
    got: dict = {}
    fails = []
    for pid, tile, n in rows:
        if (pid, tile) in got:
            fails.append(f"duplicate group ({pid}, {tile})")
        got[(pid, tile)] = n
    for k in sorted(set(got) | set(expected), key=str):
        if got.get(k) != expected.get(k):
            fails.append(f"group {k}: got {got.get(k)} expected {expected.get(k)}")
    return fails[:_MAX_REPORT]


# ---------------------------------------------------------------------------
# image_enrich
# ---------------------------------------------------------------------------

def zone_reference(x: np.ndarray, y: np.ndarray, polys) -> np.ndarray:
    """Zone index per point (-1 = none); zones must not overlap."""
    zone = np.full(len(x), -1, dtype=np.int64)
    for j, p in enumerate(polys):
        xmin, ymin, xmax, ymax = p.bbox()
        cand = np.flatnonzero((x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax))
        if cand.size:
            hit = cand[polygon_contains(x[cand], y[cand], p.outer, p.holes)]
            zone[hit] = j
    return zone


def knn_reference(qx, qy, lid, lx, ly, k: int):
    """Brute-force k nearest landmarks by (planar distance, id)."""
    d = np.sqrt((lx[None, :] - qx[:, None]) ** 2 + (ly[None, :] - qy[:, None]) ** 2)
    ids, dists = [], []
    for r in range(len(qx)):
        order = np.lexsort((lid, d[r]))[:k]
        ids.append(lid[order])
        dists.append(d[r, order])
    return np.array(ids), np.array(dists)


def bilinear_reference(x, y, grid: np.ndarray, transform, nodata=np.nan):
    """Bilinear sample at points for an axis-aligned grid transform
    (x0, y0, dx, dy, 0, 0), pixel-centre convention (index - 0.5)."""
    x0, y0, dx, dy = transform[:4]
    j = (np.asarray(x) - x0) / dx - 0.5
    i = (np.asarray(y) - y0) / dy - 0.5
    i0, j0 = np.floor(i).astype(np.int64), np.floor(j).astype(np.int64)
    i1, j1 = i0 + 1, j0 + 1
    ny, nx = grid.shape
    ok = (i0 >= 0) & (i1 < ny) & (j0 >= 0) & (j1 < nx)
    a0, a1 = np.clip(i0, 0, ny - 1), np.clip(i1, 0, ny - 1)
    b0, b1 = np.clip(j0, 0, nx - 1), np.clip(j1, 0, nx - 1)
    v = (grid[a0, b0] * (i1 - i) * (j1 - j) + grid[a1, b0] * (i - i0) * (j1 - j)
         + grid[a0, b1] * (i1 - i) * (j - j0) + grid[a1, b1] * (i - i0) * (j - j0))
    return np.where(ok, v, nodata)


def check_enrich(enriched, knn_rows, ref: dict, k: int) -> list[str]:
    """enriched: DataFrame-like with id, poly_id, value; knn_rows: with
    query_id, point_id, dist, rank.  ref holds the expected zone of every
    point ('zone_of': {id: poly_id}) and, for a seeded sample of ids,
    the brute-force kNN ids/dists and bilinear values."""
    fails = []
    ids = enriched["id"].to_numpy()
    if len(np.unique(ids)) != len(ids):
        fails.append("an image appears twice in the zoned output")
    got_zone = dict(zip(ids.tolist(), enriched["poly_id"].tolist()))
    if got_zone != ref["zone_of"]:
        missing = set(ref["zone_of"]) - set(got_zone)
        extra = set(got_zone) - set(ref["zone_of"])
        wrong = [i for i in set(got_zone) & set(ref["zone_of"])
                 if got_zone[i] != ref["zone_of"][i]]
        fails.append(f"zones differ: {len(missing)} missing, {len(extra)} extra, "
                     f"{len(wrong)} wrong")
    if len(knn_rows) != k * len(ref["zone_of"]):
        fails.append(f"knn rows {len(knn_rows)} != k * zoned {k * len(ref['zone_of'])}")
    value_of = dict(zip(ids.tolist(), enriched["value"].tolist()))
    kq = knn_rows.sort_values(["query_id", "rank"])
    by_q = {q: g for q, g in kq.groupby("query_id")}
    for q, exp_ids, exp_d, exp_v in zip(ref["sample_ids"], ref["sample_knn_ids"],
                                        ref["sample_knn_dist"], ref["sample_value"]):
        g = by_q.get(q)
        if g is None or not np.array_equal(g["point_id"].to_numpy(), exp_ids):
            fails.append(f"knn ids of {q} differ")
        elif not np.allclose(g["dist"].to_numpy(), exp_d, rtol=1e-12, atol=0.0):
            fails.append(f"knn dists of {q} differ")
        v = value_of.get(q)
        if v is None or not np.isclose(v, exp_v, rtol=1e-9, atol=1e-9, equal_nan=True):
            fails.append(f"sample value of {q}: got {v} expected {exp_v}")
    return fails[:_MAX_REPORT]


# ---------------------------------------------------------------------------
# image_checkpoint
# ---------------------------------------------------------------------------

def check_checkpoint(rows, ids: set, bad_caption: set, bad_pixels: set,
                     lineage_rows: int, resume_rows: int, resume_wrote: bool,
                     min_psnr: float = 40.0) -> list[str]:
    """rows: checkpoint rows with image_id, psnr_vs_ref, caption_ok,
    psnr_ok, verified.  ids: the input image ids; bad_caption and
    bad_pixels: the ids planted with a changed caption byte or corrupted
    pixels.  Exactly the planted rows must be flagged, and every other row
    verified, so neither a flag that always passes nor one that always
    fails gets through."""
    fails = []
    got = rows["image_id"].tolist()
    if len(set(got)) != len(got):
        fails.append("an image appears twice in the checkpoint")
    if set(got) != ids:
        fails.append(f"checkpoint has {len(set(got))} images, input {len(ids)}")
    cap = rows["caption_ok"].astype(bool).to_numpy()
    pix = rows["psnr_ok"].astype(bool).to_numpy()
    ver = rows["verified"].astype(bool).to_numpy()
    psnr = rows["psnr_vs_ref"].to_numpy(dtype=np.float64)
    id_arr = np.asarray(got, dtype=object)
    for name, flag, planted in (("caption_ok", cap, bad_caption),
                                ("psnr_ok", pix, bad_pixels),
                                ("verified", ver, bad_caption | bad_pixels)):
        flagged = set(id_arr[~flag].tolist())
        if flagged != planted:
            fails.append(f"{name} false on {len(flagged - planted)} unplanted rows, "
                         f"true on {len(planted - flagged)} planted rows")
    if not np.array_equal(pix, psnr >= min_psnr):
        fails.append(f"psnr_ok disagrees with psnr_vs_ref >= {min_psnr} dB")
    if lineage_rows != len(ids):
        fails.append(f"lineage rows {lineage_rows} != input {len(ids)}")
    if resume_rows != len(ids):
        fails.append(f"resumed rows {resume_rows} != input {len(ids)}")
    if resume_wrote:
        fails.append("resume of a completed stage wrote files")
    return fails[:_MAX_REPORT]


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------

def gram_set(text: str, n: int) -> frozenset:
    """Distinct character n-grams; a text shorter than n is its own gram."""
    t = text or ""
    return frozenset(t[i:i + n] for i in range(max(len(t) - n + 1, 1)))


def jaccard(a: str, b: str, n: int) -> float:
    ga, gb = gram_set(a, n), gram_set(b, n)
    return len(ga & gb) / len(ga | gb)


def check_pairs(pairs, texts: dict, shingle: int, threshold: float,
                must_find) -> list[str]:
    """pairs: iterable of (id_a, id_b, jaccard).  Every pair must be
    ordered, distinct and at exact n-gram Jaccard >= threshold; every pair
    in *must_find* (identical texts, which agree in every LSH band under
    any hash family) must be present."""
    fails = []
    seen = set()
    for a, b, j in pairs:
        if not a < b:
            fails.append(f"pair ({a}, {b}) not ordered")
        if (a, b) in seen:
            fails.append(f"pair ({a}, {b}) repeated")
        seen.add((a, b))
        if a not in texts or b not in texts:
            fails.append(f"pair ({a}, {b}) names an unknown document")
            continue
        exact = jaccard(texts[a], texts[b], shingle)
        if exact < threshold:
            fails.append(f"pair ({a}, {b}) has Jaccard {exact:.4f} < {threshold}")
        if abs(exact - j) > 1e-12:
            fails.append(f"pair ({a}, {b}) reports {j}, exact {exact}")
    missed = [p for p in must_find if p not in seen]
    if missed:
        fails.append(f"{len(missed)} identical-text pairs not found, e.g. {missed[0]}")
    return fails[:_MAX_REPORT]
