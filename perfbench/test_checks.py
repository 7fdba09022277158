"""Each workload check accepts a correct result and rejects a perturbed one.

    python3 -m pytest perfbench/test_checks.py -q

Run from the repository root; needs numpy and pandas, not Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from karta_spark.fixtures import flagship_polys  # noqa: E402
from karta_spark.sources import images  # noqa: E402
from perfbench import checks, run  # noqa: E402
from perfbench.workloads import ImageCheckpoint, ImageEnrich, TextDedup  # noqa: E402


# --- tile_join ---------------------------------------------------------------

@pytest.fixture(scope="module")
def tile_expected():
    return checks.tile_counts_reference(0, 20_000, flagship_polys(), 8)


def _rows(expected):
    return [(pid, tile, n) for (pid, tile), n in expected.items()]


def test_tile_counts_accept(tile_expected):
    assert tile_expected
    assert checks.check_tile_counts(_rows(tile_expected), tile_expected) == []


def test_tile_counts_reject_dropped_row(tile_expected):
    rows = _rows(tile_expected)[1:]
    assert checks.check_tile_counts(rows, tile_expected)


def test_tile_counts_reject_changed_count(tile_expected):
    rows = _rows(tile_expected)
    pid, tile, n = rows[0]
    rows[0] = (pid, tile, n - 1)
    assert checks.check_tile_counts(rows, tile_expected)


def test_tile_counts_reject_duplicate(tile_expected):
    rows = _rows(tile_expected)
    assert checks.check_tile_counts(rows + rows[:1], tile_expected)


def test_tile_reference_matches_a_point_by_point_count():
    """The vectorized reference against a scalar re-count of a few keys."""
    from karta_spark.functions.cells import tile_id_py
    from karta_spark.functions.kernels import polygon_contains
    polys = flagship_polys()
    exp = checks.tile_counts_reference(100, 3_000, polys, 8)
    lon, lat = checks._lonlat_from_keys(np.arange(100, 3_100))
    got: dict = {}
    for x, y in zip(lon, lat):
        for p in polys:
            if polygon_contains(np.array([x]), np.array([y]), p.outer, p.holes)[0]:
                k = (p.poly_id, tile_id_py(x, y, 8))
                got[k] = got.get(k, 0) + 1
    assert got == exp


# --- image_enrich ------------------------------------------------------------

@pytest.fixture(scope="module")
def enrich(tmp_path_factory):
    wl = ImageEnrich(3, str(tmp_path_factory.mktemp("enrich")), 2, n=3_000,
                     n_landmarks=300, n_sample=20)
    wl.prepare()
    wl.reference()
    ref = wl.ref
    zone_of = ref["zone_of"]
    ids = sorted(zone_of)
    x = wl.points.set_index("id").loc[ids, "x"].to_numpy()
    y = wl.points.set_index("id").loc[ids, "y"].to_numpy()
    enriched = pd.DataFrame({
        "id": ids, "poly_id": [zone_of[i] for i in ids],
        "value": checks.bilinear_reference(x, y, wl.grid, wl.transform)})
    kid, kd = checks.knn_reference(x, y, wl.lm["point_id"].to_numpy(),
                                   wl.lm["x"].to_numpy(), wl.lm["y"].to_numpy(), wl.k)
    near = pd.DataFrame({
        "query_id": np.repeat(ids, wl.k), "point_id": kid.ravel(),
        "dist": kd.ravel(), "rank": np.tile(np.arange(1, wl.k + 1), len(ids))})
    return wl, enriched, near


def test_enrich_accept(enrich):
    wl, enriched, near = enrich
    assert len(wl.ref["zone_of"]) > 100
    assert checks.check_enrich(enriched, near, wl.ref, wl.k) == []


def test_enrich_reject_dropped_row(enrich):
    wl, enriched, near = enrich
    assert checks.check_enrich(enriched.iloc[1:], near, wl.ref, wl.k)


def test_enrich_reject_wrong_zone(enrich):
    wl, enriched, near = enrich
    bad = enriched.copy()
    bad.loc[0, "poly_id"] = "elsewhere"
    assert checks.check_enrich(bad, near, wl.ref, wl.k)


def test_enrich_reject_wrong_neighbour(enrich):
    wl, enriched, near = enrich
    q = wl.ref["sample_ids"][0]
    bad = near.copy()
    row = bad.index[(bad["query_id"] == q) & (bad["rank"] == 1)][0]
    bad.loc[row, "point_id"] += 1
    assert checks.check_enrich(enriched, bad, wl.ref, wl.k)


def test_enrich_reject_wrong_sample_value(enrich):
    wl, enriched, near = enrich
    q = wl.ref["sample_ids"][0]
    bad = enriched.copy()
    bad.loc[bad["id"] == q, "value"] += 1e-6
    assert checks.check_enrich(bad, near, wl.ref, wl.k)


# --- image_checkpoint --------------------------------------------------------

def _ckpt(n=30):
    ids = [f"img{i:012d}" for i in range(500, 500 + n)]
    bad_cap, bad_pix = set(ids[2:4]), {ids[7]}
    rows = pd.DataFrame({"image_id": ids, "psnr_vs_ref": np.full(n, np.inf),
                         "caption_ok": True, "psnr_ok": True, "verified": True})
    planted_cap = rows["image_id"].isin(bad_cap)
    planted_pix = rows["image_id"].isin(bad_pix)
    rows.loc[planted_cap, "caption_ok"] = False
    rows.loc[planted_pix, ["psnr_vs_ref", "psnr_ok"]] = [20.0, False]
    rows.loc[planted_cap | planted_pix, "verified"] = False
    return rows, set(ids), bad_cap, bad_pix


def _check(rows, ids, bad_cap, bad_pix, lineage=None, resumed=None, wrote=False):
    n = len(ids)
    return checks.check_checkpoint(rows, ids, bad_cap, bad_pix,
                                   n if lineage is None else lineage,
                                   n if resumed is None else resumed, wrote)


def test_checkpoint_accept():
    assert _check(*_ckpt()) == []


def test_checkpoint_reject_dropped_row():
    rows, ids, cap, pix = _ckpt()
    assert _check(rows.iloc[1:], ids, cap, pix, resumed=len(ids) - 1)


def test_checkpoint_reject_flipped_flag():
    rows, ids, cap, pix = _ckpt()
    rows.loc[5, "verified"] = False
    assert _check(rows, ids, cap, pix)


def test_checkpoint_reject_changed_caption_byte_passed():
    # a planted row with a changed caption byte comes out caption_ok: the
    # pipeline missed the change
    rows, ids, cap, pix = _ckpt()
    planted = rows["image_id"].isin(cap)
    rows.loc[planted, ["caption_ok", "verified"]] = True
    assert _check(rows, ids, cap, pix)


def test_checkpoint_reject_corrupted_pixels_passed():
    rows, ids, cap, pix = _ckpt()
    planted = rows["image_id"].isin(pix)
    rows.loc[planted, ["psnr_ok", "verified"]] = True
    assert _check(rows, ids, cap, pix)


def test_checkpoint_reject_low_psnr_and_lineage_and_resume_write():
    rows, ids, cap, pix = _ckpt()
    low = rows.copy()
    low.loc[0, "psnr_vs_ref"] = 39.9
    assert _check(low, ids, cap, pix)
    assert _check(rows, ids, cap, pix, lineage=len(ids) - 1)
    assert _check(rows, ids, cap, pix, wrote=True)


def test_checkpoint_planted_rows_differ_from_their_reference(tmp_path):
    # the planted inputs, decoded without Spark: changed caption bytes and
    # pixels below 40 dB on exactly the planted rows
    wl = ImageCheckpoint(3, str(tmp_path), 2, n=90)
    wl.prepare()
    table = pd.read_parquet(wl.input)
    assert len(table) == 90 and len(wl.bad_caption) == 8 and len(wl.bad_pixels) == 4
    for r in table.itertuples():
        i = int(r.image_id[3:])
        ref = images.pixels_for_phash(images.phash_for_index(np.array([i]))[0])
        db = images.psnr(images.decode_image(r.bytes, r.fmt), ref)
        assert (r.caption != images.caption_for_index(i)) == (r.image_id in wl.bad_caption)
        assert (db < 40.0) == (r.image_id in wl.bad_pixels)


# --- text_dedup --------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    wl = TextDedup(5, str(tmp_path_factory.mktemp("corpus")), 2, n=400, dup_frac=0.05)
    wl.prepare()
    wl.reference()
    return wl


def _good_pairs(wl):
    grams = {i: checks.gram_set(t, wl.shingle) for i, t in wl.texts.items()}
    out = []
    ids = sorted(wl.texts)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            j = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
            if j >= wl.threshold:
                out.append((a, b, j))
    return out


def test_pairs_accept(corpus):
    pairs = _good_pairs(corpus)
    assert corpus.must_find and len(pairs) >= len(corpus.must_find)
    assert checks.check_pairs(pairs, corpus.texts, corpus.shingle,
                              corpus.threshold, corpus.must_find) == []


def test_pairs_reject_pair_below_threshold(corpus):
    pairs = _good_pairs(corpus)
    ids = sorted(corpus.texts)
    a, b = next((a, b) for a in ids for b in ids if a < b and checks.jaccard(
        corpus.texts[a], corpus.texts[b], corpus.shingle) < corpus.threshold)
    j = checks.jaccard(corpus.texts[a], corpus.texts[b], corpus.shingle)
    assert checks.check_pairs(pairs + [(a, b, j)], corpus.texts, corpus.shingle,
                              corpus.threshold, corpus.must_find)


def test_pairs_reject_missed_identical_pair(corpus):
    pairs = [p for p in _good_pairs(corpus) if (p[0], p[1]) not in corpus.must_find]
    assert checks.check_pairs(pairs, corpus.texts, corpus.shingle,
                              corpus.threshold, corpus.must_find)


def test_pairs_reject_unordered_or_misreported(corpus):
    a, b, j = _good_pairs(corpus)[0]
    assert checks.check_pairs([(b, a, j)], corpus.texts, corpus.shingle,
                              corpus.threshold, set())
    assert checks.check_pairs([(a, b, j - 0.01)], corpus.texts, corpus.shingle,
                              corpus.threshold, set())


def test_gram_set_short_text_is_its_own_gram():
    assert checks.gram_set("abc", 6) == frozenset({"abc"})
    assert checks.gram_set("", 6) == frozenset({""})


# --- the benchmark's declaration ---------------------------------------------

def test_benchmark_json_names_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tail_has_ten_slower_passes():
    times = [float(i) for i in range(40)]
    value, pct = run._tail(times)
    assert sum(t > value for t in times) == 10 and pct == 75.0
    assert run._tail([float(i) for i in range(8)]) == (5.25, 75.0)
    assert run._tail([3.0, 1.0, 2.0]) == (2.5, 75.0)
    assert run._tail([4.0]) == (4.0, 75.0)
