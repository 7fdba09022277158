"""Deduplication operators for the documents table.

First-class large-scale-pipeline ops (not in the reference, which has only
point-set duplicate bucketing at quadtree build, quadtree.pyx:88-95):

- exact dedup           — hash groupBy, keep lowest id
- n-gram Jaccard pairs  — explode distinct shingles, self-join, exact
                          |A∩B| / |A∪B| — fully SQL-expressible (oracle-able)
- MinHash + LSH         — numpy signature kernel in a pandas UDF, banded
                          bucket join, exact-Jaccard verify of candidates
- SimHash               — 64-bit token-hash sketch + hamming-band join
- embedding near-dup    — cosine over a normalized vector column

All shuffles are keyed on content hashes (uniform by construction — no skew
salting needed); candidate generation never crosses buckets, so the O(n^2)
blowup is bounded per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct value of *cols*."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def duplicate_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """(canonical_id, n_dups) per content group with >= 1 row."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups")
    ).select("canonical_id", "n_dups")


# ---------------------------------------------------------------------------
# character n-gram Jaccard (exact)
# ---------------------------------------------------------------------------

def ngrams(col, n: int = 3):
    """Distinct character n-grams of a string column — pure Catalyst
    (sequence + transform + substring), no UDF."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


#: corpora at or below this row count default to the measured-faster
#: 'grouped' plan; above it the scale-safe 'two_pass' plan is the default
#: (its agg buffers never materialize an uncapped posting list).
NGRAM_GROUPED_MAX_DOCS = 1_000_000


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5,
    max_df: int | None = None, strategy: str = "auto",
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold (id_a < id_b).

    ``max_df`` caps shingle document frequency (classic near-dup practice):
    a stop-shingle shared by f documents makes an f^2 candidate bucket —
    one shingle in 1% of a real corpus is quadratic death.  Shingles with
    df > max_df are dropped BEFORE sizes and intersections, so the result
    is the exact Jaccard of the capped shingle sets (both sides of the
    comparison see the same universe).

    strategy='auto' (default): pick by corpus size — 'grouped' up to
    NGRAM_GROUPED_MAX_DOCS rows, 'two_pass' beyond, so the scale-safe
    plan is the default where the grouped caveat bites.  NOTE: this runs
    one extra BOUNDED action, ``df.limit(MAX+1).count()`` — it stops
    scanning once MAX+1 rows exist, so its cost is capped at ~1M rows of
    upstream recompute regardless of corpus size, but if df is an
    expensive uncached pipeline you may prefer to cache df first or pass
    an explicit strategy to skip the probe entirely.

    strategy='grouped': ONE scan of the corpus -> groupBy(gram)
    collects the sorted doc-id list per shingle, df-filter, localCheckpoint
    the (small) grouped table, then derive BOTH pair intersections (HOF
    pair explosion, no self-join) and set sizes from it.  Measured ~25%
    faster than the 4x-recompute two-pass plan at sf0.1 (2.7 s vs 3.6 s).
    Caveat: collect_list materializes a gram's full posting list before the
    df filter drops it — a degenerate gram present in millions of docs
    builds that array in the agg buffer.  For adversarial corpora use
    strategy='two_pass', which computes df first and never collects an
    uncapped list.

    strategy='two_pass': explode distinct shingles -> broadcast anti-join
    against the hot-shingle set -> self equi-join on shingle -> count
    intersections -> join set sizes -> Jaccard filter.  Every step is a
    hash agg/join on a content key; nothing materializes a posting list."""
    if strategy == "auto":
        # bounded probe, NOT a full count: LocalLimit short-circuits each
        # partition, so at most MAX+1 rows of the upstream plan recompute
        probe = df.limit(NGRAM_GROUPED_MAX_DOCS + 1).count()
        strategy = ("grouped" if probe <= NGRAM_GROUPED_MAX_DOCS
                    else "two_pass")
    if strategy not in ("grouped", "two_pass"):
        raise ValueError(f"unknown strategy {strategy!r}")
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(ngrams(F.col(text_col), n)).alias("gram"),
    )
    if strategy == "grouped":
        grp = sh.groupBy("gram").agg(F.array_sort(F.collect_list("id")).alias("ids"))
        if max_df is not None:
            grp = grp.where(F.size("ids") <= max_df)
        grp = grp.select("ids").localCheckpoint()
        ids = F.col("ids")
        pairs = F.flatten(F.transform(ids, lambda x, i:
            F.transform(F.slice(ids, i + F.lit(2), F.size(ids)),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
        inter = (grp.select(F.explode(pairs).alias("p"))
                 .groupBy(F.col("p.id_a").alias("id_a"),
                          F.col("p.id_b").alias("id_b"))
                 .agg(F.count("*").alias("inter")))
        sizes = grp.select(F.explode("ids").alias("id")).groupBy("id").agg(
            F.count("*").alias("sz"))
    else:
        if max_df is not None:
            # the HOT set is the tiny one (few shingles exceed the cap) —
            # anti-join against it broadcast, instead of semi-joining the
            # huge rare-shingle complement
            hot = (sh.groupBy("gram").agg(F.count("*").alias("_df"))
                   .where(F.col("_df") > max_df).select("gram"))
            sh = sh.join(F.broadcast(hot), "gram", "left_anti")
        sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
#
# One hash family, two backends (ARCHITECTURE.md §7b).  Every hash is plain
# int64 arithmetic over Unicode code points:
#
#   gram hash   h(g)   = per-step ((acc % p)*131 + code(g_i)), then % p
#   permutation h_j(g) = (a_j * h(g) + b_j) % p,    p = 2^31 - 1
#
# with (a_j, b_j) drawn from a seeded PRNG at plan-build time.  The batched
# numpy kernel (_minhash_sig_batch) is the operator; minhash_portable_sql
# evaluates the same literals in DuckDB and is the oracle (q21), so the
# gate checks the code the bench times, LSH candidate set included.

_PORTABLE_P = 2147483647  # 2^31 - 1: a_j*h + b_j < 2^62 — no int64 overflow
_P64 = np.uint64(_PORTABLE_P)


def _portable_perm_params(num_perm: int, seed: int):
    import random as _random
    rng = _random.Random(seed)
    a = [rng.randrange(1, _PORTABLE_P) for _ in range(num_perm)]
    b = [rng.randrange(0, _PORTABLE_P) for _ in range(num_perm)]
    return a, b


def portable_gram_hash_sql(gram: str, n: int) -> str:
    """Polynomial rolling hash over the n chars of an rpad'ed gram — the
    SAME fragment parses as a Spark SQL expression and as DuckDB SQL.
    The mod at EVERY step keeps the accumulator < 2^31 * 131 + 0x10FFFF
    < 2^63 for any n (without it, n >= 8 overflows int64 — silently
    wrapping in non-ANSI Spark while DuckDB errors, which would break
    the cross-engine bit-reproducibility this family exists for)."""
    expr = f"CAST(ascii(substr({gram},1,1)) AS BIGINT)"
    for i in range(2, n + 1):
        expr = f"((({expr}) % {_PORTABLE_P})*131 + ascii(substr({gram},{i},1)))"
    return f"(({expr}) % {_PORTABLE_P})"


def _mod_p(x: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """x % p in place for uint64 x < p * 2^31 (*tmp*: same-shape scratch).

    One Mersenne fold y = (x & p) + (x >> 31) keeps y == x (mod p) with
    y <= 2p - 1 under that bound; min(y, y - p) then picks y - p when
    y >= p, and y otherwise (then y - p wraps around to near 2^64)."""
    np.right_shift(x, 31, out=tmp)
    np.bitwise_and(x, _P64, out=x)
    np.add(x, tmp, out=x)
    np.subtract(x, _P64, out=tmp)
    np.minimum(x, tmp, out=x)
    return x


def _code_points(strings) -> np.ndarray:
    """uint64 Unicode code points of the concatenated *strings*.  Lone
    surrogates pass through as their own code unit, as ``ord`` sees them."""
    raw = "".join(strings).encode("utf-32-le", "surrogatepass")
    return np.frombuffer(raw, dtype=np.uint32).astype(np.uint64)


def _poly_hash(chars) -> np.ndarray:
    """Portable gram hash of many grams at once: ``chars[k]`` holds the
    k-th code point of every gram (uint64, equal lengths)."""
    acc = np.array(chars[0], dtype=np.uint64)
    tmp = np.empty_like(acc)
    for c in chars[1:]:
        _mod_p(acc, tmp)
        acc *= np.uint64(131)
        acc += c
    return _mod_p(acc, tmp)


def _minhash_sig_batch(texts, shingle: int, a, b) -> np.ndarray:
    """(n_docs, num_perm) int64 portable MinHash signatures for a whole
    Arrow batch — the ``sig`` CTE of minhash_portable_sql, bit for bit.

    Grams follow the SQL: every length-``shingle`` window of the text's
    code points, and a text shorter than that (None and "" included) is
    one gram rpad'ed with chr(1).  Vectorization (guide §4.2):

    - every doc's code points concatenate into ONE buffer and the gram
      hash runs over it in ``shingle`` strided passes; only within-doc
      windows are gathered.  The SQL's DISTINCT is skipped — it cannot
      change a MIN over the same multiset;
    - docs are processed in length-bucketed groups as 2D padded matrices
      (padding repeats the doc's LAST window hash — a duplicate of a real
      value, again invisible to min), bounding padding waste at 2x;
    - the affine min uses in-place temporaries per 256-row block, and the
      mod p is a Mersenne fold (``_mod_p``), not a division."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    # process in ~1k-doc chunks: the concatenated-buffer temporaries stay
    # L2-resident, so concurrent workers do not fight for DRAM bandwidth
    if len(texts) > 1024:
        parts = [_minhash_sig_batch(texts[i:i + 1024], shingle, a, b)
                 for i in range(0, len(texts), 1024)]
        return np.concatenate(parts, axis=0)
    D = len(texts)
    num_perm = len(a)
    if D == 0:
        # an empty Arrow batch (empty partition / upstream filter) must not
        # reach the concatenated-buffer math (n_win would go negative)
        return np.empty((0, num_perm), dtype=np.int64)
    padded = [(t or "").ljust(shingle, "\x01") for t in texts]
    lens = np.fromiter((len(t) for t in padded), dtype=np.int64, count=D)
    starts = np.zeros(D, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    cp = _code_points(padded)
    n_win = cp.shape[0] - shingle + 1
    hashes = _poly_hash([cp[k:k + n_win] for k in range(shingle)])
    win_per_doc = lens - shingle + 1  # >= 1 after padding
    sig = np.empty((D, num_perm), dtype=np.uint64)
    order = np.argsort(win_per_doc, kind="stable")
    g = 0
    while g < D:
        w_min = win_per_doc[order[g]]
        lim = max(w_min * 2, w_min + 16)
        e = g
        while e < D and win_per_doc[order[e]] <= lim and e - g < 256:
            e += 1
        sel = order[g:e]
        m = int(win_per_doc[sel].max())
        col = np.arange(m, dtype=np.int64)[None, :]
        idx = starts[sel][:, None] + np.minimum(col, (win_per_doc[sel] - 1)[:, None])
        hv = hashes[idx]
        x = np.empty_like(hv)
        tmp = np.empty_like(hv)
        out = sig[sel]
        for j in range(num_perm):
            np.multiply(hv, a[j], out=x)
            np.add(x, b[j], out=x)
            _mod_p(x, tmp).min(axis=1, out=out[:, j])
        sig[sel] = out
        g = e
    return sig.view(np.int64)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 64, shingle: int = 3, seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) portable MinHash signatures, computed
    batch-at-a-time by ``_minhash_sig_batch`` in a pandas UDF; each value
    equals the DuckDB twin's ``m{j}`` column (minhash_portable_sql)."""
    a, b = _portable_perm_params(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        sig = _minhash_sig_batch(texts.tolist(), shingle, a, b)
        return pd.Series(list(sig))

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def _drop_oversized_buckets(banded: DataFrame, keys, max_bucket: int | None) -> DataFrame:
    """Degenerate-bucket guard shared by every banded-LSH self-join: a
    bucket holding f rows emits f^2/2 candidate pairs, so one
    boilerplate-heavy bucket with 10^6 near-identical members is quadratic
    death at corpus scale.  Buckets above *max_bucket* are dropped via a
    broadcast anti-join on the (tiny) oversized-key set — mass that large
    belongs to exact_dedup/cluster_representatives, not pairwise LSH.
    Normal corpora never hit the cap; None disables.

    NOTE: dropping a bucket makes the callers' recall guarantees
    conditional — a qualifying pair whose only agreeing band sits in a
    dropped bucket is silently lost.  Callers document this; audit with
    ``oversized_bucket_stats`` when recall matters."""
    if max_bucket is None:
        return banded
    keys = list(keys)
    oversized = (banded.groupBy(*keys).agg(F.count("*").alias("_n"))
                 .where(F.col("_n") > max_bucket).select(*keys))
    return banded.join(F.broadcast(oversized), keys, "left_anti")


def oversized_bucket_stats(banded: DataFrame, keys, max_bucket: int) -> DataFrame:
    """Audit companion to the degenerate-bucket guard: per oversized
    (band, key) bucket, its member count and the candidate-pair mass
    n*(n-1)/2 that the guard will drop.  Run this (it is one groupBy)
    before an LSH self-join when silent recall loss is unacceptable; an
    empty result means the guard is a no-op on this corpus."""
    keys = list(keys)
    n = F.count("*")
    return (banded.groupBy(*keys)
            .agg(n.alias("members"),
                 (n * (n - F.lit(1)) / F.lit(2)).cast("long")
                 .alias("dropped_pairs"))
            .where(F.col("members") > max_bucket))


def _band_buckets(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, band, bucket): hash each signature slice to one
    bucket key per band — the LSH key table every variant shares.

    The bucket is xxhash64 over the band's signature LONGS directly
    (numeric multi-arg form).  The previous array<long> -> array<string>
    -> string cast chain cost ~1 s of JVM string work per 50k docs at 8
    bands (r8 measurement) for identical banding semantics: equal slices
    map to equal buckets under any deterministic hash, and the downstream
    verify absorbs the (negligible) cross-slice collision mass."""
    rows_per_band = num_perm // bands
    return sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(F.lit(i), *[
                    F.element_at("sig", i * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ]).alias("bucket"),
            )
            for i in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def banded_minhash(df: DataFrame, text_col: str, id_col: str,
                   num_perm: int = 64, bands: int = 16, shingle: int = 3,
                   seed: int = 42) -> DataFrame:
    """(id, band, bucket) banded MinHash bucket rows — the LSH key table
    (kernel signatures; also the persistent state of the streaming
    near-dup operator, O(bands) rows per doc)."""
    return _band_buckets(
        minhash_signatures(df, text_col, id_col, num_perm, shingle, seed),
        num_perm, bands)


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 64, bands: int = 16, shingle: int = 3,
    threshold: float = 0.5, seed: int = 42, verify: bool = True,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, optionally verified with exact
    n-gram Jaccard on candidates only (the classic shingle->minhash->band->
    bucket-join pipeline).

    Signatures are the portable family (``minhash_signatures``).  Bands
    key on xxhash64 of each signature slice, where minhash_portable_sql
    keys on the slice's text: equal slices meet in one bucket either way,
    so with the guard off both backends emit the same candidates (up to a
    2^-64 bucket collision) and the same verified pairs (q21).

    ``max_bucket``: a (band, bucket) holding f docs emits f^2/2 candidate
    pairs — one boilerplate-heavy bucket with 10^6 near-identical docs is
    quadratic death at corpus scale.  Buckets larger than max_bucket
    contribute no candidates; a bucket that size means near-identical
    mass that exact_dedup/cluster_representatives should absorb first.
    Normal corpora never hit the cap, so pairs are unchanged; None
    disables the guard."""
    from karta_spark.plans.layout import ensure_min_parallelism

    # an unsplittable single-file corpus scans as ONE task, serializing
    # the Arrow signature kernel; no-op when the input is already parallel
    df = ensure_min_parallelism(df)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle, seed)
    banded = _band_buckets(sigs, num_perm, bands)
    # Grouped posting-list candidate plan (same shape as the q17 n-gram
    # pipeline): ONE groupBy((band, bucket)) builds the sorted member
    # list, the size filter applies the oversized-bucket guard in the
    # same pass, and a HOF pair explosion emits each bucket's f*(f-1)/2
    # pairs.  Replaces the former self-join plan (localCheckpoint of the
    # banded table + oversized groupBy + broadcast anti-join + two-sided
    # shuffle join): one shuffle instead of three and no materialization
    # barrier — the signature stage now feeds a single consumer.
    # MEASURED (sf1.0, 50k docs): candidate stage 2.24 s -> 0.6 s; the
    # candidate SET is identical (same buckets, same a<b ordering, same
    # guard semantics — a bucket over max_bucket contributes nothing).
    size_ok = F.size(F.col("ids")) >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size(F.col("ids")) <= max_bucket)
    grp = (banded.groupBy("band", "bucket")
           .agg(F.array_sort(F.collect_list("id")).alias("ids"))
           .where(size_ok).select("ids"))
    ids = F.col("ids")
    pair_structs = F.flatten(F.transform(ids, lambda x, i: F.transform(
        F.slice(ids, i + F.lit(2), F.size(ids)),
        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    cand = (grp.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b").distinct())
    if not verify:
        return cand
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    pairs = (
        cand.join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
    )

    # exact-Jaccard verify as pure Catalyst set algebra (array_intersect /
    # array_union on distinct shingle arrays) — zero Python on the verify
    # path; grams are rpad'ed with chr(1) like the signature kernel's and
    # the SQL twin's, so a short text has the same single padded gram
    def gram_set(col):
        t = F.coalesce(col, F.lit(""))
        idx = F.sequence(F.lit(1),
                         F.greatest(F.length(t) - (shingle - 1), F.lit(1)))
        return F.array_distinct(F.transform(
            idx, lambda i: F.rpad(t.substr(i, F.lit(shingle)), shingle, "\x01")))

    ga, gb = gram_set(F.col("t_a")), gram_set(F.col("t_b"))
    jac = (F.size(F.array_intersect(ga, gb)).cast("double")
           / F.size(F.array_union(ga, gb)).cast("double"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_portable_sql(
    table: str, text_col: str, id_col: str,
    num_perm: int = 64, bands: int = 8, shingle: int = 6,
    threshold: float = 0.5, seed: int = 42,
) -> str:
    """DuckDB twin of minhash_lsh_pairs (the q21 oracle) — same literals
    and arithmetic: its ``sig`` CTE equals ``_minhash_sig_batch`` bit for
    bit, and its candidates and Jaccard values equal the operator's with
    ``max_bucket=None`` (Jaccard rounded to 6 places)."""
    p = _PORTABLE_P
    a, b = _portable_perm_params(num_perm, seed)
    r = num_perm // bands
    n = shingle
    hash_expr = portable_gram_hash_sql("gram", n)
    mins = ",\n         ".join(
        f"min(({a[j]}*h + {b[j]}) % {p}) AS m{j}" for j in range(num_perm))
    band_arms = "\n  UNION ALL\n".join(
        "  SELECT id, {i} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            i=i, cols=", ".join(f"m{i * r + k}" for k in range(r)))
        for i in range(bands))
    return f"""
WITH g0 AS (
  SELECT {id_col} AS id,
         unnest(range(1, greatest(length(coalesce({text_col}, '')) - {n - 1}, 1) + 1)) AS i,
         coalesce({text_col}, '') AS t
  FROM {table}
),
grams AS (SELECT DISTINCT id, rpad(substr(t, i, {n}), {n}, chr(1)) AS gram FROM g0),
h AS (SELECT id, gram, {hash_expr} AS h FROM grams),
sig AS (SELECT id, {mins} FROM h GROUP BY id),
banded AS (
{band_arms}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
sz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i
  FROM cand c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND ga.gram = gb.gram
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.id_a = sa.id
JOIN sz sb ON i.id_b = sb.id
WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
#
# The same portable family (§7b).  Tokens split on single spaces with the
# empties dropped (multiplicity counts); a token hashes its first 12 code
# points rpad'ed with chr(1); bit k's weight for token hash h is
# 2*(((a_k*h + b_k) % p) % 2) - 1, and the doc's bit k is 1 iff the summed
# weight is > 0 (ties and empty docs -> 0).  The numpy kernel
# (_simhash_batch) is the operator; simhash_portable_sql is the oracle (q22).

_SIMHASH_TOKLEN = 12  # token hash covers the first 12 chars (prefix hash)


def portable_token_hash_sql(tok: str, maxlen: int = _SIMHASH_TOKLEN) -> str:
    """Per-step-reduced polynomial hash over the rpad'ed token prefix —
    parses identically in Spark SQL and DuckDB.  The mod at every step
    keeps the accumulator < 2^31 * 131 + 0x10FFFF < 2^63 for any length."""
    p = _PORTABLE_P
    padded = f"rpad(substr({tok},1,{maxlen}), {maxlen}, chr(1))"
    expr = f"CAST(ascii(substr({padded},1,1)) AS BIGINT)"
    for i in range(2, maxlen + 1):
        expr = f"((({expr}) % {p})*131 + ascii(substr({padded},{i},1)))"
    return f"(({expr}) % {p})"


def _simhash_bit_params(seed: int = 7):
    return _portable_perm_params(64, seed)


def _simhash_batch(texts, a, b) -> np.ndarray:
    """int64 portable SimHash per text: bit k of the value is character
    k+1 of the ``bits`` string simhash_portable_sql builds."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    # ~1k-doc chunks bound the (tokens x 64) temporaries
    if len(texts) > 1024:
        return np.concatenate([_simhash_batch(texts[i:i + 1024], a, b)
                               for i in range(0, len(texts), 1024)])
    L = _SIMHASH_TOKLEN
    toks = [[w for w in (t or "").split(" ") if w] for t in texts]
    n_tok = np.fromiter((len(x) for x in toks), dtype=np.uint64, count=len(toks))
    flat = [w[:L].ljust(L, "\x01") for x in toks for w in x]
    h = _poly_hash(_code_points(flat).reshape(-1, L).T)
    x = a[:, None] * h[None, :] + b[:, None]  # (64, tokens)
    _mod_p(x, np.empty_like(x))
    # per-doc count of odd permuted hashes from prefix sums over the
    # tokens (an empty doc spans no tokens and counts 0)
    ones = np.zeros((len(a), len(flat) + 1), dtype=np.uint64)
    np.cumsum(x & np.uint64(1), axis=1, out=ones[:, 1:])
    ends = np.cumsum(n_tok)
    odd = ones[:, ends] - ones[:, ends - n_tok]
    bits = np.ascontiguousarray((2 * odd > n_tok).T)
    return np.packbits(bits, axis=1, bitorder="little").view("<i8").ravel()


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash long): 64-bit portable SimHash per row — see the
    section note; every row gets a value, 0 for an empty or NULL text."""
    a, b = _simhash_bit_params()

    @F.pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch(texts.tolist(), a, b))

    return df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = 4096) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via banded
    exact-match blocking (``hamming_near_pairs`` over ``simhash``).

    Recall guarantee is pigeonhole: splitting 64 bits into
    ``bands = max_hamming + 1`` bands, any pair differing in <= max_hamming
    bits must agree exactly on at least one band — so the band blocking
    itself never drops a qualifying pair (b bands only cover b-1 flips,
    which is why a fixed 4-band split silently lost hamming 4..8 pairs).

    The guarantee is CONDITIONAL on the degenerate-bucket guard: with the
    default ``max_bucket=4096``, a band bucket holding more members than
    the cap is dropped wholesale (see _drop_oversized_buckets), so pairs
    whose only agreeing band lands in such a bucket are lost.  Pass
    ``max_bucket=None`` for unconditional recall (quadratic risk on
    boilerplate-heavy corpora) — the form simhash_portable_sql mirrors."""
    sh = simhash(df, text_col, id_col)
    return hamming_near_pairs(sh, "simhash", "id", max_hamming, max_bucket)


def _band_layout(n_bands: int, nbits: int = 64):
    """Band widths (wider first) and bit offsets splitting *nbits* bits as
    evenly as possible."""
    base, extra = divmod(nbits, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    return widths, offsets


def hamming_near_pairs(df: DataFrame, sig_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = 4096) -> DataFrame:
    """Near-dup pairs by hamming distance over ANY precomputed 64-bit
    signature column — e.g. the image **phash** of the BASELINE input
    table (perceptual near-dup image dedup at corpus scale), or a
    simhash.  Banded pigeonhole blocking: bands = max_hamming + 1, so a
    qualifying pair must agree exactly on >= 1 band; the self-join is an
    equi-join on (band, key) with the shared degenerate-bucket guard."""
    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError("max_hamming must be < 64 for 64-bit blocking")
    widths, offsets = _band_layout(n_bands)
    sh = df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("_sig"))
    bands = sh.select(
        "id", "_sig",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned("_sig", offsets[i])
                     .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("key"))
            for i in range(n_bands)
        ])).alias("bb"),
    ).select("id", "_sig", "bb.band", "bb.key")
    # grouped posting-list candidates (see minhash_lsh_pairs): ONE
    # groupBy builds each bucket's sorted (id, sig) member list with the
    # oversized guard folded into the size filter, and a HOF pair
    # explosion replaces the former localCheckpoint + anti-join +
    # two-sided self-join — one shuffle instead of three, identical
    # candidate set
    size_ok = F.size(F.col("ms")) >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size(F.col("ms")) <= max_bucket)
    grp = (bands.groupBy("band", "key")
           .agg(F.array_sort(F.collect_list(F.struct("id", "_sig")))
                .alias("ms"))
           .where(size_ok).select("ms"))
    ms = F.col("ms")
    pair_structs = F.flatten(F.transform(ms, lambda x, i: F.transform(
        F.slice(ms, i + F.lit(2), F.size(ms)),
        lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                           x["_sig"].alias("sh_a"),
                           y["_sig"].alias("sh_b")))))
    cand = (grp.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b").distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming) \
               .select("id_a", "id_b", "hamming")


def _hamming_sql(a: str, b: str, nbits: int = 64) -> str:
    terms = " + ".join(
        f"(CASE WHEN substr({a},{i},1) <> substr({b},{i},1) THEN 1 ELSE 0 END)"
        for i in range(1, nbits + 1))
    return f"CAST(({terms}) AS BIGINT)"


def simhash_portable_sql(
    table: str, text_col: str, id_col: str,
    max_hamming: int = 3, seed: int = 7,
) -> str:
    """DuckDB twin of simhash_near_pairs (the q22 oracle) — same literals
    and tokenization: character k+1 of its ``bits`` is bit k of
    ``simhash``, and its candidates and hamming equal the operator's with
    ``max_bucket=None``."""
    a, b = _simhash_bit_params(seed)
    p = _PORTABLE_P
    n_bands = max_hamming + 1
    widths, offsets = _band_layout(n_bands)
    tok_hash = portable_token_hash_sql("tok")
    sums = ",\n         ".join(
        f"sum(({a[k]}*h + {b[k]}) % {p} % 2 * 2 - 1) AS s{k}" for k in range(64))
    bits_expr = "||".join(
        f"(CASE WHEN s{k} > 0 THEN '1' ELSE '0' END)" for k in range(64))
    band_arms = "\n  UNION ALL\n".join(
        f"  SELECT id, {i} AS band, substr(bits, {offsets[i] + 1}, {widths[i]}) AS key FROM sigs"
        for i in range(n_bands))
    return f"""
WITH toks0 AS (
  SELECT {id_col} AS id, unnest(string_split(trim(coalesce({text_col}, '')), ' ')) AS tok
  FROM {table}
),
toks AS (SELECT id, tok, {tok_hash} AS h FROM toks0 WHERE length(tok) > 0),
per AS (SELECT id, {sums} FROM toks GROUP BY id),
sigs0 AS (SELECT id, {bits_expr} AS bits FROM per),
sigs AS (
  SELECT d.{id_col} AS id, coalesce(s.bits, repeat('0', 64)) AS bits
  FROM {table} d LEFT JOIN sigs0 s ON d.{id_col} = s.id
),
banded AS (
{band_arms}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, sa.bits AS ba, sb.bits AS bb
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
  JOIN sigs sa ON sa.id = a.id JOIN sigs sb ON sb.id = b.id
)
SELECT id_a, id_b, {_hamming_sql("ba", "bb")} AS hamming
FROM cand
WHERE {_hamming_sql("ba", "bb")} <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def _band_signatures(df: DataFrame, vec_col: str, dim: int,
                     nbits: int, bands: int, seed: int, out: str = "_sig") -> DataFrame:
    """array<int> of *bands* independent random-hyperplane sign sketches
    (nbits each) per vector — one Arrow pass for all bands."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((bands * nbits, dim))

    @F.pandas_udf(ArrayType(LongType()))
    def sig(vecs: pd.Series) -> pd.Series:
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (M @ H.T) > 0  # (n, bands*nbits)
        vals = np.zeros((len(M), bands), dtype=np.int64)
        for b in range(bands):
            for k in range(nbits):
                vals[:, b] |= bits[:, b * nbits + k].astype(np.int64) << k
        return pd.Series(list(vals))

    return df.withColumn(out, sig(F.col(vec_col)))


def embedding_near_dup_candidates(
    df: DataFrame, vec_col: str, id_col: str, dim: int,
    nbits: int = 10, bands: int = 12, seed: int = 7,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing >= 1 LSH band bucket.

    Banded random-hyperplane LSH: a pair at cosine s collides in one
    nbits-band with probability (1 - acos(s)/pi)^nbits; across b bands the
    miss probability is (1-p^nbits)^b — ~1e-4 at s=0.95 with the defaults,
    vanishing for true near-dups (s ~ 0.99+).  Candidate generation is an
    equi-join on (band, bucket): no row ever crosses a bucket, so the
    pair count is bounded per bucket instead of O(n^2) global."""
    sigs = _band_signatures(df, vec_col, dim, nbits, bands, seed)
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode("_sig").alias("band", "bucket"),
    )
    # grouped posting-list candidates (see minhash_lsh_pairs): one
    # groupBy + HOF pair explosion with the oversized guard as a size
    # filter — replaces localCheckpoint + anti-join + self-join, and the
    # signature UDF now feeds a single consumer
    size_ok = F.size(F.col("ids")) >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size(F.col("ids")) <= max_bucket)
    grp = (banded.groupBy("band", "bucket")
           .agg(F.array_sort(F.collect_list("id")).alias("ids"))
           .where(size_ok).select("ids"))
    ids = F.col("ids")
    pair_structs = F.flatten(F.transform(ids, lambda x, i: F.transform(
        F.slice(ids, i + F.lit(2), F.size(ids)),
        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (grp.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b").distinct())


def embedding_near_dup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    method: str = "lsh", dim: int | None = None,
    nbits: int = 10, bands: int = 12, seed: int = 7,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    method="lsh" (default, the scale path): banded hyperplane-LSH candidate
    generation + exact-cosine verify on candidates only — never materializes
    the O(n^2) cross product.  method="exact" is the all-pairs self-join
    twin: exact at any threshold, for small tables and oracle checks."""
    from karta_spark.operators.similarity import cosine_expr
    if method == "exact":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cosine_expr("v_a", "v_b"))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    if dim is None:
        first = df.select(F.size(vec_col)).first()
        dim = int(first[0]) if first else 0
    cand = embedding_near_dup_candidates(df, vec_col, id_col, dim, nbits,
                                     bands, seed, max_bucket=max_bucket)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .withColumn("cosine", cosine_expr("v_a", "v_b"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(id, component) — connected components of the near-dup pair graph,
    component labeled by its minimum member id.

    The step every dedup pipeline needs after pair generation: near-dup
    PAIRS (a~b, b~c) must collapse to CLUSTERS {a,b,c} before choosing
    canonical documents, or transitive duplicates survive.

    Algorithm: min-label propagation with pointer jumping — each round
    every node adopts the minimum label in its neighborhood, then labels
    are path-compressed by one extra join (comp := comp's comp), giving
    O(log diameter) rounds even on path graphs.  Rounds are pure
    groupBy/join (shuffle on node id, map-side combinable min agg).  Each
    round is localCheckpoint-ed: iterative plans MUST truncate lineage or
    the logical tree grows geometrically and the driver OOMs planning
    round ~30 (persist alone does not cut the plan).

    ``checkpoint_dir``: by default rounds use ``localCheckpoint`` —
    fastest, but blocks live on executors, so on a REAL cluster an
    executor loss mid-iteration kills the job (lineage is truncated and
    the blocks are gone).  Pass a reliable location (HDFS/S3/shared-fs
    path) to switch every round to ``df.checkpoint()``: blocks persist
    to storage and survive executor loss — the cluster-scale mode.
    Setting it calls ``sc.setCheckpointDir`` (context-global); enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` to reap
    per-round files, or clean the directory after the job."""
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)

        def _ckpt(df):
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df):
            return df.localCheckpoint(eager=True)

    edges = _ckpt(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct())
    labels = _ckpt(
        edges.select(F.col("a").alias("id"))
        .distinct().withColumn("comp", F.col("id")))
    for _ in range(max_iter):
        # neighborhood min: for each node, min(own, neighbors' labels)
        nbr = (edges.join(labels.withColumnRenamed("id", "b"), "b")
               .groupBy("a").agg(F.min("comp").alias("nbr_comp"))
               .withColumnRenamed("a", "id"))
        stepped = (labels.join(nbr, "id", "left")
                   .select("id", F.least("comp", F.coalesce("nbr_comp", "comp"))
                           .alias("comp")))
        # pointer jump: comp := label(comp) — halves remaining path length
        lookup = stepped.select(F.col("id").alias("comp"),
                                F.col("comp").alias("comp2"))
        new_labels = _ckpt(
            stepped.join(lookup, "comp", "left")
            .select("id", F.coalesce("comp2", "comp").alias("comp")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    return labels


def duplicate_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                       id_a: str = "id_a", id_b: str = "id_b",
                       checkpoint_dir: str | None = None) -> DataFrame:
    """(id, canonical_id) for EVERY row of df: members of a near-dup
    component map to its min id; singletons map to themselves.
    ``checkpoint_dir`` passes through to :func:`connected_components`
    (reliable checkpoints for cluster runs)."""
    comp = connected_components(pairs, id_a, id_b,
                                checkpoint_dir=checkpoint_dir)
    return (df.select(F.col(id_col).alias("id"))
            .join(comp, "id", "left")
            .select("id", F.coalesce("comp", "id").alias("canonical_id")))


def cluster_representatives(df: DataFrame, pairs: DataFrame, id_col: str,
                            score, id_a: str = "id_a",
                            id_b: str = "id_b") -> DataFrame:
    """(canonical_id, rep_id, n_members): per near-dup cluster, the member
    with the highest *score* (ties -> lowest id) — the corpus-shrinking
    step after duplicate_clusters: keep the one best copy per cluster,
    drop the rest.

    *score* is any Column over df's columns (char count, a quality
    heuristic, a recency timestamp).  One hash aggregate on canonical_id:
    min_by over the (-score, id) struct gives argmax-score /
    lowest-id-tie-break with map-side partial aggregation — no window, no
    per-cluster shuffle beyond the agg."""
    labels = duplicate_clusters(df, pairs, id_col)
    scored = (df.select(F.col(id_col).alias("id"), score.alias("_s"))
              .join(labels, "id"))
    key = F.struct((-F.col("_s")).alias("neg"), F.col("id").alias("tid"))
    return (scored.groupBy("canonical_id")
            .agg(F.min_by("id", key).alias("rep_id"),
                 F.count("*").cast("long").alias("n_members")))


def semantic_dedup(vectors: DataFrame, vec_col: str, id_col: str,
                   threshold: float, codebook=None, dim: int = 64,
                   n_clusters: int = 8, seed: int = 19,
                   max_cluster: int | None = 65_536) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then drop
    near-duplicates WITHIN each cluster — clustering makes the
    quadratic comparison local, which is the whole trick: the
    self-join keys on cluster id, so its cost is sum of cluster
    sizes squared, not corpus squared.

    SCALE CONTRACT: the locality argument only holds when clusters stay
    small relative to the corpus — the paper operates at k ~ 10^4-10^5
    clusters.  Size ``n_clusters`` (or pass a ``codebook`` from
    similarity.train_centroids for data-adaptive centroids) so the
    expected cluster is at most ~10^4 vectors; the tiny default k=8
    is gate-scale only.  As a hard backstop, clusters larger than
    ``max_cluster`` are EXCLUDED from the pairwise comparison entirely
    (their members return kept=True) via a broadcast anti-join on the
    tiny oversized-cluster id set — the same degenerate-bucket guard as
    ``_drop_oversized_buckets``: one mega-cluster must be split with a
    finer codebook, not brute-forced at |cluster|^2.  None disables.

    Assignment uses the exact-integer static-codebook argmin
    (similarity.ivf_topk_static's machinery); the keep rule is
    deterministic: a vector drops iff some LOWER-id vector in its
    cluster has cosine >= threshold ("keep first").  Returns
    (id, cluster, kept)."""
    from karta_spark.operators.similarity import (_static_dists,
                                                  cosine_expr,
                                                  static_codebook)
    if codebook is None:
        codebook = static_codebook(n_clusters, dim, seed)
    v = vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("_v"))
    v = v.withColumn("_d", _static_dists("_v", codebook)) \
         .withColumn("cluster",
                     (F.array_position("_d", F.array_min("_d")) - 1)
                     .cast("int")).drop("_d")
    vj = v
    if max_cluster is not None:
        oversized = (v.groupBy("cluster").agg(F.count("*").alias("_n"))
                     .where(F.col("_n") > max_cluster).select("cluster"))
        vj = v.join(F.broadcast(oversized), "cluster", "left_anti")
    a = vj.select(F.col("id").alias("ida"), F.col("_v").alias("va"),
                  "cluster")
    b = vj.select(F.col("id").alias("idb"), F.col("_v").alias("vb"),
                  "cluster")
    dup = (a.join(b, "cluster")
           .where(F.col("ida") < F.col("idb"))
           .where(cosine_expr("va", "vb") >= threshold)
           .select(F.col("idb").alias("id")).distinct())
    return (v.join(dup.withColumn("_dup", F.lit(True)), "id", "left")
            .select("id", "cluster",
                    F.coalesce(~F.col("_dup"), F.lit(True))
                    .alias("kept")))
