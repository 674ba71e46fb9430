"""Deduplication suite for web-scale training-data pipelines.

Exact dedup, character-shingle Jaccard, MinHash+LSH, SimHash, and
embedding near-dup — each expressed as DataFrame algebra so the physical
plan is shuffles over compact keys, never pairwise row comparisons over
the full corpus (except the explicitly-bounded exact-Jaccard verifier).

Scale notes (10^12 docs):
* exact: one shuffle on a 256-bit content hash (tiny keys);
* MinHash LSH: shingles → signatures is map-side only; one shuffle on
  (band, band_hash) then generates, estimates and exact-verifies the
  pairs inside each bucket;
* SimHash: map-side signature, self-join on rotated prefix buckets;
* all tie-breaks are total orders (min doc_id) ⇒ deterministic
  survivors under any parallelism (same guarantee as mosaic_dedup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eodal_spark.session import spread

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per exact text content (sha256 groupBy).
    Returns the surviving rows.

    Aggregation form, NOT a window: ``min_by(struct(row), id)`` combines
    map-side, so 10^8 copies of one boilerplate page reduce to one
    candidate per map partition before the shuffle — a row_number window
    would funnel the whole duplicate group into a single task (window
    partitions cannot be split by AQE)."""
    cols = df.columns
    h = F.sha2(F.col(text_col), 256).alias("_h")
    win = (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_w"))
    )
    return win.select(*[F.col(f"_w.{c}").alias(c) for c in cols])


# ---------------------------------------------------------------------------
# Character-shingle Jaccard (exact near-dup ground truth)
# ---------------------------------------------------------------------------

def shingles(text: Column, w: int = 5) -> Column:
    """Distinct character w-shingles — native sequence/transform."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (w - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, w)))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
    threshold_milli: int = 800,
) -> DataFrame:
    """All document pairs with shingle-Jaccard >= threshold/1000.

    Inverted-index join: explode shingles, self-join on shingle, count
    intersections, then |A∪B| = |A|+|B|-|A∩B|.  The threshold test is
    integer arithmetic (inter*1000 >= t*union) — oracle-exact.
    Intended for verification corpora / within-bucket refinement, not
    the full 10^12 corpus (that's what MinHash LSH is for)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), w)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 1000 >= F.lit(threshold_milli) * F.col("uni"))
    )
    return out.select("id_a", "id_b", "inter", "uni")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _signature_udf(num_perm: int, w: int, seed: int = 42):
    """Arrow-batched pandas UDF text → MinHash signature (array<long>)
    over the UTF-8 byte ``w``-shingles; per document every window's
    polynomial hash comes from a ``w``-step Horner recurrence over
    shifted byte arrays (zero per-byte Python) and the permutation mins
    are one (num_perm × shingles) matrix op."""
    a, b = _minhash_params(num_perm, seed)
    a_u = a[:, None].astype(np.uint64)
    b_u = b[:, None].astype(np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = (t or "").encode("utf-8")
            if len(raw) < w:
                raw = raw + b"\x00" * (w - len(raw))
            arr = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
            m = len(arr) - w + 1
            # window i hashes to Σ_j byte[i+j]·base^j (mod 2^64), Horner
            # from the last byte of the window
            hv = np.zeros(m, dtype=np.uint64)
            with np.errstate(over="ignore"):  # uint64 wraparound is the hash's modulus
                for j in range(w - 1, -1, -1):
                    hv = hv * _POLY_BASE + arr[j : j + m]
            hv = np.unique(hv) & np.uint64(0x7FFFFFFFFFFFFFFF)
            mins = ((a_u * hv[None, :] + b_u) % np.uint64(_MERSENNE)).min(axis=1)
            out.append(mins.astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    w: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash over character shingles
    (:func:`_signature_udf`).  Map-side only — no shuffle (beyond the
    small-input spread, :func:`eodal_spark.session.spread`)."""
    sig = _signature_udf(num_perm, w, seed)
    df = spread(df, id_col)
    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))


# polynomial token-hash parameters: FNV prime as the base (odd → has a
# modular inverse mod 2^64, enabling the vectorized prefix trick below)
_POLY_BASE = np.uint64(1099511628211)
_POLY_INV = np.uint64(pow(1099511628211, -1, 1 << 64))


def _token_hashes(arr: np.ndarray) -> np.ndarray:
    """Polynomial hashes (mod 2^64) of the ASCII-whitespace-separated
    tokens of one UTF-8 byte array — **fully vectorized**, zero
    per-token Python.

    Uses the prefix-product identity: with pw[k] = base^k and
    S[k] = Σ_{j<k} byte_j·base^{-j} (both cumulative numpy ops under
    uint64 wraparound), the hash of bytes [a, b) is
    ``pw[b-1] · (S[b] - S[a]) = Σ byte_j · base^{b-1-j}`` — one gather
    per token instead of a Python loop per token."""
    is_tok = ~((arr == 32) | ((arr >= 9) & (arr <= 13)))
    if not is_tok.any():
        return np.empty(0, dtype=np.uint64)
    # NOTE: raw polynomial hashes of short tokens are tiny (1-byte token
    # → value < 2^8), which would zero the high simhash bit votes; the
    # splitmix64 finalizer below (_mix64) spreads them over all 64 bits.
    d = np.diff(is_tok.astype(np.int8))
    starts = np.nonzero(d == 1)[0] + 1
    ends = np.nonzero(d == -1)[0] + 1
    if is_tok[0]:
        starts = np.concatenate(([0], starts))
    if is_tok[-1]:
        ends = np.concatenate((ends, [len(arr)]))
    n = len(arr)
    with np.errstate(over="ignore"):
        pw = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_BASE, dtype=np.uint64)))
        )
        ivp = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_INV, dtype=np.uint64)))
        )
        s = np.concatenate(
            ([np.uint64(0)], np.cumsum(arr.astype(np.uint64) * ivp))
        )
        return _mix64(pw[ends - 1] * (s[ends] - s[starts]))


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (vectorized): bijective 64-bit avalanche so
    every output bit depends on every input bit — without it, short
    tokens leave the high bits all-zero and bias simhash votes."""
    with np.errstate(over="ignore"):
        h = h.astype(np.uint64)
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
        return h


def _cap_buckets(banded: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop LSH buckets holding more than ``cap`` members before the
    candidate self-join: a bucket of n ids emits n(n-1)/2 pairs, so one
    adversarial bucket (template/boilerplate families that survive the
    exact-text pre-collapse) can go quadratic.  Standard LSH practice
    (datasketch / Spark ML both bound bucket fan-out); recall loss is
    confined to pairs whose EVERY shared band is oversized — near-dups
    collide in many independent bands.  One extra shuffle on the same
    bucket key the join was about to shuffle on anyway."""
    counts = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    return banded.join(
        counts.filter(F.col("_n") > cap).select(*keys), keys, "left_anti"
    )


def _band_hashes(sig: str, bands: int, rows_per_band: int) -> Column:
    """array<int> of the ``bands`` LSH bucket hashes of a signature —
    band i hashes signature rows [i·r, (i+1)·r)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.hash(F.slice(sig, i * rows_per_band + 1, rows_per_band)),
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banding: hash each band of the signature, self-join on
    (band_idx, band_hash) buckets → candidate pairs (id_a < id_b).
    Shuffle key is the band hash — small and well-distributed.
    ``bucket_cap`` drops oversized buckets (see :func:`_cap_buckets`);
    pair it with the exact-text pre-collapse in :func:`minhash_dedup`,
    which removes the *guaranteed* hot buckets (identical docs collide
    in every band) without any recall loss."""
    banded = sigs.select(
        "id", F.posexplode(_band_hashes("sig", bands, rows_per_band)).alias("band", "bh")
    )
    if bucket_cap is not None:
        banded = _cap_buckets(banded, ["band", "bh"], bucket_cap)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _shingle_hash_set(t: str, w: int) -> np.ndarray:
    """Sorted distinct 64-bit polynomial hashes of the character
    ``w``-shingles of ``t`` (the whole string when shorter than ``w`` —
    same membership rule as :func:`shingles`).

    Characters are the UTF-32 code points, so windows match Python
    string slicing exactly; every window is hashed at once by a
    ``w``-step Horner recurrence over shifted code-point arrays — no
    per-shingle Python."""
    cps = np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    k = min(w, len(cps))  # window width
    m = len(cps) - k + 1  # window count (1 for a short or empty text)
    h = np.zeros(m, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash's modulus
        for j in range(k):
            h = h * _POLY_BASE + cps[j : j + m]
    return np.unique(h)


def _set_intersections(
    hsets: list[np.ndarray], ca: np.ndarray, cb: np.ndarray
) -> np.ndarray:
    """|hsets[ca[k]] ∩ hsets[cb[k]]| for every k (sorted distinct
    uint64 sets, none empty).  Pairs are grouped by their left set;
    each group's right-hand sets are gathered from one flat
    concatenation with a vectorized repeat/arange index and probed with
    ONE ``searchsorted`` + ``add.reduceat`` — no per-pair numpy calls.
    The gathered probe is cut into pieces of about 4M elements (32 MB),
    so a hot bucket's millions of pairs never materialize at once."""
    budget = 1 << 22
    sizes = np.fromiter((h.size for h in hsets), np.int64, len(hsets))
    flat = np.concatenate(hsets)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    run = np.argsort(ca, kind="stable")
    cum = np.cumsum(sizes[cb[run]])
    out = np.empty(len(ca), dtype=np.int64)
    pos = 0
    while pos < len(run):
        end = max(pos + 1, int(np.searchsorted(cum, cum[pos] + budget)))
        piece = run[pos:end]
        pa, pb = ca[piece], cb[piece]
        lens = sizes[pb]
        bound = np.concatenate(([0], np.cumsum(lens)))
        probe = flat[np.repeat(offs[pb] - bound[:-1], lens) + np.arange(bound[-1])]
        cuts = np.nonzero(np.diff(pa))[0] + 1
        got = np.empty(len(piece), dtype=np.int64)
        for gs, ge in zip(
            np.concatenate(([0], cuts)), np.concatenate((cuts, [len(piece)]))
        ):
            ha = hsets[pa[gs]]
            seg = probe[bound[gs] : bound[ge]]
            loc = np.searchsorted(ha, seg)
            loc[loc == ha.size] = 0  # any in-range slot; equality decides
            eq = (ha[loc] == seg).astype(np.int64)
            got[gs:ge] = np.add.reduceat(eq, bound[gs:ge] - bound[gs])
        out[piece] = got
        pos = end
    return out


def _bucket_pairs(
    banded: DataFrame, num_perm: int, threshold_milli: int, w: int
) -> DataFrame:
    """LSH buckets → exact-verified near-dup pairs (id_a, id_b, inter,
    uni), each pair born, estimated, verified and emitted inside ONE
    bucket stage.

    ``banded`` holds one row per (document, band): id, text ``t``, the
    full signature ``sig``, the doc's band-hash array ``bhs`` and the
    row's (band, bh) bucket key.  After one repartition on the bucket
    key every worker holds whole buckets and, per partition:

    * groups rows into buckets with one sort; singleton buckets are
      dropped before any signature is unpacked;
    * estimates: a pair survives when its full signatures agree in at
      least ``ceil((threshold_milli - 150) · num_perm / 1000)``
      positions (the margin keeps the false-negative probability < 1%
      at 64 perms).  Buckets up to 64 members run as one vectorized
      pass per bucket size; larger ones as a dense outer-product
      accumulation over signature columns factorized within the bucket
      (a column constant over the bucket folds into the threshold, an
      all-distinct one is skipped, the rest compare as narrow codes —
      the pass is memory-bound, so code width is wall clock);
    * keeps a pair only in the LOWEST band where the two docs' band
      hashes agree, so a pair colliding in several bands is emitted
      once and no pair-level distinct is needed;
    * verifies exact character-shingle Jaccard from shingle hash sets
      built from the texts of the surviving pairs only (one build per
      distinct text per partition) and emits the pairs with
      ``inter · 1000 >= threshold_milli · uni``.

    A pair's output is a pure function of its two texts, so it is
    independent of partitioning and of the band it was found in."""
    est_min = max(0, threshold_milli - 150) * num_perm
    min_matches = -(-est_min // 1000)
    acc_t = np.uint8 if num_perm <= 255 else np.uint16
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("inter", T.LongType()),
            T.StructField("uni", T.LongType()),
        ]
    )
    # buckets above this size use the dense outer-product estimate;
    # smaller ones are batched per size class so a partition's many
    # 2-10-member buckets cost a handful of numpy calls
    big_n = 64
    chunk = 1 << 16  # explicit pairs gathered at once (× num_perm longs)

    def gen(batches):
        # Arrow in, Arrow out: the list columns unpack as flat numpy
        # buffers (no per-row objects) and only rows of multi-member
        # buckets are ever gathered
        batches = list(batches)
        n_rows = sum(b.num_rows for b in batches)
        if not n_rows:
            return
        tbl = pa.Table.from_batches(batches)
        key = tbl.column("band").to_numpy().astype(np.int64) * np.int64(1 << 33) + (
            tbl.column("bh").to_numpy().astype(np.int64) + np.int64(1 << 32)
        )
        order = np.argsort(key, kind="stable")
        key = key[order]
        starts = np.concatenate(([0], np.nonzero(np.diff(key))[0] + 1))
        sizes = np.diff(np.concatenate((starts, [len(key)])))
        multi = sizes >= 2
        if not multi.any():
            return
        rows = order[np.repeat(multi, sizes)]
        sizes = sizes[multi]
        starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))

        def flat(name: str) -> np.ndarray:
            values = pa.concat_arrays(tbl.column(name).chunks).flatten()
            return values.to_numpy().reshape(n_rows, -1)[rows]

        ids = tbl.column("id").to_numpy()[rows]
        band = tbl.column("band").to_numpy().astype(np.int64)[rows]
        texts = tbl.column("t").take(pa.array(rows)).to_pylist()
        sig_mat = flat("sig")
        bh_mat = flat("bhs")
        hset_memo: dict[str, np.ndarray] = {}
        out: list[tuple[np.ndarray, ...]] = []

        def hset(t) -> np.ndarray:
            t = t or ""
            hs = hset_memo.get(t)
            if hs is None:
                hs = hset_memo[t] = _shingle_hash_set(t, w)
            return hs

        def emit(ii: np.ndarray, jj: np.ndarray, estimated: bool) -> None:
            for cs in range(0, len(ii), chunk):
                ic, jc = ii[cs : cs + chunk], jj[cs : cs + chunk]
                # lowest-band rule: argmax finds the first agreeing band
                first = (bh_mat[ic] == bh_mat[jc]).argmax(axis=1)
                k = first == band[ic]
                ic, jc = ic[k], jc[k]
                if not estimated:
                    k = (sig_mat[ic] == sig_mat[jc]).sum(axis=1) >= min_matches
                    ic, jc = ic[k], jc[k]
                if not len(ic):
                    continue
                uniq, inv = np.unique(np.concatenate((ic, jc)), return_inverse=True)
                hsets = [hset(texts[r]) for r in uniq]
                ns = np.fromiter((h.size for h in hsets), np.int64, len(hsets))
                ca, cb = inv[: len(ic)], inv[len(ic) :]
                inter = _set_intersections(hsets, ca, cb)
                uni = ns[ca] + ns[cb] - inter
                k = inter * 1000 >= threshold_milli * uni
                if k.any():
                    ia, ib = ids[ic[k]], ids[jc[k]]
                    out.append(
                        (np.minimum(ia, ib), np.maximum(ia, ib), inter[k], uni[k])
                    )

        small = sizes <= big_n
        for n in np.unique(sizes[small]):
            st = starts[small & (sizes == n)]
            ti, tj = np.triu_indices(int(n), 1)
            emit(
                (st[:, None] + ti[None, :]).ravel(),
                (st[:, None] + tj[None, :]).ravel(),
                estimated=False,
            )
        for s, n in zip(starts[~small], sizes[~small]):
            s, n = int(s), int(n)
            bsig = sig_mat[s : s + n]
            const_cols = 0
            var_cols: list[np.ndarray] = []
            for p in range(bsig.shape[1]):
                u, inv = np.unique(bsig[:, p], return_inverse=True)
                if len(u) == 1:
                    const_cols += 1
                elif len(u) < n:
                    ct = np.uint8 if len(u) <= 255 else (
                        np.uint16 if len(u) <= 65535 else np.int64
                    )
                    var_cols.append(inv.astype(ct))
            thr = min_matches - const_cols
            for cs in range(0, n, 2048):
                ce = min(cs + 2048, n)
                if thr <= 0:
                    # every collision pair passes the estimate
                    ii, jj = np.nonzero(np.ones((ce - cs, n), dtype=bool))
                else:
                    acc = np.zeros((ce - cs, n), dtype=acc_t)
                    for col in var_cols:
                        acc += col[cs:ce, None] == col[None, :]
                    ii, jj = np.nonzero(acc >= thr)
                keep = jj > (ii + cs)  # strict upper triangle only
                emit(s + cs + ii[keep], s + jj[keep], estimated=True)
        if out:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(v)) for v in zip(*out)], schema.names
            )

    return banded.repartition(F.col("band"), F.col("bh")).mapInArrow(gen, schema)


def _minhash_pairs_core(
    docs: DataFrame, num_perm: int, bands: int, threshold_milli: int, w: int
) -> DataFrame:
    """``docs(id, t)`` → exact-verified near-dup pairs (id_a, id_b,
    inter, uni) with character-shingle Jaccard ≥ threshold_milli/1000
    among the LSH candidates — never the all-pairs inverted index.

    One Arrow signature pass, then the band explode carries each doc's
    text, signature and band-hash array to its ``bands`` buckets, and
    :func:`_bucket_pairs` estimates, verifies and emits every pair where
    it is born: one exchange, no text re-joins, no pair-level distinct.
    The output is exactly {LSH candidate pairs whose signatures agree in
    ≥ ceil((threshold_milli - 150) · num_perm / 1000) positions and whose
    exact Jaccard ≥ threshold}, whatever the corpus vocabulary."""
    sig = _signature_udf(num_perm, w)
    banded = (
        docs.select("id", "t", sig(F.col("t")).alias("sig"))
        .select("id", "t", "sig", _band_hashes("sig", bands, num_perm // bands).alias("bhs"))
        .select("id", "t", "sig", "bhs", F.posexplode("bhs").alias("band", "bh"))
    )
    return _bucket_pairs(banded, num_perm, threshold_milli, w)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold_milli: int = 800,
    w: int = 5,
    collapse_exact: bool = True,
    expand: str = "all",
) -> DataFrame:
    """Full pipeline: **exact-text pre-collapse** → signatures → one
    bucket stage that generates, estimates and exact-verifies LSH
    candidate pairs (:func:`_minhash_pairs_core`) → fan results back
    out through the exact-duplicate groups.  Returns
    (id_a, id_b, inter, uni) verified near-dup pairs; survivors follow
    the min-id rule downstream.

    The pre-collapse (``collapse_exact``, on by default) is the
    hot-bucket defense the 10^12-doc case REQUIRES: n byte-identical
    boilerplate docs have identical signatures, so they land in the
    same (band, hash) bucket in *every* band and the bucket stage would
    see ~n²/2 pairs.  One map-side-combinable aggregate on the sha2-256
    content key (the same key as :func:`exact_dedup`) picks the min-id
    representative of each distinct text and counts its group, and the
    LSH machinery runs on the representatives only — identical docs can
    never inflate a bucket, and the result is identical to the
    un-collapsed pipeline: the pair stack is a pure function of the
    text, so a member pair passes iff its representative pair passes.
    Only multi-member groups are joined back to their member ids.

    ``expand`` controls the fan-out:
      * ``"all"`` — every implied member pair, with (inter, uni) taken
        from the representative pair (within-group pairs get
        inter = uni = |shingle set|).  Output-faithful to the
        un-collapsed pipeline; note the OUTPUT itself is inherently
        quadratic in exact-group size.
      * ``"star"`` — within each exact group emit only (rep, member)
        spanning pairs, and cross-group pairs only between
        representatives: O(n) output with identical connected
        components / dup_groups downstream — the form to use at scale.
    """
    if expand not in ("all", "star"):
        raise ValueError(f"unknown expand mode {expand!r}")
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    if not collapse_exact:
        return _minhash_pairs_core(
            spread(docs, "id"), num_perm, bands, threshold_milli, w
        )
    content = F.sha2(F.coalesce(F.col("t"), F.lit("")), 256).alias("_h")
    groups = docs.groupBy(content).agg(
        F.min("id").alias("rep_id"),
        F.min_by("t", "id").alias("t"),
        F.count(F.lit(1)).alias("_gn"),
    )
    rep_pairs = _minhash_pairs_core(
        groups.select(F.col("rep_id").alias("id"), "t"),
        num_perm, bands, threshold_milli, w,
    )
    # members of multi-member groups only, each with its group's
    # |shingle set| (the inter = uni of every within-group pair)
    multi = groups.filter(F.col("_gn") > 1).select(
        "_h",
        "rep_id",
        F.size(shingles(F.coalesce(F.col("t"), F.lit("")), w)).cast("long").alias("_ss"),
    )
    members = docs.select(F.col("id").alias("_x"), content).join(multi, "_h")
    if expand == "star":
        within = members.filter(F.col("_x") != F.col("rep_id")).select(
            F.col("rep_id").alias("id_a"),
            F.col("_x").alias("id_b"),
            F.col("_ss").alias("inter"),
            F.col("_ss").alias("uni"),
        )
        return rep_pairs.unionByName(within)
    # a multi-member group's within pairs are the fan-out of its
    # (rep, rep) self pair, so ONE pair of member joins (both sides the
    # same exchange) expands the cross and within pairs together
    self_pairs = multi.select(
        F.col("rep_id").alias("id_a"),
        F.col("rep_id").alias("id_b"),
        F.col("_ss").alias("inter"),
        F.col("_ss").alias("uni"),
    )
    m = members.select("rep_id", "_x")
    xa = F.coalesce("ma._x", "p.id_a")
    xb = F.coalesce("mb._x", "p.id_b")
    return (
        rep_pairs.unionByName(self_pairs)
        .alias("p")
        .join(m.alias("ma"), F.col("p.id_a") == F.col("ma.rep_id"), "left")
        .join(m.alias("mb"), F.col("p.id_b") == F.col("mb.rep_id"), "left")
        .filter((F.col("p.id_a") != F.col("p.id_b")) | (xa < xb))
        .select(
            F.least(xa, xb).alias("id_a"),
            F.greatest(xa, xb).alias("id_b"),
            "p.inter",
            "p.uni",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over ASCII-whitespace tokens (Arrow-batched).

    Per document the token hashing is the vectorized prefix-product
    polynomial hash (`_token_hashes`) and the bit votes are one
    (tokens × bits) matrix op — the same zero-per-token-Python shape as
    `minhash_signatures`."""

    @F.pandas_udf(T.LongType())
    def sig(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        shifts = np.arange(bits, dtype=np.uint64)
        for i, t in enumerate(texts):
            arr = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
            hv = _token_hashes(arr)
            if not len(hv):
                continue
            bitcols = ((hv[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (2 * bitcols - 1).sum(axis=0)
            word = np.bitwise_or.reduce(
                np.uint64(1) << shifts[votes > 0], initial=np.uint64(0)
            )
            out[i] = np.int64(word & np.uint64(0x7FFFFFFFFFFFFFFF))
        return pd.Series(out)

    df = spread(df, id_col)
    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    collapse_identical: bool = True,
    expand: str = "all",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs within Hamming distance via block banding,
    verified with native bit_count (Spark 3.5+).

    The signature is split into ``max_hamming + 1`` near-equal bit
    blocks — by pigeonhole, any pair ≤ max_hamming bits apart shares at
    least one full block, so recall is GUARANTEED at the requested
    radius (a fixed 4-block split only guarantees hamming ≤ 3).

    ``collapse_identical`` (default on) is the hot-bucket defense:
    identical texts hash to identical signatures, which collide in
    EVERY block — n boilerplate copies would put n ids in the same
    bucket per block and the self-join would emit ~blocks·n²/2 pairs.
    Collapsing to one representative per distinct signature first
    (min id — stricter than, and subsuming, exact-text identity) runs
    the banding join over distinct signatures only, then fans results
    back out: ``expand="all"`` reproduces every implied member pair
    (hamming 0 within a signature group — output-faithful to the
    un-collapsed join, though the output itself is quadratic in group
    size); ``expand="star"`` emits (rep, member) spanning pairs within
    groups and rep-level pairs across — O(n) output with identical
    connected components downstream.  ``bucket_cap`` drops residual
    oversized buckets (distinct-but-near-identical template families);
    see :func:`_cap_buckets`."""
    if expand not in ("all", "star"):
        raise ValueError(f"unknown expand mode {expand!r}")
    if collapse_identical:
        reps = sigs.groupBy("simhash").agg(F.min("id").alias("id"))
        mapping = sigs.join(
            reps.select("simhash", F.col("id").alias("rep_id")), "simhash"
        ).select("id", "rep_id").persist()
        rep_pairs = simhash_near_pairs(
            reps.select("id", "simhash"),
            max_hamming,
            collapse_identical=False,
            bucket_cap=bucket_cap,
        )
        if expand == "star":
            within = mapping.filter(F.col("id") != F.col("rep_id")).select(
                F.col("rep_id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
            return rep_pairs.unionByName(within)
        ma = mapping.select(F.col("id").alias("_xa"), F.col("rep_id").alias("id_a"))
        mb = mapping.select(F.col("id").alias("_xb"), F.col("rep_id").alias("id_b"))
        cross = (
            rep_pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("_xa", "_xb").alias("id_a"),
                F.greatest("_xa", "_xb").alias("id_b"),
                "hamming",
            )
        )
        w1 = mapping.select("rep_id", F.col("id").alias("_xa"))
        w2 = mapping.select("rep_id", F.col("id").alias("_xb"))
        within = (
            w1.join(w2, "rep_id")
            .filter(F.col("_xa") < F.col("_xb"))
            .select(
                F.col("_xa").alias("id_a"),
                F.col("_xb").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        return cross.unionByName(within)
    n_blocks = min(max_hamming + 1, 64)
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = np.concatenate(([0], np.cumsum(widths[:-1]))).tolist()
    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", int(off)).bitwiseAND(
                        # width 64 (max_hamming=0): (1<<64)-1 overflows
                        # LongType — -1 is the all-ones long
                        F.lit((1 << wid) - 1 if wid < 64 else -1)
                    )
                    for off, wid in zip(offsets, widths)
                ]
            )
        ).alias("blk", "bval"),
    )
    if bucket_cap is not None:
        blocks = _cap_buckets(blocks, ["blk", "bval"], bucket_cap)
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["blk", "bval"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.alias("hamming")
    )


# ---------------------------------------------------------------------------
# Connected components (pairs → canonical duplicate groups)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    method: str = "propagation",
) -> DataFrame:
    """Label every node of the near-dup pair graph with the MINIMUM id
    reachable from it — the canonical duplicate-group id.  Returns
    (id, comp); survivors downstream are the rows with ``id == comp``.

    The last step of a web-scale dedup pipeline: LSH/verify emits
    PAIRS, but retention decisions need GROUPS (a doc duplicated 3 ways
    must keep exactly one copy, not one per pair).  The reference has
    no graph step (its duplicate handling is per-scene first-wins,
    `eodal/mapper/mapper.py:565-667`); this generalizes it to
    transitive duplicate chains.

    Algorithm: minimum-label propagation over the undirected edge set —
    each round joins current labels across edges and takes the
    neighborhood minimum (agg form → map-side combine; the shuffle key
    is the node id, so a 10^9-member boilerplate component costs
    rounds × |edges of the component| with NO single-task hotspot).
    Rounds needed = graph diameter (near-dup components are shallow —
    duplicate clusters, not social graphs); each round is checked via
    one count of changed labels and the loop stops early on
    convergence.  Raises after ``max_iters`` rather than returning a
    silently-partial labeling.  ≡ the label-propagation formulation of
    Kiveris et al.'s "Connected Components in MapReduce" (two-phase
    star contractions are the O(log n)-round upgrade; the propagation
    form is exact and simpler, and shallow graphs never see the
    difference).

    ``method="star"`` switches to the two-phase large-star/small-star
    contraction (`_connected_components_star`) — O(log n) rounds on
    high-diameter graphs where propagation needs O(diameter).
    """
    if method == "star":
        return _connected_components_star(pairs, max_iters, id_a, id_b)
    if method != "propagation":
        raise ValueError(f"unknown method {method!r}")
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        # truncate the PAIR-PRODUCING lineage once: every round joins
        # against `edges` and runs one convergence count, so without
        # this the upstream pair pipeline (LSH + verify for minhash
        # input) re-executes 2× PER ROUND — measured 50 s → 12 s for
        # dup_groups over 50k bench docs (guide §5 localCheckpoint)
        .localCheckpoint(eager=False)
    )
    # every endpoint starts labeled with itself
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        # truncate lineage each round — an iterative plan otherwise
        # doubles in depth per iteration and analysis cost explodes
        new_labels = _min_label_round(edges, labels).localCheckpoint(
            eager=True
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "the pair graph has a longer chain than expected; raise max_iters"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation (Kiveris et al., "Connected Components
    in MapReduce and Beyond", alg. 1): every node u links each STRICTLY
    LARGER neighbor to the minimum of its closed neighborhood.  Input/
    output edges are canonically oriented (u > v); agg-shaped (groupBy
    min + equi-join), no windows, no driver state."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: orient edges larger→smaller; every
    node links its smaller neighbors (and itself) to their minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(mins, "u")
    return (
        joined.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def _connected_components_star(
    pairs: DataFrame, max_iters: int, id_a: str, id_b: str
) -> DataFrame:
    """Two-phase star contraction: alternate large-star / small-star
    until the edge set is a fixed point — at which point the edges ARE
    disjoint stars centered on each component's minimum id.  Converges
    in O(log n) alternations on ANY graph (vs O(diameter) for label
    propagation), so a 10⁴-node path needs ~log rounds, not 10⁴.
    Same output contract as `connected_components`: (id, comp)."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        ss = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        converged = (
            ss.count() == edges.count() and ss.exceptAll(edges).isEmpty()
        )
        edges = ss
        if converged:
            leaves = edges.select(
                F.col("u").alias("id"), F.col("v").alias("comp")
            )
            roots = (
                edges.select(F.col("v").alias("id"))
                .distinct()
                .withColumn("comp", F.col("id"))
            )
            # nodes appearing ONLY in self-pairs were dropped by the
            # u != v filter; propagation labels them with themselves —
            # keep the two methods' (id, comp) contracts identical
            self_only = (
                pairs.filter(F.col(id_a) == F.col(id_b))
                .select(F.col(id_a).alias("id"))
                .withColumn("comp", F.col("id"))
            )
            # a star fixed point has one root per leaf; the min-agg is a
            # cheap invariant guard, not a correctness crutch
            return leaves.union(roots).union(self_only).groupBy("id").agg(
                F.min("comp").alias("comp")
            )
    raise RuntimeError(
        f"star contraction did not converge in {max_iters} rounds — "
        "raise max_iters"
    )


def _min_label_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label propagation round, un-checkpointed — separate so
    tests can assert it is agg-shaped (no Window) on the real plan;
    neighbor labels: for node u, the labels of all v adjacent to u."""
    nbr = edges.join(labels.withColumnRenamed("id", "v"), "v").select(
        F.col("u").alias("id"), "comp"
    )
    return labels.union(nbr).groupBy("id").agg(F.min("comp").alias("comp"))


def dup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, group_id) for EVERY document: members of a near-dup
    component share its minimum doc id; singletons are their own group.
    ``df.filter(doc_id == group_id)`` is then the retention set."""
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("group_id"),
        )
    )
